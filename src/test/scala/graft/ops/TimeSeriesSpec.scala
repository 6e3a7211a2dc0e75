package graft.ops

import java.sql.{Date, Timestamp}

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

class TimeSeriesSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  def ts(s: String) = Timestamp.valueOf(s)

  test("resampleDailyFfill: dense spine, last-of-day wins, gaps forward-filled") {
    val ev = Seq(
      (1L, ts("2024-01-01 08:00:00"), 10.0),
      (1L, ts("2024-01-01 20:00:00"), 11.0),  // later same day -> wins
      (1L, ts("2024-01-04 09:00:00"), 40.0),  // 2-day gap before
      (2L, ts("2024-01-02 12:00:00"), 99.0)
    ).toDF("user_id", "ts", "value")
    val out = TimeSeries.resampleDailyFfill(ev, "user_id", "ts", "value")
      .orderBy("user_id", "day").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Date]("day").toString,
        r.getAs[Double]("value_ffill"), r.getAs[Boolean]("is_observed")))
    assert(out.toSeq == Seq(
      (1L, "2024-01-01", 11.0, true),
      (1L, "2024-01-02", 11.0, false),  // filled
      (1L, "2024-01-03", 11.0, false),  // filled
      (1L, "2024-01-04", 40.0, true),
      (2L, "2024-01-02", 99.0, true)))  // single-day key: spine is one row
  }

  test("resampleDailyFfill: equal-timestamp ties resolve to the larger value, deterministically") {
    val ev = Seq(
      (1L, ts("2024-01-01 08:00:00"), 3.0),
      (1L, ts("2024-01-01 08:00:00"), 7.0)
    ).toDF("user_id", "ts", "value")
    val out = TimeSeries.resampleDailyFfill(ev, "user_id", "ts", "value").collect()
    assert(out.length == 1 && out(0).getAs[Double]("value_ffill") == 7.0)
  }

  test("trend: slope/r2/n match first-principles OLS; single-day key yields NULL slope") {
    // key 1: y = 2x + 5 exactly (days 0,1,2 from origin) -> slope 2, r2 1
    // key 2: non-collinear points -> recompute OLS by hand
    // key 3: one distinct day -> zero x variance -> NULL slope/r2
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 5.0),
      (1L, ts("2024-01-02 10:00:00"), 7.0),
      (1L, ts("2024-01-03 10:00:00"), 9.0),
      (2L, ts("2024-01-01 00:00:00"), 1.0),
      (2L, ts("2024-01-02 00:00:00"), 5.0),
      (2L, ts("2024-01-04 00:00:00"), 4.0),
      (3L, ts("2024-01-05 01:00:00"), 8.0),
      (3L, ts("2024-01-05 23:00:00"), 2.0)
    ).toDF("user_id", "ts", "value")
    val out = TimeSeries.trend(ev, "user_id", "ts", "value")
      .orderBy("user_id").collect()

    def ols(pts: Seq[(Double, Double)]): (Double, Double) = {
      val n = pts.size
      val (mx, my) = (pts.map(_._1).sum / n, pts.map(_._2).sum / n)
      val sxy = pts.map { case (x, y) => (x - mx) * (y - my) }.sum
      val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
      val syy = pts.map { case (_, y) => (y - my) * (y - my) }.sum
      (sxy / sxx, sxy * sxy / (sxx * syy))
    }
    val r1 = out(0)
    assert(math.abs(r1.getAs[Double]("slope") - 2.0) < 1e-9)
    assert(math.abs(r1.getAs[Double]("r2") - 1.0) < 1e-9)
    assert(r1.getAs[Long]("n") == 3L)
    val (s2, q2) = ols(Seq((0.0, 1.0), (1.0, 5.0), (3.0, 4.0)))
    val r2 = out(1)
    assert(math.abs(r2.getAs[Double]("slope") - s2) < 1e-9)
    assert(math.abs(r2.getAs[Double]("r2") - q2) < 1e-9)
    // exact-cents mean, HALF_UP at 4 places: 10/3 -> 3.3333
    assert(math.abs(r2.getAs[Double]("mean_value") - 3.3333) < 1e-9)
    val r3 = out(2)
    assert(r3.isNullAt(r3.fieldIndex("slope")) && r3.getAs[Long]("n") == 2L)
  }

  test("seasonalProfile: known-answer cells, index 1.0 for flat hours, weighted key mean") {
    // key A: hour 0 runs at 10 (2 obs), hour 1 at 30 (1 obs)
    //   key mean = (10*2 + 30*1)/3 = 50/3; idx(h0)=10/(50/3)=0.6, idx(h1)=1.8
    // key B: flat 7s in two different hours -> both indices exactly 1.0
    val rows = Seq(
      ("A", Timestamp.valueOf("2024-01-01 00:10:00"), 10.0),
      ("A", Timestamp.valueOf("2024-01-02 00:50:00"), 10.0),
      ("A", Timestamp.valueOf("2024-01-01 01:10:00"), 30.0),
      ("B", Timestamp.valueOf("2024-01-01 03:00:00"), 7.0),
      ("B", Timestamp.valueOf("2024-01-01 04:00:00"), 7.0)).toDF("k", "ts", "v")
    val out = TimeSeries.seasonalProfile(rows, "ts", "v", Seq("k"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(("A", 0)) == ((2L, 10.0, 0.6)))
    assert(out(("A", 1)) == ((1L, 30.0, 1.8)))
    assert(out(("B", 3)) == ((1L, 7.0, 1.0)))
    assert(out(("B", 4)) == ((1L, 7.0, 1.0)))
  }

  test("acf: zero-event calendar days are real observations (densify regression)") {
    // one group, daily counts 2,1,0,3 over four consecutive days — day 3
    // has NO events and must enter the series as x = 0, not vanish.
    // μ = 1.5, devs (0.5,−0.5,−1.5,1.5), ss = 5:
    //   r1 = (−0.25+0.75−2.25)/5 = −0.35 over 3 pairs (two span the gap)
    //   r2 = (−0.75−0.75)/5     = −0.30 over 2 pairs
    //   r3 = 0.75/5             =  0.15 over 1 pair
    val ev = Seq(
      ("g", ts("2024-01-01 01:00:00")), ("g", ts("2024-01-01 02:00:00")),
      ("g", ts("2024-01-02 01:00:00")),
      ("g", ts("2024-01-04 01:00:00")), ("g", ts("2024-01-04 02:00:00")),
      ("g", ts("2024-01-04 03:00:00"))
    ).toDF("grp", "ts")
    val got = TimeSeries.acf(ev, "grp", "ts", maxLag = 3)
      .orderBy("lag").collect()
      .map(r => (r.getAs[Int]("lag"), r.getAs[Double]("acf"), r.getAs[Long]("n_pairs")))
    assert(got.toSeq == Seq((1, -0.35, 3L), (2, -0.3, 2L), (3, 0.15, 1L)))
  }

  test("meanShiftChangepoint: planted shift found at the exact split, hand-scored") {
    // daily counts 1,1,5,5 — the t=2 split scores |1−5|·√(2·2/4) = 4,
    // strictly above both one-sided splits (2.3094)
    val rows = Seq(1, 1, 5, 5).zipWithIndex.flatMap { case (k, d) =>
      (0 until k).map(i => ("g", ts(s"2024-02-0${d + 1} 0$i:00:00")))
    }
    val got = TimeSeries.meanShiftChangepoint(rows.toDF("grp", "ts"), "grp", "ts")
      .collect().map(r => (r.getAs[Date]("split_day").toString,
        r.getAs[Long]("n_days"), r.getAs[Double]("mean_before"),
        r.getAs[Double]("mean_after"), r.getAs[Double]("score")))
    assert(got.toSeq == Seq(("2024-02-02", 4L, 1.0, 5.0, 4.0)))
  }

  test("interarrivalStats: hand-computed gaps, single-event series drop out") {
    // user 1 / type x at t = 0s, 10s, 40s → gaps 10s, 30s:
    //   mean 20, p50 = 20 (interpolated), p95 = 29, max 30
    // user 1 / type y has ONE event → no gap row, type y absent.
    // user 2 / type x gaps must NOT mix into user 1's series: one 5s gap
    // pulls the type-x aggregate to n=3, mean 15.
    val ev = Seq(
      (1L, 1L, "x", ts("2024-01-01 00:00:00")),
      (2L, 1L, "x", ts("2024-01-01 00:00:10")),
      (3L, 1L, "x", ts("2024-01-01 00:00:40")),
      (4L, 1L, "y", ts("2024-01-01 00:00:00")),
      (5L, 2L, "x", ts("2024-01-01 09:00:00")),
      (6L, 2L, "x", ts("2024-01-01 09:00:05"))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val got = TimeSeries.interarrivalStats(ev,
        Seq("user_id", "event_type"), "event_type", "ts", "event_id")
      .orderBy("event_type").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_gaps"),
        r.getAs[Double]("mean_gap_s"), r.getAs[Double]("p50_gap_s"),
        r.getAs[Double]("p95_gap_s"), r.getAs[Double]("max_gap_s")))
    assert(got.toSeq == Seq(("x", 3L, 15.0, 10.0, 28.0, 30.0)))
  }

  test("ewma: hand-computed adjusted weights, hard lookback, per-key isolation") {
    // key A values 1,2,4 at α=0.3 (adjusted):
    //   row1 = 1
    //   row2 = (0.7·1 + 2) / (0.7 + 1)            = 1.5882352941…
    //   row3 = (0.49·1 + 0.7·2 + 4) / (0.49+0.7+1) = 2.6894977169…
    val ev = Seq(
      ("A", ts("2024-01-01 00:00:00"), 1L, 1.0),
      ("A", ts("2024-01-01 01:00:00"), 2L, 2.0),
      ("A", ts("2024-01-01 02:00:00"), 3L, 4.0),
      ("B", ts("2024-01-01 00:30:00"), 4L, 100.0) // must not bleed into A
    ).toDF("k", "ts", "id", "v")
    def run(lookback: Int) = TimeSeries
      .ewma(ev, Seq("k"), Seq("ts", "id"), "v", alpha = 0.3, lookback = lookback)
      .orderBy("id").collect().map(r => math.round(r.getAs[Double]("ewma") * 1e6) / 1e6)
    assert(run(20).toSeq == Seq(1.0, 1.588235, 2.689498, 100.0))
    // lookback 2 truncates row3's frame to [2,4]: (0.7·2 + 4) / 1.7
    assert(run(2).toSeq == Seq(1.0, 1.588235, 3.176471, 100.0))
    // α = 1 ignores history entirely
    val raw = TimeSeries.ewma(ev, Seq("k"), Seq("ts", "id"), "v", alpha = 1.0)
      .orderBy("id").collect().map(_.getAs[Double]("ewma"))
    assert(raw.toSeq == Seq(1.0, 2.0, 4.0, 100.0))
    intercept[IllegalArgumentException](
      TimeSeries.ewma(ev, Seq("k"), Seq("ts"), "v", alpha = 0.0))
    intercept[IllegalArgumentException](
      TimeSeries.ewma(ev, Seq("k"), Seq("ts"), "v", lookback = 0))
  }
}
