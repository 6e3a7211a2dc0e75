package graft.ops

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** First-principles fixtures for the hypothesis-test aggregates: every
  * expected number below is hand-computed from the textbook formulas
  * (Welch 1947; Pearson 1900), independent of both engines.
  */
class StatsSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("welchPairs: hand-computed t, Welch–Satterthwaite df, significance") {
    // A = {1,2,3,4}: n 4, mean 2.5, s² 5/3.   B = {2,4,6,8,10}: n 5,
    // mean 6, s² 10.  sa = 5/12, sb = 2:
    //   t  = −3.5/√(29/12)          = −2.2514
    //   df = (29/12)² / ((5/12)²/3 + 4/4) = 5.52
    val df = (Seq.fill(1)(1.0) ++ Seq(2.0, 3.0, 4.0)).map(("A", _)) ++
      Seq(2.0, 4.0, 6.0, 8.0, 10.0).map(("B", _))
    val got = Stats.welchPairs(df.toDF("grp", "v"), "grp", "v").collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("group_a") == "A" && r.getAs[String]("group_b") == "B")
    assert(r.getAs[Long]("n_a") == 4L && r.getAs[Long]("n_b") == 5L)
    assert(r.getAs[Double]("mean_a") == 2.5 && r.getAs[Double]("mean_b") == 6.0)
    assert(r.getAs[Double]("t_stat") == -2.2514)
    assert(r.getAs[Double]("df_welch") == 5.52)
    assert(r.getAs[Boolean]("significant"))
  }

  test("welchPairs: every pair, lexical orientation, k(k-1)/2 rows") {
    val df = Seq("a", "b", "c").flatMap(g => (1 to 4).map(i => (g, i.toDouble)))
    val got = Stats.welchPairs(df.toDF("grp", "v"), "grp", "v")
      .collect().map(r => (r.getAs[String]("group_a"), r.getAs[String]("group_b")))
    assert(got.toSet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    // identical distributions: t = 0, never significant
    val t0 = Stats.welchPairs(df.toDF("grp", "v"), "grp", "v")
      .collect().map(_.getAs[Double]("t_stat"))
    assert(t0.forall(_ == 0.0))
  }

  test("chiSquare: hand-computed 2x2 with all expecteds 15") {
    // counts (0,x)=10 (0,y)=20 (1,x)=20 (1,y)=10; margins all 30, n 60,
    // e = 15 everywhere: chi2 = 4·25/15 = 6.6667, dof 1,
    // V = sqrt(6.6667/60) = 0.3333
    val rows =
      Seq.fill(10)(("0", "x")) ++ Seq.fill(20)(("0", "y")) ++
      Seq.fill(20)(("1", "x")) ++ Seq.fill(10)(("1", "y"))
    val r = Stats.chiSquare(rows.toDF("r", "c"), "r", "c").collect().head
    assert(r.getAs[Double]("chi2") == 6.6667)
    assert(r.getAs[Long]("dof") == 1L)
    assert(r.getAs[Long]("n") == 60L)
    assert(r.getAs[Double]("cramers_v") == 0.3333)
  }

  test("chiSquare: independent margins give chi2 = 0") {
    // perfectly proportional table: o = e in every cell
    val rows =
      Seq.fill(10)(("0", "x")) ++ Seq.fill(20)(("0", "y")) ++
      Seq.fill(20)(("1", "x")) ++ Seq.fill(40)(("1", "y"))
    val r = Stats.chiSquare(rows.toDF("r", "c"), "r", "c").collect().head
    assert(r.getAs[Double]("chi2") == 0.0)
    assert(r.getAs[Double]("cramers_v") == 0.0)
  }

  test("distributionDivergence: hand-computed mirrored 2-category split") {
    // P = {a: 3/4, b: 1/4}, Q = {a: 1/4, b: 3/4}:
    //   KL(P‖Q) = KL(Q‖P) = ½·ln 3 = 0.549306
    //   JS = 0.130812 (< ln 2, symmetric)
    val p = (Seq.fill(3)("a") ++ Seq.fill(1)("b")).toDF("cat")
    val q = (Seq.fill(1)("a") ++ Seq.fill(3)("b")).toDF("cat")
    val r = Stats.distributionDivergence(p, q, "cat").collect().head
    assert(r.getAs[Long]("n_categories") == 2L)
    assert(r.getAs[Double]("kl_pq") == 0.549306)
    assert(r.getAs[Double]("kl_qp") == 0.549306)
    assert(r.getAs[Double]("js") == 0.130812)
  }

  test("distributionDivergence: identical slices diverge by zero") {
    val p = Seq("a", "a", "b", "c").toDF("cat")
    val r = Stats.distributionDivergence(p, p, "cat").collect().head
    assert(r.getAs[Double]("kl_pq") == 0.0)
    assert(r.getAs[Double]("kl_qp") == 0.0)
    assert(r.getAs[Double]("js") == 0.0)
  }

  test("distributionDivergence: a category absent from one side stays finite (eps clamp)") {
    val p = Seq("a", "b").toDF("cat")
    val q = Seq("a", "a").toDF("cat")
    val r = Stats.distributionDivergence(p, q, "cat").collect().head
    assert(r.getAs[Long]("n_categories") == 2L)
    assert(!r.getAs[Double]("kl_pq").isInfinite && r.getAs[Double]("kl_pq") > 0)
    // JS is bounded by ln 2 even with the clamp
    assert(r.getAs[Double]("js") <= math.log(2) + 1e-9)
  }

  test("centsMean4: half-tie means round HALF_UP from the exact cents sum, " +
      "the same at 1 and at 7 partitions") {
    // exact means on a 4-place half-tie: 1,758,321 cents / 72 rows =
    // 244.21125; 30,392,400 / 3,200 = 94.97625; -1 / 8 = -0.00125 (away
    // from zero); a group with no non-null value has no mean
    val r = new java.util.SplittableRandom(11)
    def tie(g: String, n: Int, totalCents: Long): Seq[(String, Option[Double])] = {
      val head = Seq.fill(n - 1)(r.nextLong(1, 49000))
      (head :+ (totalCents - head.sum)).map(c => (g, Some(c / 100.0)))
    }
    val rows = tie("a", 72, 1758321L) ++ tie("b", 3200, 30392400L) ++
      (-0.01 +: Seq.fill(7)(0.0)).map(v => ("c", Some(v))) ++ Seq(("d", None))
    val want = Map("a" -> Some(244.2113), "b" -> Some(94.9763), "c" -> Some(-0.0013), "d" -> None)
    for (parts <- Seq(1, 7)) {
      val got = rows.toDF("g", "v").repartition(parts)
        .groupBy("g").agg(Stats.centsMean4(col("v")).as("m"))
        .collect().map(x => x.getString(0) -> Option(x.get(1)).map(_.asInstanceOf[Double])).toMap
      assert(got == want, s"at $parts partitions")
    }
  }
}
