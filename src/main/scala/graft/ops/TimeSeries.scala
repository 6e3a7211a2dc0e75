package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization: resample an irregular event stream onto a
  * per-key daily grid and forward-fill gaps — the feature-engineering
  * step that turns event logs into fixed-frequency model inputs
  * (north-star surface; the reference's closest shape is the Method-2
  * date-window extract, `Template-to-MySQL/BigQuery-to-MySQL-Method-2
  * .py:58`, which filters but never regularizes).
  */
object TimeSeries {

  /** Daily resample + forward fill. Per key: (1) keep the LAST
    * observation of each day (row_number over ts desc, value desc — the
    * value tiebreak keeps selection deterministic under equal
    * timestamps); (2) explode the key's min..max day span into a dense
    * spine; (3) left-join observations and carry the last non-null value
    * forward (`last(ignoreNulls)` over an unbounded-preceding window).
    *
    * Scale: everything is keyed by `keyCol` — one shuffle, reused by the
    * dedup window, the spine aggregate, the join, and the fill window
    * (co-partitioned stages). Each window partition holds one key's DAYS
    * (span-bounded, ~10³ for years of data), never the raw events, so no
    * single-partition serialization at any corpus size. Spine width is
    * span × keys — dense by construction, the operator's stated output.
    */
  def resampleDailyFfill(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String): DataFrame = {
    val wDay = Window.partitionBy(col(keyCol), col("day"))
      .orderBy(col(tsCol).desc, col(valueCol).desc)
    val daily = df
      .withColumn("day", to_date(col(tsCol)))
      .withColumn("__rn", row_number().over(wDay))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col("day"), col(valueCol).as("__obs"))
    val spine = daily.groupBy(col(keyCol))
      .agg(min("day").as("__d0"), max("day").as("__d1"))
      .select(col(keyCol), explode(sequence(col("__d0"), col("__d1"))).as("day"))
    val wFill = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq(keyCol, "day"), "left")
      .select(col(keyCol), col("day"),
        last("__obs", ignoreNulls = true).over(wFill).as("value_ffill"),
        col("__obs").isNotNull.as("is_observed"))
  }

  /** Per-key OLS trend of `valueCol` over event time: slope (units/day),
    * r², pair count, and mean value — the "is this metric drifting"
    * panel, one aggregation pass via Spark's linear-regression aggregates
    * (`regr_slope`/`regr_r2`, covariance-based single-pass forms).
    *
    * The regressor is WHOLE DAYS since `origin` (integer datediff, then
    * cast) — exactly representable, so cross-engine oracle comparison
    * sees bit-identical inputs and differs only in summation order; and
    * the day-granularity slope is the operationally meaningful
    * units-per-day number. Keys with a single distinct day have zero x
    * variance: slope/r² are NULL there (kept — the caller decides).
    *
    * `mean_value` is [[Stats.centsMean4]]: the value column holds cents,
    * and its exact 4-place mean rounds a half-tie the same at any
    * partitioning.
    *
    * Scale: one hash aggregation keyed by `keyCol` with map-side partial
    * combine — constant state per key (the five regression moments), no
    * window, no sort.
    */
  def trend(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      origin: String = "2024-01-01"): DataFrame = {
    val x = datediff(col(tsCol).cast("date"), to_date(lit(origin))).cast("double")
    df.withColumn("__x", x)
      .groupBy(col(keyCol))
      .agg(
        regr_slope(col(valueCol), col("__x")).as("slope"),
        regr_r2(col(valueCol), col("__x")).as("r2"),
        regr_count(col(valueCol), col("__x")).as("n"),
        Stats.centsMean4(col(valueCol)).as("mean_value"))
  }

  /** Hour-of-day seasonal profile per key: for each (key, hour 0–23)
    * cell, the observation count, mean value, and seasonal index
    * (cell mean ÷ the key's overall mean — >1 means that hour runs hot).
    * The shape behind load normalization and seasonally-adjusted anomaly
    * thresholds.
    *
    * One hash aggregate over the events (map-side partial), then a
    * key-partitioned window over the ≤24-row-per-key profile — the wide
    * data is touched once; the window sees only profile rows. The key
    * overall mean is the n-weighted mean of the cell means (≡ the plain
    * mean of the raw values).
    */
  def seasonalProfile(
      df: DataFrame,
      tsCol: String,
      valueCol: String,
      keyCols: Seq[String]): DataFrame = {
    val cells = df
      .groupBy((keyCols.map(col) :+ hour(col(tsCol)).as("hour_of_day")): _*)
      .agg(count(lit(1)).as("n"), avg(col(valueCol)).as("__mean"))
    val w = Window.partitionBy(keyCols.map(col): _*)
    cells
      .withColumn("__key_mean", sum(col("__mean") * col("n")).over(w) / sum("n").over(w))
      .withColumn("mean_value", round(col("__mean"), 4))
      .withColumn("seasonal_index", round(col("__mean") / col("__key_mean"), 4))
      .drop("__mean", "__key_mean")
  }

  /** Trailing exponentially-weighted moving average per key — the
    * smoothing primitive behind drift baselines and online anomaly
    * thresholds. Adjusted weighting (the standard `ewm(adjust=true)`
    * definition): at row n,
    * `ewma_n = Σ_{k=0..K-1} (1−α)^k · x_{n−k}  /  Σ_{k=0..K-1} (1−α)^k`
    * over the `lookback`-row trailing window (K = min(lookback, rows so
    * far)), so early rows normalize by their own partial weight mass
    * instead of decaying toward 0.
    *
    * The HARD `lookback` truncation is the scale contract: a full-history
    * EWMA needs either a sequential scan per key (single-task windows for
    * hot keys) or `pow` terms that overflow at row counts a 100 TB key
    * can reach; truncating at K rows drops weight mass `(1−α)^K` (< 1e-3
    * at the 20/0.3 defaults — below the 1e-6 output rounding at double
    * precision) and keeps the frame bounded whatever the key's history.
    * The window partitions by the key columns — group count grows with
    * the data (user×type here), never a handful of giant partitions —
    * and the weighted sum is `transform`+`aggregate` higher-order
    * functions over the ≤K-element frame list: codegen'd, no UDF.
    */
  /** Lag-k autocorrelation (ACF) of each group's daily event-count
    * series, lags `1..maxLag`: `r_k = Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)²`
    * with the global series mean μ (the standard biased estimator —
    * Box & Jenkins). Counts (not value sums) make every input integer,
    * so both engines see bit-identical devs.
    *
    * The series is LOGICALLY densified over each group's
    * [min day, max day] span: a calendar day with zero events is a real
    * observation (x = 0), not a missing row — without it, lag pairs
    * spanning quiet days silently vanish and r_k is biased high for
    * sparse groups. The zero days are never MATERIALIZED, though: their
    * contribution is closed-form (each contributes dev = −μ), so the
    * densified moments decompose over the SPARSE rows plus algebraic
    * correction terms. With span D = d1−d0+1 days, S observed days,
    * total T = Σx and μ = T/D:
    *   ss    = Σ_sparse (x−μ)² + (D−S)·μ²
    *   num_k = Σ_{both nonzero} x_t·x_{t+k}
    *           − μ·(T − tail_k) − μ·(T − head_k) + (D−k)·μ²
    * where head_k / tail_k are the observed mass on the first / last k
    * days of the span (the pairs that fall off the series edge), from
    * expanding (x_t−μ)(x_{t+k}−μ) and summing each term over the full
    * grid. n_pairs = D−k exactly (every grid day pairs with its lag-k
    * successor inside the span).
    *
    * Scale: the raw stream collapses to a SPARSE (group × active-day)
    * count aggregate first — everything after runs on that frame, never
    * the events and never a dense grid (a years-long span of a nearly
    * quiet group costs nothing). Per-group stats are group-sized
    * (broadcast); the cross term is ONE equi-join of the sparse series
    * to itself on (group, day+lag) after a maxLag-way explode — keyed
    * shuffle, no window over an unpartitioned series, no driver collect.
    */
  def acf(
      df: DataFrame,
      groupCol: String,
      tsCol: String,
      maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1: $maxLag")
    val counted = df
      .groupBy(col(groupCol).as("g"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
      .localCheckpoint() // feeds stats, ss, edges and BOTH cross-join sides
    val stats = counted.groupBy("g")
      .agg(min("day").as("d0"), max("day").as("d1"),
        sum("x").as("tot"), count(lit(1)).as("n_obs"))
      .withColumn("n_days", (datediff(col("d1"), col("d0")) + 1).cast("double"))
      .withColumn("mu", col("tot") / col("n_days"))
    // denominator: sparse Σ(x−μ)² plus μ² for each of the D−S zero days
    val denom = counted.join(broadcast(stats), Seq("g"))
      .groupBy("g", "mu", "n_days", "n_obs")
      .agg(sum((col("x") - col("mu")) * (col("x") - col("mu"))).as("__ssnz"))
      .select(col("g"),
        (col("__ssnz") + (col("n_days") - col("n_obs")) * col("mu") * col("mu"))
          .as("ss"))
    val lags = array((1 to maxLag).map(lit): _*)
    // cross term: only pairs where BOTH days are observed contribute x·x'
    val xx = counted
      .withColumn("lag", explode(lags))
      .withColumn("day2", date_add(col("day"), col("lag")))
      .join(counted.select(col("g"), col("day").as("day2"), col("x").as("x2")),
        Seq("g", "day2"))
      .groupBy("g", "lag")
      .agg(sum(col("x") * col("x2")).as("sxx"))
    // edge mass: observed x on the first / last `lag` days of the span
    // (the rows a lag-k pair sum excludes at the series boundary)
    val edges = counted.join(broadcast(stats), Seq("g"))
      .withColumn("lag", explode(lags))
      .groupBy("g", "lag")
      .agg(
        sum(when(datediff(col("day"), col("d0")) < col("lag"), col("x"))
          .otherwise(lit(0.0))).as("head_x"),
        sum(when(datediff(col("d1"), col("day")) < col("lag"), col("x"))
          .otherwise(lit(0.0))).as("tail_x"))
    stats
      .withColumn("lag", explode(lags))
      .filter(col("lag") < col("n_days")) // a lag needs at least one pair
      .join(edges, Seq("g", "lag"))
      .join(xx, Seq("g", "lag"), "left") // a lag can have zero nonzero pairs
      .join(broadcast(denom), Seq("g"))
      .withColumn("num",
        coalesce(col("sxx"), lit(0.0)) -
          col("mu") * (col("tot") - col("tail_x")) -
          col("mu") * (col("tot") - col("head_x")) +
          (col("n_days") - col("lag")) * col("mu") * col("mu"))
      .select(col("g").as(groupCol), col("lag"),
        round(col("num") / col("ss"), 4).as("acf"),
        (col("n_days") - col("lag")).cast("long").as("n_pairs"))
  }

  /** Single changepoint per group: the day split maximizing the scaled
    * mean shift `|μ_left − μ_right| · √(t·(n−t)/n)` over the group's
    * daily-count series (the CUSUM-equivalent two-sample statistic at
    * every split — Page 1954 / Hinkley 1970). Counts keep the cumulative
    * sums integer-exact, so the argmax is engine-stable.
    *
    * Scale: one (group × day) count aggregate, then windows PARTITIONED
    * BY GROUP whose frames hold the group's DAYS (span-bounded, ~10³
    * for years) — never raw events; group totals broadcast back. The
    * winning split per group is a bounded row_number pick, ties to the
    * earliest day.
    */
  def meanShiftChangepoint(
      df: DataFrame,
      groupCol: String,
      tsCol: String): DataFrame = {
    val daily = df
      .groupBy(col(groupCol).as("g"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
    val tot = daily.groupBy("g")
      .agg(sum("x").as("tot"), count(lit(1)).as("n_days"))
    val w = Window.partitionBy("g").orderBy("day")
    val scored = daily.join(broadcast(tot), Seq("g"))
      .withColumn("cum", sum("x").over(w))
      .withColumn("t", row_number().over(w))
      .filter(col("t") < col("n_days"))
      .withColumn("mean_before", col("cum") / col("t"))
      .withColumn("mean_after", (col("tot") - col("cum")) / (col("n_days") - col("t")))
      .withColumn("score",
        abs(col("mean_before") - col("mean_after")) *
          sqrt(col("t") * (col("n_days") - col("t")) / col("n_days")))
    val pick = Window.partitionBy("g").orderBy(col("score").desc, col("day"))
    scored.withColumn("rk", row_number().over(pick)).filter(col("rk") === 1)
      .select(col("g").as(groupCol), col("day").as("split_day"),
        col("n_days"), round(col("mean_before"), 4).as("mean_before"),
        round(col("mean_after"), 4).as("mean_after"),
        round(col("score"), 4).as("score"))
  }

  def ewma(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      valueCol: String,
      alpha: Double = 0.3,
      lookback: Int = 20): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1]: $alpha")
    require(lookback >= 1, s"lookback must be >= 1: $lookback")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(lookback - 1), Window.currentRow)
    val decay = lit(1.0 - alpha)
    // frame list is oldest→newest; element i (0-based) of an s-element
    // list gets weight (1−α)^(s−1−i)
    val trail = collect_list(col(valueCol)).over(w)
    val num = aggregate(
      transform(col("__trail"), (x, i) => x * pow(decay, size(col("__trail")) - 1 - i)),
      lit(0.0), (acc, x) => acc + x)
    val den = aggregate(
      transform(col("__trail"), (_, i) => pow(decay, size(col("__trail")) - 1 - i)),
      lit(0.0), (acc, x) => acc + x)
    df.withColumn("__trail", trail)
      .withColumn("ewma", num / den)
      .drop("__trail")
  }

  /** Inter-arrival time distribution: the gap between consecutive events
    * WITHIN each `partitionCols` series (e.g. one user's events of one
    * type), aggregated per `reportCol` — the cadence read-out behind
    * session timeouts, staleness SLOs and crawl-revisit policy. Returns
    * per report group: gap count, mean/p50/p95/max gap in seconds
    * (exact interpolating percentile at declared scale; the documented
    * 100 TB switch is `percentile_approx`, the [[graft.ops.Outliers]]
    * convention).
    *
    * Scale: the lag window partitions by the FULL series key — group
    * count grows with the data (user × type), never a handful of giant
    * partitions — and (ts, tieCol) is a total order, so the gap frame is
    * deterministic. Gaps are integer MICROSECONDS (`unix_micros`): both
    * the aggregate and the DuckDB oracle see identical longs, and the
    * percentile interpolation starts from the same exact inputs.
    */
  def interarrivalStats(
      df: DataFrame,
      partitionCols: Seq[String],
      reportCol: String,
      tsCol: String,
      tieCol: String): DataFrame = {
    require(partitionCols.nonEmpty, "interarrivalStats needs a series key")
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val gaps = df
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("__gap", col("__us") - lag("__us", 1).over(w))
      .filter(col("__gap").isNotNull)
    gaps.groupBy(col(reportCol))
      .agg(
        count(lit(1)).as("n_gaps"),
        round(avg(col("__gap")) / 1e6, 4).as("mean_gap_s"),
        round(expr("percentile(__gap, 0.5)") / 1e6, 4).as("p50_gap_s"),
        round(expr("percentile(__gap, 0.95)") / 1e6, 4).as("p95_gap_s"),
        round(max(col("__gap")) / 1e6, 4).as("max_gap_s"))
  }
}
