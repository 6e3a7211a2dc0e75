package graft.queries

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.PinnedOracles
import graft.etl.{FileLoads, Loads, Sanitize, Tables, Windows}
import graft.ops.{Bpe, Dedup, Multimodal, Pca, Similarity, TextAnalysis}
import graft.schema.Ddl
import graft.queries.Fixtures._
import graft.queries.OracleCtes._

/** event-stream analytics: sessions, funnels, as-of/range joins, time
  * series (ACF/changepoint/EWMA), drift, A/B stats, audiences, attribution.
  *
  * One registry slice of [[graft.SparkEntry]] (split r14 — the single
  * 6.6k-line file was the bottleneck): `queries` feeds the driver's
  * Verify/Bench maps, `oracles` the DuckDB compare. Keys and bodies are
  * unchanged from the pre-split registry.
  */
object EventsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Count-Min heavy hitters vs ground truth: top-20 corpus tokens by
    // exact count with the sketch estimate alongside (one-sided error
    // est>=exact, overshoot bounded by eps*N). Pinned oracle (the sketch
    // hash is JVM-side); the error bound is asserted in SketchesSpec.
    "heavy_hitters" -> ((s, dir) =>
      graft.ops.Sketches.heavyHitters(
        Tables.documents(s, dir)
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(col("token") =!= ""),
        "token", topK = 20)),


    // Hour-of-day seasonal profile of event values per type: cell mean +
    // seasonal index (cell/overall) — the normalization surface for
    // seasonally-adjusted thresholds. Events aggregate once; the window
    // runs over the 24-row-per-key profile only.
    "events_seasonal_profile" -> ((s, dir) =>
      graft.ops.TimeSeries.seasonalProfile(
          Tables.events(s, dir), "ts", "value", Seq("event_type"))
        .orderBy("event_type", "hour_of_day")),


    // Forward as-of join (pandas merge_asof direction='forward'):
    // time-to-conversion — each view matched to the user's EARLIEST
    // at-or-after purchase. Same single keyed shuffle as backward.
    "events_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      graft.ops.AsOf.asOfJoin(views, purchases, Seq("user_id"), "ts", "ts",
          direction = "forward")
        .select(
          col("event_id").as("v_event_id"),
          col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("v_ts_us"),
          col("r_event_id").as("purchase_event_id"),
          unix_micros(col("r_ts").cast("timestamp")).as("purchase_ts_us"))
        .orderBy("v_event_id")
    }),


    // Nearest as-of join (direction='nearest'): each purchase to the view
    // with the smallest absolute time gap, exact ties backward. One keyed
    // shuffle; the second direction is a window sort, not an Exchange.
    "events_asof_nearest" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      graft.ops.AsOf.asOfJoin(purchases, views, Seq("user_id"), "ts", "ts",
          direction = "nearest")
        .select(
          col("event_id").as("p_event_id"),
          col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("p_ts_us"),
          col("r_event_id").as("view_event_id"),
          unix_micros(col("r_ts").cast("timestamp")).as("view_ts_us"))
        .orderBy("p_event_id")
    }),


    // ---- Window-function analytics (beyond-parity §2.5 surface) ----
    // Sessionization: 30-min-gap sessions per user over the events stream.
    "events_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("prev_ts", lag("ts", 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L, 1)
            .otherwise(0))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("new_sess").as("n_sessions"))
        .orderBy("user_id")
    }),


    // Exact audience overlap: distinct customers shared by every pair of
    // order priorities — the set-intersection analytics KMV sketches
    // approximate at scale. One distinct + one equi-join on the value,
    // counts broadcast. Full DuckDB oracle; the anchor for
    // audience_overlap_sketch's error record.
    "audience_overlap_exact" -> ((s, dir) => {
      val st = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("grp"), col("o_custkey")).distinct()
      val a = st.select(col("grp").as("grp_a"), col("o_custkey"))
      val b = st.select(col("grp").as("grp_b"), col("o_custkey").as("__ck"))
      val common = a.join(b, col("o_custkey") === col("__ck") && col("grp_a") < col("grp_b"))
        .groupBy("grp_a", "grp_b").agg(count(lit(1)).as("n_common"))
      val counts = st.groupBy(col("grp").as("__g")).agg(count(lit(1)).as("__n"))
      common
        .join(broadcast(counts), col("grp_a") === col("__g"))
        .withColumnRenamed("__n", "__na").drop("__g")
        .join(broadcast(counts), col("grp_b") === col("__g"))
        .withColumnRenamed("__n", "__nb").drop("__g")
        .select(col("grp_a"), col("grp_b"), col("n_common"),
          round(col("n_common").cast("double") /
            (col("__na") + col("__nb") - col("n_common")), 4).as("jaccard"))
        .orderBy("grp_a", "grp_b")
    }),


    // KMV k-minimum-values set-overlap sketch (Bar-Yossef et al. 2002 —
    // the theta-family estimator HLL can't provide): per-priority
    // customer sketches are bounded mergeable k-arrays (partial
    // aggregation: <= k longs per group per partition cross the shuffle),
    // overlap estimation runs on the group-level sketch table only. The
    // record carries estimate AND exact side by side (the
    // corpus_profile_sketch_error pattern); xxhash64 → pinned oracle.
    "audience_overlap_sketch" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val est = graft.ops.Kmv.overlap(
        graft.ops.Kmv.sketch(o, col("o_orderpriority"), col("o_custkey"), 512), 512)
      val st = o.select(col("o_orderpriority").as("g"), col("o_custkey")).distinct()
      val exact = st.select(col("g").as("__ga"), col("o_custkey"))
        .join(st.select(col("g").as("__gb"), col("o_custkey").as("__ck")),
          col("o_custkey") === col("__ck") && col("__ga") < col("__gb"))
        .groupBy("__ga", "__gb").agg(count(lit(1)).as("n_common_exact"))
      est.join(exact, col("grp_a") === col("__ga") && col("grp_b") === col("__gb"))
        .select(col("grp_a"), col("grp_b"), col("jaccard_est"),
          col("n_common_est"), col("n_common_exact"),
          round(abs(col("n_common_est") - col("n_common_exact")) /
            col("n_common_exact"), 4).as("rel_err"))
        .orderBy("grp_a", "grp_b")
    }),


    // Full audience-overlap MATRIX from ONE sketch table: per
    // priority-pair Jaccard, intersection AND difference estimates
    // (|A∖B|̂ = n̂(A) − |A∩B|̂ — the set algebra HLL can't provide), with
    // the exact difference counts beside them (the sketch_error
    // pattern). The sketch table builds once; the matrix is pure array
    // arithmetic over #groups² sketch rows, raw data untouched.
    // xxhash64 sketches → pinned VALUES oracle.
    "audience_overlap_matrix" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val est = graft.ops.Kmv.overlapMatrix(
        graft.ops.Kmv.sketch(o, col("o_orderpriority"), col("o_custkey"), 512), 512)
      val st = o.select(col("o_orderpriority").as("g"), col("o_custkey")).distinct()
      val counts = st.groupBy(col("g")).agg(count(lit(1)).as("n"))
      val exact = st.select(col("g").as("__ga"), col("o_custkey"))
        .join(st.select(col("g").as("__gb"), col("o_custkey").as("__ck")),
          col("o_custkey") === col("__ck") && col("__ga") < col("__gb"))
        .groupBy("__ga", "__gb").agg(count(lit(1)).as("__nc"))
        .join(broadcast(counts.select(col("g").as("__ga"), col("n").as("__na"))), Seq("__ga"))
        .join(broadcast(counts.select(col("g").as("__gb"), col("n").as("__nb"))), Seq("__gb"))
        .select(col("__ga"), col("__gb"),
          (col("__na") - col("__nc")).as("n_diff_ab_exact"),
          (col("__nb") - col("__nc")).as("n_diff_ba_exact"))
      est.join(exact, col("grp_a") === col("__ga") && col("grp_b") === col("__gb"))
        .select(col("grp_a"), col("grp_b"), col("jaccard_est"),
          col("n_common_est"), col("n_diff_ab_est"), col("n_diff_ba_est"),
          col("n_diff_ab_exact"), col("n_diff_ba_exact"))
        .orderBy("grp_a", "grp_b")
    }),


    // Multi-way KMV union: every priority's sketch merges into ONE union
    // sketch inside a single bounded aggregate (no pairwise
    // inclusion-exclusion cascade); its cardinality estimate sits beside
    // the exact all-groups distinct count with the relative error in the
    // record. xxhash64 → pinned VALUES oracle.
    "audience_union_sketch" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val sk = graft.ops.Kmv.sketch(o, col("o_orderpriority"), col("o_custkey"), 512)
        .localCheckpoint() // 5 sketch rows feed two consumers
      val est = graft.ops.Kmv.unionAll(sk, 512)
        .select(round(graft.ops.Kmv.estimateDistinct(col("kmv"), 512), 4).as("n_union_est"))
      val exact = o.agg(count_distinct(col("o_custkey")).as("n_union_exact"))
      sk.agg(count(lit(1)).as("n_groups")) // 1×1×1 — all sides single rows
        .crossJoin(est).crossJoin(exact)
        .select(col("n_groups"), col("n_union_est"), col("n_union_exact"),
          round(abs(col("n_union_est") - col("n_union_exact")) /
            col("n_union_exact"), 4).as("rel_err"))
    }),


    // Funnel analysis: users progressing view → click → purchase in
    // temporal order (conditional min-timestamps + ordered comparison).
    "events_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val m = ev.groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("ts"))).as("v"),
        min(when(col("event_type") === "click", col("ts"))).as("c"),
        min(when(col("event_type") === "purchase", col("ts"))).as("p"))
      m.agg(
        sum(when(col("v").isNotNull, 1).otherwise(0)).as("n_viewed"),
        sum(when(col("v") < col("c"), 1).otherwise(0)).as("n_clicked_after_view"),
        sum(when(col("v") < col("c") && col("c") < col("p"), 1).otherwise(0)).as("n_full_funnel"))
    }),


    // First-order Markov transition matrix over per-user event streams:
    // next-event distribution per current event type (lead over the
    // per-user timeline; (ts, event_id) ordering is deterministic under
    // timestamp ties). The row-normalizing window partitions by
    // event_type — a |types|²-row frame, model-sized by construction.
    "events_transition_matrix" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val seq = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(seq))
        .filter(col("next_type").isNotNull)
        .groupBy("event_type", "next_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("p", round(col("n") /
          sum(col("n")).over(Window.partitionBy("event_type")), 4))
        .orderBy("event_type", "next_type")
    }),


    // Native session_window sessionization (same contract as the lag-based
    // events_sessionize — shares its oracle).
    "events_session_window" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("ts", col("ts").cast("timestamp"))
      ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(sum("n").as("n_events"), count(lit(1)).as("n_sessions"))
        .orderBy("user_id")
    }),


    // As-of join (composed, one shuffle): each purchase event matched to
    // the user's latest prior-or-simultaneous view event. Oracle: DuckDB's
    // native ASOF JOIN.
    "events_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      graft.ops.AsOf.asOfJoin(purchases, views, Seq("user_id"), "ts", "ts")
        .select(
          col("event_id").as("p_event_id"),
          col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("p_ts_us"),
          col("r_event_id").as("view_event_id"),
          unix_micros(col("r_ts").cast("timestamp")).as("view_ts_us"))
        .orderBy("p_event_id")
    }),


    // Cohort retention: users grouped by first-seen week (the cohort),
    // counted by distinct activity-week offset — the classic retention
    // triangle. Two aggregations: per-user first week (one user-keyed
    // shuffle), then distinct (cohort, offset, user) → counts.
    "events_retention_cohorts" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("week", date_trunc("week", col("ts")))
      val firstWeek = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
      ev.join(firstWeek, Seq("user_id"))
        .withColumn("week_offset",
          expr("CAST(datediff(week, cohort_week) AS BIGINT) div 7"))
        .select(col("user_id"), col("cohort_week"), col("week_offset"))
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),


    // Fixed-bin value histogram per event type (width_bucket semantics:
    // 10 bins over [0, 100), underflow 0 / overflow 11 buckets kept) —
    // one partial-aggregating shuffle on (type, bucket); the mean is the
    // exact-cents one, so a half-tie rounds the same at any partitioning.
    "events_value_histogram" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("bucket", width_bucket(col("value"), lit(0.0), lit(100.0), lit(10)))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"), graft.ops.Stats.centsMean4(col("value")).as("mean_value"))
        .orderBy("event_type", "bucket")),


    // robust per-type anomaly flags: Hampel 3-MAD rule (median/MAD, not
    // mean/stddev — one wild value can't drag its own threshold); the
    // declared form is the exact-percentile oracle-parity path, the
    // operator's approx_percentile switch is the O(1)-state scale path
    "events_anomaly_mad" -> ((s, dir) =>
      graft.ops.Outliers.madOutliers(
          Tables.events(s, dir), "event_id", "event_type", "value", k = 3.0)
        .orderBy("event_id")),


    // Trailing time-RANGE window — the rate-limit/velocity feature shape
    // (events and value mass in the last 24h per user, evaluated AT each
    // event). RANGE frames bound by the ORDER value, not row count, and
    // include all peers of an equal timestamp — so the result is
    // deterministic under ties, where a ROWS frame would not be. Epoch
    // seconds carry the order in both engines; partitioning is per-user
    // (group count grows with the data).
    // exact-micros RANGE frame on BOTH sides: unix_timestamp truncates
    // to whole seconds while the oracle's epoch() keeps the fraction, so
    // an event 86400.5 s back was inside Spark's frame but outside
    // DuckDB's — caught by the ×10 oracle gate (the scale corpus's
    // read→write round trip surfaces micros-precision ts)
    "events_trailing_24h" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("__epoch"))
        .rangeBetween(-86400000000L, 0L)
      Tables.events(s, dir)
        .withColumn("__epoch", unix_micros(col("ts")))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_24h"),
          round(sum(col("value")).over(w), 4).as("value_24h"))
        .orderBy("event_id")
    }),


    // Trailing EWMA per (user, event_type) series — the smoothed baseline
    // drift/anomaly thresholds compare against. Adjusted weighting over a
    // HARD 20-row lookback (truncated weight mass < 1e-3, below output
    // rounding; see TimeSeries.ewma scale note); the window partitions by
    // user×type, so partition count grows with the data. DuckDB replays
    // the same frame list with indexed list lambdas → full SQL oracle.
    "events_ewma" -> ((s, dir) =>
      graft.ops.TimeSeries.ewma(
          Tables.events(s, dir),
          keyCols = Seq("user_id", "event_type"),
          orderCols = Seq("ts", "event_id"),
          valueCol = "value", alpha = 0.3, lookback = 20)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 4).as("value"),
          round(col("ewma"), 6).as("ewma"))
        .orderBy("event_id")),


    // Winsorized robust stats per event type: values clamp into the
    // per-type [p05, p95] band (one broadcast quantile model + a
    // map-side clamp — no rows dropped, so N is unchanged), then the
    // winsorized mean sits beside the raw mean. Spark `percentile` and
    // DuckDB `quantile_cont` share the interpolation definition → full
    // SQL oracle.
    "events_winsorize" -> ((s, dir) =>
      graft.ops.Outliers.winsorize(
          Tables.events(s, dir), "event_type", "value")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(avg("value"), 4).as("mean_raw"),
          round(avg("value_w"), 4).as("mean_winsorized"),
          first(col("q_lo")).as("p05"),
          first(col("q_hi")).as("p95"))
        .orderBy("event_type")),


    // PSI drift gate between the first two weeks (reference) and the rest
    // (current) of each event type's value distribution — 5 equal-
    // frequency bins from REFERENCE quantiles, Σ(p−q)·ln(p/q), 0.2 action
    // threshold; groups with no reference slice surface as psi=NULL/
    // drifted rows instead of vanishing. Broadcast edge model + one
    // (type, bin) count shuffle. Full DuckDB oracle (quantile_cont
    // replays Spark's exact interpolating percentile); the approx-
    // percentile 100 TB leg is parity-pinned in DriftSpec
    "drift_psi" -> ((s, dir) =>
      graft.ops.Drift.psi(
          Tables.events(s, dir).withColumn("period",
            when(col("ts") < lit("2024-01-15").cast("timestamp"), lit("ref"))
              .otherwise(lit("cur"))),
          "event_type", "value", "period")
        .orderBy("event_type")),


    // Categorical PSI — the more common production drift check (source /
    // language / label mix): per user cohort, drift of the EVENT-TYPE mix
    // between the same two periods; bins are the category values, so no
    // quantile model at all — ONE (cohort, type) count aggregate, roll-up
    // windows span a cohort's category list. Full DuckDB oracle.
    "drift_psi_categorical" -> ((s, dir) =>
      graft.ops.Drift.psiCategorical(
          Tables.events(s, dir)
            .withColumn("period",
              when(col("ts") < lit("2024-01-15").cast("timestamp"), lit("ref"))
                .otherwise(lit("cur")))
            .withColumn("cohort", pmod(col("user_id"), lit(4)).cast("string")),
          "cohort", "event_type", "period")
        .orderBy("cohort")),


    // daily resample + forward fill: irregular events onto each user's
    // dense daily grid, last observation carried forward — every stage
    // co-partitioned on user_id (one shuffle); window partitions hold a
    // key's DAYS, never its raw events
    "events_resample_ffill" -> ((s, dir) =>
      graft.ops.TimeSeries.resampleDailyFfill(
          Tables.events(s, dir), "user_id", "ts", "value")
        .withColumn("value_ffill", round(col("value_ffill"), 4))
        .orderBy("user_id", "day")),


    // per-key OLS trend: one hash aggregation (constant regression-moment
    // state per key), integer-day regressor for cross-engine-exact inputs,
    // exact-cents mean (half-ties round the same at any partitioning)
    "events_trend" -> ((s, dir) =>
      graft.ops.TimeSeries.trend(Tables.events(s, dir), "user_id", "ts", "value")
        .select(col("user_id"), round(col("slope"), 4).as("slope"),
          round(col("r2"), 4).as("r2"), col("n"), col("mean_value"))
        .orderBy("user_id")),


    // ---- Events: JSON prop extraction + agg (T2-adjacent; events table) ----
    "events_json_agg" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          round(sum("value"), 4).as("sum_value"),
          round(avg("k"), 4).as("avg_k"))
        .orderBy("event_type")),


    // Lag-1..7 autocorrelation of each event type's daily-count series
    // (ops/TimeSeries.acf): the seasonality read-out behind cadence
    // decisions. Raw events collapse to a SPARSE (type × active-day)
    // count aggregate FIRST; zero-event days enter the moments through
    // closed-form corrections (never a materialized grid), and the cross
    // term is one keyed self-join of the sparse series after a 7-way lag
    // explode — no unpartitioned window, no dense frame.
    "events_acf" -> ((s, dir) =>
      graft.ops.TimeSeries.acf(Tables.events(s, dir), "event_type", "ts", maxLag = 7)
        .orderBy("event_type", "lag")),


    // Single mean-shift changepoint per event type over the daily-count
    // series (CUSUM-equivalent split statistic, ops/TimeSeries
    // .meanShiftChangepoint): windows partition by TYPE over day frames
    // (span-bounded), the argmax is a bounded row_number pick, ties to
    // the earliest day; integer cums make the argmax engine-stable.
    "events_changepoint" -> ((s, dir) =>
      graft.ops.TimeSeries.meanShiftChangepoint(Tables.events(s, dir), "event_type", "ts")
        .orderBy("event_type")),


    // Welch unequal-variance t-test between every event-type pair over
    // `value` (ops/Stats.welchPairs): ONE moment aggregate over the
    // data, then a k²-row (k = 5 types) pairs join — the experiment
    // read-out as a single-scan plan.
    "ab_welch_ttest" -> ((s, dir) =>
      graft.ops.Stats.welchPairs(Tables.events(s, dir), "event_type", "value")
        .orderBy("group_a", "group_b")),


    // Pearson chi-square independence of user cohort (user_id parity) vs
    // event type + Cramér's V (ops/Stats.chiSquare): one contingency
    // aggregate; margins and expecteds are cell-count-sized.
    "ab_chi_square" -> ((s, dir) =>
      graft.ops.Stats.chiSquare(
        Tables.events(s, dir)
          .withColumn("cohort", (col("user_id") % 2).cast("string")),
        "cohort", "event_type")),


    // Inter-arrival gap distribution per event type (ops/TimeSeries
    // .interarrivalStats): gaps within each (user, type) series — the
    // lag window partitions by the full series key (group count grows
    // with the data), gaps are integer microseconds so the exact
    // percentile starts from identical longs in both engines.
    "events_interarrival" -> ((s, dir) =>
      graft.ops.TimeSeries.interarrivalStats(Tables.events(s, dir),
          Seq("user_id", "event_type"), "event_type", "ts", "event_id")
        .orderBy("event_type")),


    // Last-touch revenue attribution: each purchase credits the LAST
    // non-purchase touch of the same user within 7 days (ops/AsOf
    // backward join + tolerance — the union/window plan, user-keyed,
    // never a per-purchase scan); unmatched purchases fall to 'direct'.
    // The asOfJoin tie-break (largest right struct at equal ts) is
    // mirrored in the oracle's (ts, event_type, event_id) DESC pick.
    "attribution_last_touch" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      graft.ops.AsOf.asOfJoin(purchases, touches, Seq("user_id"), "ts", "ts",
          inner = false, tolerance = Some(expr("INTERVAL 7 DAYS")))
        .select(coalesce(col("r_event_type"), lit("direct")).as("channel"),
          col("value"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          round(sum("value"), 4).as("attributed_value"))
        .orderBy("channel")
    }),


    // Multi-touch attribution beside the last-touch model (ops/
    // Attribution): EVERY non-purchase touch of the same user within the
    // 7-day window earns credit under four models at once — last-touch,
    // linear (value/n), time-decay (half-life 3.5 days, normalized per
    // purchase) and position-based (40/20/40) — from ONE user-keyed
    // range join (the events_range_join plan shape; never a
    // per-purchase rescan of events) plus purchase-keyed windows for the
    // per-purchase normalizers (frames are touches-per-purchase-sized,
    // group count grows with purchases). Untouched purchases fall to
    // 'direct' via one keys-only anti-join. Cross-model invariants: every
    // model's total equals total purchase value (conservation, asserted
    // in AttributionSpec), and last_value replays attribution_last_touch.
    "attribution_multi_touch" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.ops.Attribution.report(
        graft.ops.Attribution.credits(
          ev.filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("ts"), col("value")),
          ev.filter(col("event_type") =!= "purchase")
            .select(col("user_id"), col("ts"), col("event_type")),
          keyCol = "user_id", timeCol = "ts", idCol = "event_id",
          valueCol = "value", channelCol = "event_type",
          lookback = expr("INTERVAL 7 DAYS")))
        .orderBy("channel")
    }),


    // DATA-DRIVEN attribution by Markov removal effect (ops/Attribution
    // .markovRemovalEffect — Anderl et al. 2014, the standard model after
    // the four heuristics): journeys split at each purchase, first-order
    // channel-transition chain, each channel credited by how much
    // P(convert | start) drops when transitions into it are redirected to
    // the null absorber. Absorption = 100 synchronous Jacobi steps (the
    // PageRank-fixpoint shape, but the chain is channel-cardinality-sized
    // so the matrix is a k²-bounded collect and the per-removal solves
    // are driver arithmetic — never a per-removal data rescan). Oracle:
    // the same 100 steps as an unrolled recursive CTE. Credit
    // conservation (Σ markov_value = total purchase value) is
    // property-tested in AttributionSpec.
    "attribution_markov" -> ((s, dir) =>
      graft.ops.Attribution.markovRemovalEffect(
          Tables.events(s, dir), keyCol = "user_id", timeCol = "ts",
          typeCol = "event_type", idCol = "event_id",
          convType = "purchase", valueCol = "value")
        .orderBy("channel")),


    // 7-day trailing active users by KMV sketch algebra (ops/Kmv
    // .trailingDistinct): daily sketches merge in bucket-space — the
    // exact COUNT(DISTINCT)-per-window alternative re-reads 7 days of
    // raw data per day. k=256 saturates on this fixture, so the pin
    // records genuine estimates; KmvSpec pins the estimator error.
    "audience_trailing_kmv" -> ((s, dir) =>
      graft.ops.Kmv.trailingDistinct(
        graft.ops.Kmv.sketch(Tables.events(s, dir),
          to_date(col("ts")), col("user_id"), k = 256),
        windowLen = 7, k = 256).orderBy("bucket")),


    // Range join: every (purchase, prior view ≤1h) pair per user — the
    // windowed-neighborhood generalization of the as-of join (which keeps
    // only the latest such view).
    "events_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      graft.ops.AsOf.rangeJoin(purchases, views, Seq("user_id"), "ts", "ts",
        lookback = expr("INTERVAL 1 HOUR"))
        .select(
          col("event_id").as("p_event_id"),
          col("user_id"),
          col("r_event_id").as("view_event_id"),
          unix_micros(col("ts").cast("timestamp")).as("p_ts_us"),
          unix_micros(col("r_ts").cast("timestamp")).as("view_ts_us"))
        .orderBy("p_event_id", "view_event_id")
    }),
  )

  val oracles: Map[String, String] = Map(

    "events_seasonal_profile" ->
      ("WITH cells AS (SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour_of_day, " +
        "CAST(count(*) AS BIGINT) AS n, avg(value) AS m " +
        "FROM events GROUP BY event_type, hour(ts)) " +
        "SELECT event_type, hour_of_day, n, round(m, 4) AS mean_value, " +
        "round(m / (sum(m * n) OVER (PARTITION BY event_type) / " +
        "sum(n) OVER (PARTITION BY event_type)), 4) AS seasonal_index " +
        "FROM cells ORDER BY event_type, hour_of_day"),


    "events_sessionize" ->
      ("WITH x AS (SELECT user_id, ts, event_id, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events) " +
        "SELECT user_id, count(*) AS n_events, " +
        "CAST(sum(CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions " +
        "FROM x GROUP BY user_id ORDER BY user_id"),


    "audience_overlap_exact" ->
      ("WITH st AS (SELECT DISTINCT o_orderpriority AS grp, o_custkey FROM orders), " +
        "c AS (SELECT grp, count(*) AS n FROM st GROUP BY 1), " +
        "p AS (SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS n_common " +
        "FROM st a JOIN st b ON a.o_custkey = b.o_custkey AND a.grp < b.grp GROUP BY 1, 2) " +
        "SELECT grp_a, grp_b, n_common, " +
        "round(CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common), 4) AS jaccard " +
        "FROM p JOIN c ca ON ca.grp = grp_a JOIN c cb ON cb.grp = grp_b " +
        "ORDER BY grp_a, grp_b"),


    "events_retention_cohorts" ->
      ("WITH ev AS (SELECT user_id, date_trunc('week', ts) AS week FROM events), " +
        "fw AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id), " +
        "act AS (SELECT DISTINCT e.user_id, f.cohort_week, " +
        "CAST(datediff('day', f.cohort_week, e.week) // 7 AS BIGINT) AS week_offset " +
        "FROM ev e JOIN fw f USING (user_id)) " +
        "SELECT cohort_week, week_offset, count(*) AS n_users FROM act " +
        "GROUP BY 1, 2 ORDER BY cohort_week, week_offset"),


    // width_bucket semantics spelled out as arithmetic so the oracle
    // needs no engine-specific builtin: underflow 0, overflow n+1
    "events_value_histogram" ->
      (s"SELECT event_type, bucket, count(*) AS n, ${centsMean4Sql("value")} AS mean_value FROM (" +
        "SELECT event_type, value, CAST(CASE WHEN value < 0 THEN 0 " +
        "WHEN value >= 100 THEN 11 ELSE floor(value / 10) + 1 END AS BIGINT) AS bucket " +
        "FROM events) t GROUP BY 1, 2 ORDER BY event_type, bucket"),


    "events_anomaly_mad" ->
      ("WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med " +
        "FROM events GROUP BY 1), " +
        "mad AS (SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad, " +
        "any_value(m.med) AS med FROM events e JOIN med m USING (event_type) GROUP BY 1) " +
        "SELECT e.event_id, e.event_type, e.value, round(m.med, 4) AS med, " +
        "round(m.mad, 4) AS mad, round(abs(e.value - m.med), 4) AS dev " +
        "FROM events e JOIN mad m USING (event_type) " +
        "WHERE round(abs(e.value - m.med), 4) > round(3 * m.mad, 4) ORDER BY e.event_id"),


    // the same RANGE frame over epoch seconds: [cur−86400, cur]
    // inclusive, all equal-timestamp peers in frame
    "events_trailing_24h" ->
      ("SELECT event_id, user_id, " +
        "CAST(count(*) OVER w AS BIGINT) AS n_24h, " +
        "round(sum(value) OVER w, 4) AS value_24h " +
        "FROM (SELECT *, epoch_us(ts) AS ep FROM events) t " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ep " +
        "RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) ORDER BY event_id"),


    // same per-user lead + per-type row normalization
    "events_transition_matrix" ->
      ("WITH nxt AS (SELECT event_type, lead(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS next_type FROM events), " +
        "c AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n FROM nxt " +
        "WHERE next_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT event_type, next_type, n, " +
        "round(n / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 4) AS p " +
        "FROM c ORDER BY event_type, next_type"),


    // replays ewma() exactly: the same 20-row frame list per
    // (user, event_type) series, (1−α)^(s−pos) weights via DuckDB's
    // 1-BASED indexed list lambdas (Spark's transform index is 0-based —
    // hence len(l)-i here vs size(l)-1-i there), adjusted normalization
    "events_ewma" ->
      ("WITH t AS (SELECT event_id, user_id, event_type, value, " +
        "list(value) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id " +
        "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS l FROM events) " +
        "SELECT event_id, user_id, event_type, round(value, 4) AS value, " +
        "round(list_sum(list_transform(l, (x,i) -> x * pow(0.7, len(l) - i))) / " +
        "list_sum(list_transform(l, (x,i) -> pow(0.7, len(l) - i))), 6) AS ewma " +
        "FROM t ORDER BY event_id"),


    "events_winsorize" ->
      ("WITH band AS (SELECT event_type, quantile_cont(value, 0.05) AS q_lo, " +
        "quantile_cont(value, 0.95) AS q_hi FROM events GROUP BY 1), " +
        "w AS (SELECT e.event_type, e.value, " +
        "round(greatest(b.q_lo, least(b.q_hi, e.value)), 4) AS value_w, " +
        "b.q_lo, b.q_hi FROM events e JOIN band b USING (event_type)) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "round(avg(value), 4) AS mean_raw, " +
        "round(avg(value_w), 4) AS mean_winsorized, " +
        "round(any_value(q_lo), 4) AS p05, round(any_value(q_hi), 4) AS p95 " +
        "FROM w GROUP BY event_type ORDER BY event_type"),


    // replays psi() exactly: quantile_cont ≡ Spark's interpolating
    // percentile, the same >-edge bin chain, per-group share windows,
    // eps clamps, 4-dp rounding — plus the novel-group union (groups
    // with no 'ref' slice; empty on this fixture by construction)
    "drift_psi" ->
      ("WITH d AS (SELECT event_type AS g, value AS v, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 'ref' ELSE 'cur' END AS per FROM events), " +
        "e AS (SELECT g, quantile_cont(v, 0.2) AS e1, quantile_cont(v, 0.4) AS e2, " +
        "quantile_cont(v, 0.6) AS e3, quantile_cont(v, 0.8) AS e4 " +
        "FROM d WHERE per = 'ref' GROUP BY g), " +
        "b AS (SELECT d.g, 1 + CAST(v > e1 AS INT) + CAST(v > e2 AS INT) + " +
        "CAST(v > e3 AS INT) + CAST(v > e4 AS INT) AS bin, per FROM d JOIN e USING (g)), " +
        "c AS (SELECT g, bin, sum(CASE WHEN per = 'ref' THEN 1 ELSE 0 END) AS nr, " +
        "sum(CASE WHEN per = 'cur' THEN 1 ELSE 0 END) AS nc FROM b GROUP BY g, bin), " +
        "t AS (SELECT g, nr, nc, sum(nr) OVER (PARTITION BY g) AS tr, " +
        "sum(nc) OVER (PARTITION BY g) AS tc FROM c), " +
        "s AS (SELECT g, greatest(CAST(nr AS DOUBLE) / tr, 1e-6) AS p, " +
        "greatest(CAST(nc AS DOUBLE) / tc, 1e-6) AS q, nr, nc FROM t), " +
        "a AS (SELECT g, round(sum((p - q) * ln(p / q)), 4) AS psi, " +
        "CAST(sum(nr) AS BIGINT) AS n_ref, CAST(sum(nc) AS BIGINT) AS n_cur FROM s GROUP BY g) " +
        "SELECT g AS event_type, psi, n_ref, n_cur, psi > 0.2 AS drifted FROM a " +
        "UNION ALL SELECT g, CAST(NULL AS DOUBLE), CAST(0 AS BIGINT), " +
        "CAST(count(*) AS BIGINT), TRUE FROM d " +
        "WHERE per = 'cur' AND g NOT IN (SELECT g FROM e) GROUP BY g " +
        "ORDER BY event_type"),


    // same roll-up over category bins (no quantile model); novel-cohort
    // union empty on this fixture (all 4 cohorts span both periods)
    "drift_psi_categorical" ->
      ("WITH d AS (SELECT CAST(user_id % 4 AS VARCHAR) AS g, event_type AS bin, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 'ref' ELSE 'cur' END AS per FROM events), " +
        "c AS (SELECT g, bin, sum(CASE WHEN per = 'ref' THEN 1 ELSE 0 END) AS nr, " +
        "sum(CASE WHEN per = 'cur' THEN 1 ELSE 0 END) AS nc FROM d GROUP BY g, bin), " +
        "t AS (SELECT g, nr, nc, sum(nr) OVER (PARTITION BY g) AS tr, " +
        "sum(nc) OVER (PARTITION BY g) AS tc FROM c), " +
        "s AS (SELECT g, greatest(CAST(nr AS DOUBLE) / tr, 1e-6) AS p, " +
        "greatest(CAST(nc AS DOUBLE) / tc, 1e-6) AS q, nr, nc, tr FROM t), " +
        "a AS (SELECT g, round(sum((p - q) * ln(p / q)), 4) AS psi, " +
        "CAST(sum(nr) AS BIGINT) AS n_ref, CAST(sum(nc) AS BIGINT) AS n_cur " +
        "FROM s WHERE tr > 0 GROUP BY g) " +
        "SELECT g AS cohort, psi, n_ref, n_cur, psi > 0.2 AS drifted FROM a " +
        "UNION ALL SELECT g, CAST(NULL AS DOUBLE), CAST(0 AS BIGINT), " +
        "CAST(sum(nc) AS BIGINT), TRUE FROM " +
        "(SELECT g, nc, sum(nr) OVER (PARTITION BY g) AS gtr FROM c) z " +
        "WHERE gtr = 0 GROUP BY g " +
        "ORDER BY cohort"),


    // resample: last-observation-per-day (ts desc, value desc tiebreak),
    // dense per-user day spine, forward fill via IGNORE NULLS window
    "events_resample_ffill" ->
      ("WITH obs AS (SELECT user_id, CAST(ts AS DATE) AS day, value, " +
        "row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts DESC, value DESC) AS rn FROM events), " +
        "d1 AS (SELECT user_id, day, value FROM obs WHERE rn = 1), " +
        "spine AS (SELECT user_id, CAST(unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS DATE) AS day " +
        "FROM d1 GROUP BY user_id), " +
        "j AS (SELECT s.user_id, s.day, d.value FROM spine s LEFT JOIN d1 d USING (user_id, day)) " +
        "SELECT user_id, day, " +
        "round(last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING), 4) AS value_ffill, " +
        "value IS NOT NULL AS is_observed FROM j ORDER BY user_id, day"),


    // trend: identical integer-day regressor (bit-exact x on both sides)
    "events_trend" ->
      ("WITH e AS (SELECT user_id, CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS DOUBLE) AS x, value FROM events) " +
        "SELECT user_id, round(regr_slope(value, x), 4) AS slope, " +
        "round(regr_r2(value, x), 4) AS r2, CAST(regr_count(value, x) AS BIGINT) AS n, " +
        s"${centsMean4Sql("value")} AS mean_value FROM e GROUP BY user_id ORDER BY user_id"),


    "events_funnel" ->
      ("WITH m AS (SELECT user_id, " +
        "min(CASE WHEN event_type = 'view' THEN ts END) AS v, " +
        "min(CASE WHEN event_type = 'click' THEN ts END) AS c, " +
        "min(CASE WHEN event_type = 'purchase' THEN ts END) AS p " +
        "FROM events GROUP BY user_id) " +
        "SELECT CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed, " +
        "CAST(sum(CASE WHEN v < c THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after_view, " +
        "CAST(sum(CASE WHEN v < c AND c < p THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel " +
        "FROM m"),


    "events_session_window" ->
      ("WITH x AS (SELECT user_id, ts, event_id, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events) " +
        "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, " +
        "CAST(sum(CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions " +
        "FROM x GROUP BY user_id ORDER BY user_id"),


    "events_asof_join" ->
      ("SELECT p.event_id AS p_event_id, p.user_id AS user_id, epoch_us(p.ts) AS p_ts_us, " +
        "v.event_id AS view_event_id, epoch_us(v.ts) AS view_ts_us " +
        "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p " +
        "ASOF JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v " +
        "ON p.user_id = v.user_id AND p.ts >= v.ts " +
        "ORDER BY p_event_id"),


    "events_asof_forward" ->
      ("SELECT v_event_id, user_id, v_ts_us, purchase_event_id, purchase_ts_us FROM (" +
        "SELECT v.event_id AS v_event_id, v.user_id AS user_id, epoch_us(v.ts) AS v_ts_us, " +
        "p.event_id AS purchase_event_id, epoch_us(p.ts) AS purchase_ts_us, " +
        "row_number() OVER (PARTITION BY v.event_id ORDER BY p.ts ASC, p.event_id DESC) AS rn " +
        "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v " +
        "JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p " +
        "ON v.user_id = p.user_id AND p.ts >= v.ts) t " +
        "WHERE rn = 1 ORDER BY v_event_id"),


    "events_asof_nearest" ->
      ("SELECT p_event_id, user_id, p_ts_us, view_event_id, view_ts_us FROM (" +
        "SELECT p.event_id AS p_event_id, p.user_id AS user_id, epoch_us(p.ts) AS p_ts_us, " +
        "v.event_id AS view_event_id, epoch_us(v.ts) AS view_ts_us, " +
        "row_number() OVER (PARTITION BY p.event_id ORDER BY " +
        "abs(epoch_us(p.ts) - epoch_us(v.ts)), " +
        "CASE WHEN v.ts <= p.ts THEN 0 ELSE 1 END, v.event_id DESC) AS rn " +
        "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p " +
        "JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v " +
        "ON p.user_id = v.user_id) t " +
        "WHERE rn = 1 ORDER BY p_event_id"),


    "events_json_agg" ->
      ("SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value, " +
        "round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k " +
        "FROM events GROUP BY event_type ORDER BY event_type"),


    "events_range_join" ->
      ("SELECT p.event_id AS p_event_id, p.user_id AS user_id, v.event_id AS view_event_id, " +
        "epoch_us(p.ts) AS p_ts_us, epoch_us(v.ts) AS view_ts_us " +
        "FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p " +
        "JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v " +
        "ON p.user_id = v.user_id AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR " +
        "ORDER BY p_event_id, view_event_id"),


    // replays TimeSeries.acf's SEMANTICS, not its plan: the oracle
    // materializes the densified (type × every-day-in-span) grid and sums
    // dev products directly, while the Spark side computes the SAME
    // moments from the sparse rows plus closed-form zero-day corrections
    // (ss = Σ_sparse(x−μ)² + (D−S)μ²; num_k = Σ x·x' − μ(T−tail_k) −
    // μ(T−head_k) + (D−k)μ²) — algebraically equal, floating-point
    // reassociated, reconciled by the 4-dp output rounding
    "events_acf" ->
      ("WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS day, " +
        "CAST(count(*) AS DOUBLE) AS x FROM events GROUP BY 1, 2), " +
        "span AS (SELECT g, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1), " +
        "grid AS (SELECT g, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM span), " +
        "dense AS (SELECT grid.g, grid.day, coalesce(daily.x, 0) AS x " +
        "FROM grid LEFT JOIN daily ON grid.g = daily.g AND grid.day = daily.day), " +
        "mu AS (SELECT g, avg(x) AS mu FROM dense GROUP BY 1), " +
        "dev AS (SELECT dense.g, day, x - mu AS dev FROM dense JOIN mu ON dense.g = mu.g), " +
        "den AS (SELECT g, sum(dev * dev) AS ss FROM dev GROUP BY 1), " +
        "lg AS (SELECT CAST(unnest(generate_series(1, 7)) AS INTEGER) AS lag), " +
        "pr AS (SELECT a.g, lg.lag, sum(a.dev * b.dev) AS num, CAST(count(*) AS BIGINT) AS n_pairs " +
        "FROM dev a CROSS JOIN lg JOIN dev b ON a.g = b.g AND b.day = a.day + lg.lag GROUP BY 1, 2) " +
        "SELECT pr.g AS event_type, pr.lag, round(pr.num / den.ss, 4) AS acf, pr.n_pairs " +
        "FROM pr JOIN den ON pr.g = den.g ORDER BY event_type, lag"),


    // replays meanShiftChangepoint: integer day-count cums make every
    // mean/score identical down to the bit in both engines, so the
    // (score DESC, day) argmax is engine-stable before rounding
    "events_changepoint" ->
      ("WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS day, " +
        "CAST(count(*) AS DOUBLE) AS x FROM events GROUP BY 1, 2), " +
        "tot AS (SELECT g, sum(x) AS tot, CAST(count(*) AS BIGINT) AS n_days FROM daily GROUP BY 1), " +
        "sc AS (SELECT daily.g, day, n_days, tot, " +
        "sum(x) OVER (PARTITION BY daily.g ORDER BY day) AS cum, " +
        "CAST(row_number() OVER (PARTITION BY daily.g ORDER BY day) AS DOUBLE) AS t " +
        "FROM daily JOIN tot ON daily.g = tot.g), " +
        "scored AS (SELECT g, day, n_days, cum / t AS mean_before, " +
        "(tot - cum) / (n_days - t) AS mean_after, " +
        "abs(cum / t - (tot - cum) / (n_days - t)) * sqrt(t * (n_days - t) / n_days) AS score " +
        "FROM sc WHERE t < n_days), " +
        "pick AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY score DESC, day) AS rk FROM scored) " +
        "SELECT g AS event_type, day AS split_day, n_days, round(mean_before, 4) AS mean_before, " +
        "round(mean_after, 4) AS mean_after, round(score, 4) AS score " +
        "FROM pick WHERE rk = 1 ORDER BY event_type"),


    // replays Stats.welchPairs: one moment aggregate per group, the
    // textbook t / Welch–Satterthwaite df on the k-row pairs join
    "ab_welch_ttest" ->
      ("WITH st AS (SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n, " +
        "avg(value) AS mean, var_samp(value) AS vr FROM events GROUP BY 1) " +
        "SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b, " +
        "round(a.mean, 4) AS mean_a, round(b.mean, 4) AS mean_b, " +
        "round((a.mean - b.mean) / sqrt(a.vr / a.n + b.vr / b.n), 4) AS t_stat, " +
        "round(pow(a.vr / a.n + b.vr / b.n, 2) / " +
        "(pow(a.vr / a.n, 2) / (a.n - 1) + pow(b.vr / b.n, 2) / (b.n - 1)), 2) AS df_welch, " +
        "abs((a.mean - b.mean) / sqrt(a.vr / a.n + b.vr / b.n)) > 1.96 AS significant " +
        "FROM st a JOIN st b ON a.g < b.g ORDER BY group_a, group_b"),


    // replays Stats.chiSquare over the user-parity cohort: contingency
    // cells, margins, expecteds e = rt·ct/n, Cramér's V from the
    // UNROUNDED chi2 (as the Spark select does)
    "ab_chi_square" ->
      ("WITH cc AS (SELECT CAST(user_id % 2 AS VARCHAR) AS r, event_type AS c, " +
        "CAST(count(*) AS DOUBLE) AS o FROM events GROUP BY 1, 2), " +
        "rt AS (SELECT r, sum(o) AS rtot FROM cc GROUP BY 1), " +
        "ct AS (SELECT c, sum(o) AS ctot FROM cc GROUP BY 1), " +
        "nn AS (SELECT sum(o) AS n, CAST(count(DISTINCT r) AS BIGINT) AS nr, " +
        "CAST(count(DISTINCT c) AS BIGINT) AS nc FROM cc), " +
        "term AS (SELECT (o - rtot * ctot / n) * (o - rtot * ctot / n) / (rtot * ctot / n) AS term, " +
        "n, nr, nc FROM cc JOIN rt ON cc.r = rt.r JOIN ct ON cc.c = ct.c CROSS JOIN nn), " +
        "agg AS (SELECT n, nr, nc, sum(term) AS chi2 FROM term GROUP BY n, nr, nc) " +
        "SELECT round(chi2, 4) AS chi2, (nr - 1) * (nc - 1) AS dof, CAST(n AS BIGINT) AS n, " +
        "round(sqrt(chi2 / (n * least(nr - 1, nc - 1))), 4) AS cramers_v FROM agg"),


    // replays interarrivalStats: identical integer-microsecond gaps in
    // both engines, quantile_cont ≡ Spark's interpolating percentile
    "events_interarrival" ->
      ("WITH g AS (SELECT event_type, epoch_us(ts) - lag(epoch_us(ts)) OVER " +
        "(PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap FROM events) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps, " +
        "round(avg(gap) / 1e6, 4) AS mean_gap_s, " +
        "round(quantile_cont(gap, 0.5) / 1e6, 4) AS p50_gap_s, " +
        "round(quantile_cont(gap, 0.95) / 1e6, 4) AS p95_gap_s, " +
        "round(max(gap) / 1e6, 4) AS max_gap_s " +
        "FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1"),


    // replays attribution_multi_touch (ops/Attribution): same range join,
    // same per-purchase normalizers (identical half-life constant
    // 3.024e11 μs), the same (ts, channel) within-purchase order for
    // last/position, 40/20/40 position weights with the n=1 → 1.0 and
    // n=2 → 0.5/0.5 degenerate cases, 'direct' via the NOT IN anti-join
    "attribution_multi_touch" ->
      ("WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
        "t AS (SELECT user_id, ts, event_type FROM events WHERE event_type <> 'purchase'), " +
        "j AS (SELECT p.event_id, p.value, t.event_type AS channel, t.ts AS tts, " +
        "epoch_us(p.ts) - epoch_us(t.ts) AS age_us " +
        "FROM p JOIN t ON p.user_id = t.user_id AND t.ts <= p.ts AND t.ts >= p.ts - INTERVAL 7 DAY), " +
        "w AS (SELECT event_id, value, channel, " +
        "power(0.5, age_us / 3.024e11) AS wd, " +
        "count(*) OVER (PARTITION BY event_id) AS n, " +
        "sum(power(0.5, age_us / 3.024e11)) OVER (PARTITION BY event_id) AS wsum, " +
        "row_number() OVER (PARTITION BY event_id ORDER BY tts, channel) AS pos FROM j), " +
        "c AS (SELECT channel, " +
        "CASE WHEN pos = n THEN value ELSE 0 END AS lst, " +
        "value / n AS lin, value * wd / wsum AS dcy, " +
        "value * (CASE WHEN n = 1 THEN 1.0 WHEN n = 2 THEN 0.5 " +
        // (1.0 - 2*0.4) not the literal 0.2: both engines then produce the
        // IEEE-identical 0x3FC999...6 middle weight the Spark side computes
        "WHEN pos = 1 OR pos = n THEN 0.4 ELSE (1.0 - 2 * 0.4) / (n - 2) END) AS psn FROM w " +
        "UNION ALL SELECT 'direct', value, value, value, value FROM p " +
        "WHERE event_id NOT IN (SELECT event_id FROM j)) " +
        "SELECT channel, CAST(count(*) AS BIGINT) AS n_credits, " +
        "round(sum(lst), 4) AS last_value, round(sum(lin), 4) AS linear_value, " +
        "round(sum(dcy), 4) AS decay_value, round(sum(psn), 4) AS position_value " +
        "FROM c GROUP BY 1 ORDER BY 1"),


    // replays markovRemovalEffect end-to-end: journey split at purchases
    // (prefix-count window), the same three edge families (start→first,
    // touch→touch|conv, trailing last touch→null), row-normalized
    // probabilities with absorbing self-loops, then the SAME 100
    // synchronous Jacobi steps as an unrolled recursive CTE — one row per
    // (state, removed-channel) generation, transitions into the removed
    // channel contributing zero. RE = 1 − p_removed/p_full at '__start';
    // value share V·RE/ΣRE.
    "attribution_markov" ->
      ("WITH RECURSIVE ev AS (SELECT user_id, ts, event_id, event_type, " +
        "event_type = 'purchase' AS isconv FROM events), " +
        "jo AS (SELECT *, coalesce(sum(CASE WHEN isconv THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jid FROM ev), " +
        "tr AS (SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id, jid ORDER BY ts, event_id), '__start') AS f, " +
        "CASE WHEN isconv THEN '__conv' ELSE event_type END AS t FROM jo " +
        "UNION ALL " +
        "SELECT event_type AS f, '__null' AS t FROM (" +
        "SELECT event_type, row_number() OVER (PARTITION BY user_id, jid ORDER BY ts DESC, event_id DESC) AS rn, " +
        "max(CASE WHEN isconv THEN 1 ELSE 0 END) OVER (PARTITION BY user_id, jid) AS hc FROM jo) z " +
        "WHERE rn = 1 AND hc = 0), " +
        "cnt AS (SELECT f, t, CAST(count(*) AS DOUBLE) AS n FROM tr GROUP BY 1, 2), " +
        "probs AS (SELECT f, t, n / sum(n) OVER (PARTITION BY f) AS p FROM cnt " +
        "UNION ALL SELECT '__conv', '__conv', 1.0 " +
        "UNION ALL SELECT '__null', '__null', 1.0), " +
        // DuckDB 1.0.0 quirk: inside WITH RECURSIVE a non-self-referencing
        // `a UNION b` CTE does NOT dedup across branches — dedup in a
        // subquery instead (a duplicated state row doubles p each step)
        "states AS (SELECT DISTINCT s FROM (SELECT f AS s FROM probs UNION ALL SELECT t AS s FROM probs) u), " +
        "removals AS (SELECT DISTINCT event_type AS c FROM events WHERE event_type <> 'purchase' " +
        "UNION ALL SELECT '__none'), " +
        // CAST the base p to DOUBLE: a bare 1.0 literal types the
        // recursive column DECIMAL(2,1), silently truncating every
        // generation to one decimal place
        "it AS (SELECT 0 AS k, s.s AS state, r.c AS removed, " +
        "CAST(CASE WHEN s.s = '__conv' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS p " +
        "FROM states s CROSS JOIN removals r " +
        "UNION ALL " +
        "SELECT i.k + 1, pr.f, i.removed, " +
        "sum(pr.p * CASE WHEN pr.t = i.removed THEN 0.0 ELSE i.p END) " +
        "FROM it i JOIN probs pr ON pr.t = i.state WHERE i.k < 100 " +
        "GROUP BY 1, 2, 3), " +
        "fin AS (SELECT removed, p FROM it WHERE k = 100 AND state = '__start'), " +
        "re AS (SELECT removed AS channel, " +
        "greatest(0.0, 1.0 - fin.p / nullif((SELECT p FROM fin WHERE removed = '__none'), 0)) AS r " +
        "FROM fin WHERE removed <> '__none'), " +
        "tv AS (SELECT sum(value) AS v FROM events WHERE event_type = 'purchase') " +
        "SELECT channel, round(r, 4) AS removal_effect, " +
        "round(coalesce((SELECT v FROM tv) * r / nullif((SELECT sum(r) FROM re), 0), 0.0), 4) AS markov_value " +
        "FROM re ORDER BY channel"),


    // replays attribution_last_touch: same 7-day backward window, same
    // (ts, event_type, event_id) DESC tie-break as the asOfJoin's
    // largest-right-struct rule, unmatched purchases → 'direct'
    "attribution_last_touch" ->
      ("WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
        "t AS (SELECT user_id, ts, event_type, event_id FROM events WHERE event_type <> 'purchase'), " +
        "m AS (SELECT p.event_id, p.value, t.event_type, " +
        "row_number() OVER (PARTITION BY p.event_id ORDER BY t.ts DESC, t.event_type DESC, t.event_id DESC) AS rk " +
        "FROM p LEFT JOIN t ON p.user_id = t.user_id AND t.ts <= p.ts AND t.ts >= p.ts - INTERVAL 7 DAY) " +
        "SELECT coalesce(event_type, 'direct') AS channel, CAST(count(*) AS BIGINT) AS n_purchases, " +
        "round(sum(value), 4) AS attributed_value " +
        "FROM m WHERE rk = 1 GROUP BY 1 ORDER BY 1"),
  )
}
