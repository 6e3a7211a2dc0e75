package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling/splitting for training-data pipelines.
  *
  * All assignment is HASH-based on stable keys — no RNG, no
  * `df.randomSplit` (whose assignment changes with partitioning): a row's
  * split never changes as the corpus grows, across runs, or across
  * engines, which is the property data pipelines actually need
  * (reproducible held-out sets, no train/test leakage on re-ingest).
  */
object Sampling {

  private val Buckets = 1000000L

  /** Uniform [0,1) weight from the key columns (xxhash64 → bucket /
    * buckets).
    */
  def hashWeight(keys: Column*): Column =
    pmod(xxhash64(keys: _*), lit(Buckets)).cast("double") / Buckets.toDouble

  /** Assign 'train' / 'test' by hashed key: rows with weight <
    * `testFraction` go to test. Disjoint, exhaustive, stable.
    */
  def trainTestSplit(df: DataFrame, testFraction: Double, keys: Column*): DataFrame =
    df.withColumn("split",
      when(hashWeight(keys: _*) < testFraction, lit("test")).otherwise(lit("train")))

  /** GROUP-integrity split: every row of a group (all of one user's
    * events, all chunks of one document) lands in the SAME split, so
    * evaluation never sees fragments of an entity the model trained on —
    * the leakage row-level splits like [[trainTestSplit]](row-key) cannot
    * prevent. Assignment hashes ONLY the group key (32-bit md5 prefix of
    * `seed:group` vs the fraction threshold — the engine-recomputable
    * idiom of [[mixEpochs]], so plain-SQL oracles replay it), making the
    * split a pure map-side projection: no shuffle, no group table, and a
    * group's assignment never changes as its rows grow across refreshes.
    */
  def groupedSplit(
      df: DataFrame,
      testFraction: Double,
      groupCol: Column,
      seed: String): DataFrame = {
    require(testFraction > 0 && testFraction < 1,
      s"testFraction must be in (0,1): $testFraction")
    val h = conv(substring(md5(
        concat_ws(":", lit(seed), groupCol.cast("string"))), 1, 8), 16, 10)
      .cast("long")
    val threshold = math.floor(testFraction * 4294967296.0d).toLong
    df.withColumn("split",
      when(h < threshold, lit("test")).otherwise(lit("train")))
  }

  /** Deterministic fraction-per-stratum sampling: keep a row iff its hash
    * weight (salted by the stratum so strata sample independently) falls
    * below `fraction`.
    */
  def stratifiedSample(df: DataFrame, strataCol: Column, fraction: Double, keys: Column*): DataFrame =
    df.filter(hashWeight((strataCol +: keys): _*) < fraction)

  /** Weighted sampling WITHOUT replacement via the public
    * Efraimidis–Spirakis exponential-key scheme (Inf. Proc. Letters 97,
    * 2006): each row gets key `-ln(u) / w` for a uniform `u` and weight
    * `w`, and the k SMALLEST keys are exactly a weighted sample without
    * replacement. `u` is this object's deterministic [[hashWeight]]
    * (shifted half a bucket off 0 so `ln` is total) — reproducible
    * row-for-row across runs and partitionings, like every sampler here.
    * Rows with weight <= 0 or NULL are ineligible and filtered (ES keys
    * are undefined there).
    *
    * Output adds `sample_key` (the selection key, for audits and as the
    * deterministic tiebreak order). Scale: one map-side key computation +
    * a global top-k (`TakeOrderedAndProject`) — per-partition heaps of k,
    * a k·P driver merge, NO full sort and no shuffle of the corpus; k is
    * driver-bounded by construction (same contract as any collect-k).
    */
  def weightedSample(df: DataFrame, k: Int, weightCol: Column, keys: Column*): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val u = (pmod(xxhash64(keys: _*), lit(Buckets)).cast("double") + 0.5d) / Buckets.toDouble
    df.filter(weightCol.isNotNull && weightCol > 0)
      .withColumn("sample_key", -log(u) / weightCol.cast("double"))
      .orderBy(col("sample_key"))
      .limit(k)
  }

  /** Per-stratum [[weightedSample]]: the k smallest ES keys within EACH
    * stratum. The in-stratum rank is [[rankInStratum]]'s bucketed
    * two-level prefix sum (keys as the tiebreak — ES keys are doubles, so
    * exact ties are measure-zero but must not be left to partition
    * order), so one giant stratum ranks in parallel across range buckets
    * — use this form, not k × filter, when strata are many.
    */
  def weightedSamplePerStratum(
      df: DataFrame,
      strataCol: Column,
      k: Int,
      weightCol: Column,
      keys: Column*): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val u = (pmod(xxhash64((strataCol +: keys): _*), lit(Buckets)).cast("double") + 0.5d) /
      Buckets.toDouble
    val withKey = df.filter(weightCol.isNotNull && weightCol > 0)
      .withColumn("sample_key", -log(u) / weightCol.cast("double"))
    rankInStratum(withKey, strataCol, 0, (col("sample_key") +: keys): _*)
      .filter(col("stratum_rank") <= k)
      .drop("stratum_rank")
  }

  /** Weighted source mixing for corpus composition (the
    * temperature-weighted source mix of public pretraining recipes — e.g.
    * the GPT-3 / Pile corpus-weighting scheme): each row is emitted
    * `floor(rate)` times plus one more with probability `frac(rate)`, where
    * `rate` is its source's mixing rate (`defaultRate` when absent from the
    * map). Subsumes downsampling (rate < 1 keeps that fraction) and integer
    * or fractional upsampling (rate 2.3 → 2 or 3 copies).
    *
    * Deterministic: the fractional decision is the same stable hash as the
    * rest of this object (salted by the source so sources decide
    * independently) — the mix is reproducible row-for-row across runs,
    * partitionings, and engines. Emission is one generator expression
    * (`explode` of a per-row `sequence`), map-side fused into the scan: no
    * shuffle, no driver involvement, bounded 1 + floor(rate) fan-out.
    * Output carries a `copy` index (0-based) so upsampled replicas remain
    * distinguishable downstream (e.g. for per-epoch shuffling salts).
    */
  def mixSources(
      df: DataFrame,
      sourceCol: Column,
      rates: Map[String, Double],
      defaultRate: Double,
      keys: Column*): DataFrame = {
    require(defaultRate >= 0, s"defaultRate must be >= 0: $defaultRate")
    rates.foreach { case (s, r) => require(r >= 0, s"rate for '$s' must be >= 0: $r") }
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (srcVal, r)) =>
      when(sourceCol === lit(srcVal), lit(r)).otherwise(acc)
    }
    val whole = floor(rate).cast("bigint")
    val fracPart = rate - floor(rate)
    val copies = whole +
      when(hashWeight((sourceCol +: keys): _*) < fracPart, lit(1L)).otherwise(lit(0L))
    df.withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__copies")
  }

  /** Temperature-weighted mixture shares for corpus composition (the
    * public multilingual-pretraining recipe — e.g. the mBERT/XLM-R
    * `p_i ∝ n_i^τ` scheme, τ ∈ (0, 1] flattening the source distribution
    * toward uniform): aggregates each source's size, raises it to `tau`,
    * and emits the natural share, the temperature share, and the implied
    * up/down-sampling factor (`p_temp / p_nat`) whose rates feed
    * [[mixSources]] directly.
    *
    * Scale: ONE aggregate shuffle keyed by the source; the normalization
    * totals are a 1-row aggregate broadcast back — the per-source table is
    * vocabulary-sized (#sources), never corpus-sized, so every downstream
    * step is driver-free and bounded.
    */
  def temperatureWeights(
      df: DataFrame,
      sourceCol: Column,
      sizeCol: Column,
      tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1]: $tau")
    // fail LOUDLY on bad sizes instead of emitting NULL/NaN weights: a
    // negative size would flow silently through pow(); an all-null/empty
    // input would make every share NULL. assert_true is map-side and
    // codegen'd (coalesce forces evaluation — a bare unused column would
    // be pruned by Catalyst).
    val sz = sizeCol.cast("double")
    val checked = coalesce(
      assert_true(sz.isNull || sz >= 0,
        lit("temperatureWeights: size column must be >= 0")).cast("double"),
      sz)
    val per = df.groupBy(sourceCol.as("source"))
      .agg(sum(checked).as("n_size"))
      .withColumn("__n_temp", pow(col("n_size"), lit(tau)))
    val totals = per
      .agg(sum(col("n_size")).as("__tot_nat"), sum(col("__n_temp")).as("__tot_temp"))
      .select(
        coalesce(assert_true(col("__tot_nat") > 0,
          lit("temperatureWeights: total size must be > 0 (empty input or all-null sizes)"))
          .cast("double"), col("__tot_nat")).as("__tot_nat"),
        col("__tot_temp"))
    per.join(broadcast(totals))
      .withColumn("p_natural", col("n_size") / col("__tot_nat"))
      .withColumn("p_temperature", col("__n_temp") / col("__tot_temp"))
      .withColumn("upsample_factor", col("p_temperature") / col("p_natural"))
      .drop("__n_temp", "__tot_nat", "__tot_temp")
  }

  /** Per-stratum document-count cap (the RefinedWeb-style per-domain cap:
    * no single domain/source may contribute more than `k` documents): rows
    * rank within their stratum by `order` and survive iff rank <= `k`.
    * Pass [[hashWeight]] plus an id tiebreak for an unbiased deterministic
    * cap, or an explicit column (e.g. quality descending) for a best-first
    * cap. Output adds `stratum_rank` for utilization audits.
    *
    * Scale: the rank comes from [[rankInStratum]]'s bucketed two-level
    * prefix sum — no window partition ever wider than one range bucket,
    * so a corpus-sized single stratum caps in parallel instead of
    * serializing through one task's sort.
    *
    * Tie safety: [[rankInStratum]] requires a TOTAL order (with ties the
    * per-row ranks inside a tie group depend on physical row order, so a
    * tie group straddling `k` would split non-deterministically). Rather
    * than trust every caller, a content-hash tiebreak
    * (`xxhash64` over ALL input columns) is appended to `order` here:
    * rows that differ anywhere order deterministically, and rows that are
    * FULLY identical are interchangeable — whichever copies survive, the
    * output multiset is the same. Callers that already pass a total order
    * (the declared queries do) are unaffected: a tiebreak after a total
    * order never reorders anything.
    */
  def capPerStratum(df: DataFrame, strataCol: Column, k: Int, order: Column*): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(order.nonEmpty, "capPerStratum needs a deterministic in-stratum order")
    // maps (incl. nested) are not hashable in Spark — leave them out of
    // the tiebreak, same exclusion rule as Loads.upsert's residual order
    val hashable = df.schema.fields
      .filter(f => org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
      .map(f => col(f.name)).toSeq
    val contentTiebreak =
      if (hashable.nonEmpty) xxhash64(hashable: _*) else lit(0L)
    rankInStratum(df, strataCol, 0, (order :+ contentTiebreak): _*)
      .filter(col("stratum_rank") <= k)
  }

  /** Deterministic per-stratum token-budget cap (the "sample each source
    * down to N tokens" step of corpus-mixing recipes): rows are ordered
    * within each stratum by `order` — pass [[hashWeight]] plus an id
    * tiebreak for an unbiased deterministic sample, or an explicit column
    * (e.g. the id, or quality descending for a best-first budget) — the
    * running token total is computed, and a row survives iff its INCLUSIVE
    * running total stays within `budget`: the greedy prefix that never
    * exceeds the budget. A row larger than the remaining budget is dropped
    * and does NOT refill from later rows — selection stays order-monotone,
    * so a row's fate never changes when the corpus grows past it.
    *
    * Output adds `cum_tokens` (the inclusive running total) for per-stratum
    * utilization audits; `cum_tokens` is a reserved output name — the
    * input must not already carry it (it would be silently replaced), and
    * token counts must be >= 0 (a negative count breaks the monotone-prefix
    * guarantee the greedy filter relies on; counts are not re-validated
    * row-by-row).
    *
    * Scale: the two-level distributed prefix sum ([[Packing.packChunks]]'
    * shape, generalized to arbitrary orderable keys). A
    * `repartitionByRange(numBuckets, strata, order…)` slices every stratum
    * into range buckets — bucket ids (`spark_partition_id`) are monotone in
    * (strata, order…) by construction, so per-(stratum, bucket) running
    * sums compose with a per-stratum bucket-offset roll-up whose window
    * sees ONE ROW PER BUCKET, never the corpus. A single corpus-sized
    * stratum therefore caps in parallel across `numBuckets` tasks instead
    * of serializing through one unbounded-preceding window partition
    * (the round-6 form — correct, but one executor sorted the whole
    * stratum). The bucketization never changes values: prefix sums are
    * associative, so `cum_tokens` is identical for ANY bucket boundaries.
    *
    * @param numBuckets range buckets for the prefix sum; 0 (default) sizes
    *                   to 4 × defaultParallelism
    */
  def tokenBudget(
      df: DataFrame,
      strataCol: Column,
      tokensCol: Column,
      budget: Long,
      order: Column*): DataFrame =
    tokenBudget(df, strataCol, tokensCol, budget, 0, order: _*)

  def tokenBudget(
      df: DataFrame,
      strataCol: Column,
      tokensCol: Column,
      budget: Long,
      numBuckets: Int,
      order: Column*): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    require(order.nonEmpty, "tokenBudget needs a deterministic in-stratum order")
    require(!df.columns.contains("cum_tokens"),
      "tokenBudget reserves the output column name 'cum_tokens'; rename the input column")
    bucketedPrefixSum(df, strataCol, tokensCol, "cum_tokens", numBuckets, order: _*)
      .filter(col("cum_tokens") <= budget)
  }

  /** The bucketed two-level distributed prefix sum — the engine behind
    * [[tokenBudget]], [[rankInStratum]], [[shuffleOrder]] and
    * [[interleaveSources]]: an INCLUSIVE per-stratum running sum of
    * `valueCol` under `order`, with no window partition ever wider than
    * one range bucket.
    *
    * Level 0 range-buckets on (strata, order…), so bucket ids
    * (`spark_partition_id`) are monotone in the sort key by construction;
    * level 1 computes the running sum inside each (stratum, bucket) in
    * parallel; level 2 rolls per-(stratum, bucket) totals into bucket
    * offsets through a window that sees ONE ROW PER BUCKET, never the
    * corpus. A corpus-sized single stratum therefore sums in parallel
    * across `numBuckets` tasks instead of serializing through one
    * unbounded-preceding window partition. Bucketization never changes
    * values: prefix sums are associative, so the result is identical for
    * ANY bucket boundaries.
    *
    * The STATIC plan shows the level-0 range exchange twice (the running
    * sum and the offsets roll-up are two consumers of `bucketed`); at
    * runtime AQE's exchange reuse collapses them — the final adaptive
    * plan carries a `ReusedExchange` for the offsets leg (verified via
    * `graft.tools.Run final-plan`), so the input is scanned and
    * range-shuffled ONCE.
    */
  private def bucketedPrefixSum(
      df: DataFrame,
      strataCol: Column,
      valueCol: Column,
      outName: String,
      numBuckets: Int,
      order: Column*): DataFrame = {
    val n =
      if (numBuckets > 0) numBuckets
      else math.max(4 * df.sparkSession.sparkContext.defaultParallelism, 4)
    // level 0: range-bucket on (strata, order…) — partition ids are
    // monotone in the sort key, so they bound window partitions below.
    // localCheckpoint is CORRECTNESS, not caching: this frame feeds BOTH
    // the local-rank leg and the offsets leg, and repartitionByRange
    // picks its boundaries by SAMPLING the parent — whose within-
    // partition row order after a shuffle is nondeterministic. Left
    // lazy, the two legs can evaluate the range exchange with different
    // boundaries, so a row's __bkt in the local leg need not match the
    // bucket its count landed in on the offsets leg — offsets misalign
    // and global ranks duplicate (caught by the ×10-scale oracle gate:
    // curriculum_order ranked 50k rows with only 49,128 distinct
    // positions). Materializing pins ONE bucket assignment for both
    // legs (and evaluates the upstream plan once instead of twice).
    val bucketed = df
      .repartitionByRange(n, (strataCol +: order): _*)
      .withColumn("__tok", valueCol.cast("bigint"))
      .withColumn("__bkt", spark_partition_id())
      .localCheckpoint()
    // level 1: running sum inside each (stratum, bucket) — parallel
    val wLocal = Window.partitionBy(strataCol, col("__bkt")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = bucketed.withColumn("__local", sum(col("__tok")).over(wLocal))
    // level 2: per-stratum bucket offsets — one row per (stratum, bucket),
    // so the running-sum window is bounded by numBuckets, not the corpus
    // offset-side columns get distinct names: both legs derive from
    // `bucketed`, so a same-named __bkt equality would resolve ambiguously
    // (Spark degrades it to trivially-true) and cross-join a multi-bucket
    // stratum's offsets
    val offsets = bucketed.groupBy(strataCol.as("__s"), col("__bkt").as("__obkt"))
      .agg(sum(col("__tok")).as("__tot"))
      .withColumn("__off",
        coalesce(sum(col("__tot")).over(
          Window.partitionBy(col("__s")).orderBy(col("__obkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__s"), col("__obkt"), col("__off"))
    local
      .join(broadcast(offsets),
        strataCol <=> col("__s") && col("__bkt") === col("__obkt"))
      .withColumn(outName, col("__off") + col("__local"))
      .drop("__s", "__bkt", "__obkt", "__off", "__local", "__tok")
  }

  /** Distributed per-stratum rank: `row_number()` within each stratum
    * under `order`, as the [[bucketedPrefixSum]] of 1 — so a corpus-sized
    * single stratum ranks in parallel across range buckets instead of
    * serializing through ONE `Window.partitionBy(stratum)` task (the
    * classic giant-source scale-killer: at 100 TB with a handful of
    * sources, that single task sorts ~20 TB). Equal to `row_number` when
    * `order` is a total order (callers must pass a tiebreak, same
    * contract as `row_number` determinism itself).
    *
    * Output adds `stratum_rank` (1-based, BIGINT). Backs
    * [[capPerStratum]], [[weightedSamplePerStratum]] and
    * [[interleaveSources]]' in-source rank, and
    * [[TextAnalysis.qualityPercentileBySource]]'s percentile.
    */
  def rankInStratum(
      df: DataFrame,
      strataCol: Column,
      numBuckets: Int,
      order: Column*): DataFrame = {
    require(order.nonEmpty, "rankInStratum needs a deterministic in-stratum order")
    require(!df.columns.contains("stratum_rank"),
      "rankInStratum reserves the output column name 'stratum_rank'; rename the input column")
    bucketedPrefixSum(df, strataCol, lit(1L), "stratum_rank", numBuckets, order: _*)
  }

  /** Materializes per-source mixture factors into an epoch-expanded
    * corpus — the step that turns [[temperatureWeights]]' abstract
    * `upsample_factor` into actual training rows. A row with factor f
    * yields floor(f) full copies (`epoch` 0..floor(f)-1) plus one
    * fractional copy kept when the 32-bit md5 prefix of (seed:stratum:id)
    * falls below frac(f)·2³² — so f < 1 DOWNSAMPLES deterministically and
    * f > 1 upsamples, reproducible as a pure function of (seed, id).
    * The md5-prefix-vs-hex-threshold comparison is plain SQL, so the
    * declared query carries a full DuckDB oracle.
    *
    * Scale: pure map-side explode — no shuffle, no driver state; output
    * size is Σ ceil(f_s)·|s|. Factors above `maxFactor` fail loudly
    * (assert_true, map-side): a mis-set temperature must not silently
    * explode the corpus by orders of magnitude.
    */
  def mixEpochs(
      df: DataFrame,
      idCol: String,
      strataCol: Column,
      factorCol: Column,
      seed: String,
      maxFactor: Double = 100.0): DataFrame = {
    val f = coalesce(
      assert_true(factorCol.isNotNull && factorCol >= 0 && factorCol <= maxFactor,
        lit(s"mixEpochs: factor must be in [0, $maxFactor]")).cast("double"),
      factorCol.cast("double"))
    val full = floor(f).cast("long")
    val thr = lpad(lower(hex(floor((f - floor(f)) * lit(4294967296.0)).cast("long"))),
      8, "0")
    val key = substring(
      md5(concat_ws(":", lit(seed), strataCol.cast("string"), col(idCol).cast("string"))),
      1, 8)
    df.withColumn("epoch", explode(sequence(lit(0L), full)))
      .filter(col("epoch") < full || key < thr)
  }

  /** Deterministic global training-order shuffle: every row gets a dense
    * 0-based `pos` equal to its rank under `md5(seed ":" id)` (ties — md5
    * collisions — broken by id). The "shuffle the corpus before sharding
    * it into training files" step every epoch pipeline needs, as a pure
    * function of (seed, id): re-runs reproduce the permutation exactly,
    * and changing the seed is a fresh permutation. md5 (not xxhash64) so
    * the SAME ordering is recomputable in standard SQL engines — the
    * declared query carries a full DuckDB oracle instead of a pinned one.
    *
    * Scale: positions come from the two-level range-bucketed prefix sum
    * ([[tokenBudget]] with unit weights) — per-bucket rank windows sort
    * ~1/numBuckets of the corpus each, the bucket-offset roll-up window
    * sees one row per bucket, and NO global single-partition sort exists
    * anywhere. Downstream, `pos div shardSize` is the shard id.
    */
  def shuffleOrder(
      df: DataFrame,
      idCol: String,
      seed: String,
      numBuckets: Int = 0): DataFrame = {
    require(!df.columns.contains("__shuffle_key"),
      "shuffleOrder reserves the column name '__shuffle_key'")
    val keyed = df.withColumn("__shuffle_key",
      md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))))
    tokenBudget(keyed, lit("__all"), lit(1L), Long.MaxValue, numBuckets,
        col("__shuffle_key"), col(idCol))
      .withColumn("pos", col("cum_tokens") - 1)
      .drop("cum_tokens", "__shuffle_key")
  }

  /** Weighted source INTERLEAVING — the training-order materialization of
    * a mixture: each source's documents are shuffled deterministically
    * (md5 rank within source), then the sources merge by stride
    * scheduling: document i of source s sorts at key `(i + 0.5) / w_s`,
    * so a source with twice the weight appears twice as often at every
    * prefix of the stream (the interleave a weighted data loader
    * produces, but precomputed as a column).
    *
    * BOTH ranks are range-bucketed two-level prefix sums: the in-source
    * rank via [[rankInStratum]] and the global position via
    * [[tokenBudget]] over the stride key (the [[shuffleOrder]] technique)
    * — NO single-partition sort anywhere, not even for one giant source.
    *
    * Returns the input plus `pos` (0-based global training position).
    * Weights must be positive; sources missing from `weights` get 1.0.
    */
  def interleaveSources(
      df: DataFrame,
      sourceCol: String,
      idCol: String,
      weights: Map[String, Double],
      seed: String = "mix",
      numBuckets: Int = 0): DataFrame = {
    require(weights.values.forall(_ > 0), s"weights must be positive: $weights")
    val wExpr = weights.foldLeft(lit(1.0)) { case (acc, (s, w)) =>
      when(col(sourceCol) === s, lit(w)).otherwise(acc)
    }
    // in-source rank via the bucketed prefix sum too — a row_number window
    // here would serialize one giant source through a single task, the
    // exact shape the global-position side already avoids
    val ranked = rankInStratum(
      df.withColumn("__mk", md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))),
      col(sourceCol), numBuckets, col("__mk"), col(idCol))
    val keyed = ranked
      .withColumn("__sk", (col("stratum_rank").cast("double") - lit(0.5)) / wExpr)
      .drop("stratum_rank", "__mk")
    tokenBudget(keyed, lit("__all"), lit(1L), Long.MaxValue, numBuckets,
        col("__sk"), col(sourceCol), col(idCol))
      .withColumn("pos", col("cum_tokens") - 1)
      .drop("cum_tokens", "__sk")
  }

  /** EXACT stratified split: exactly `round(fraction · n_s)` rows of
    * EACH stratum go to 'test' — the allocation-exact counterpart of
    * [[trainTestSplit]]/[[stratifiedSample]], whose hash thresholds are
    * only approximately proportional (binomial noise ~ √n per stratum).
    * Rows rank within their stratum by md5(seed:id) — an unbiased
    * deterministic order — and the first round(f·n_s) become 'test'.
    * Reproducible and engine-recomputable (plain md5 + row_number).
    *
    * Scale: the in-stratum rank is [[rankInStratum]]'s bucketed prefix
    * sum; stratum counts ride one broadcast aggregate. Use the hash
    * threshold forms when growth-stability matters more than exact
    * allocation (an exact split re-assigns rows as the corpus grows —
    * inherent to exactness, not to this implementation).
    */
  def exactStratifiedSplit(
      df: DataFrame,
      idCol: String,
      strataCol: Column,
      testFraction: Double,
      seed: String = "split"): DataFrame = {
    require(testFraction >= 0 && testFraction <= 1,
      s"testFraction must be in [0, 1]: $testFraction")
    val ranked = rankInStratum(
      df.withColumn("__sk", md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))),
      strataCol, 0, col("__sk"), col(idCol))
    val counts = df.groupBy(strataCol.as("__cs")).agg(count(lit(1)).as("__cn"))
    ranked
      .join(broadcast(counts), strataCol <=> col("__cs"))
      .withColumn("split",
        when(col("stratum_rank") <=
          round(col("__cn") * lit(testFraction), 0).cast("bigint"), lit("test"))
          .otherwise(lit("train")))
      .drop("__sk", "__cs", "__cn", "stratum_rank")
  }

  /** Curriculum training order (the easy→hard curriculum of Bengio et
    * al. 2009, "Curriculum Learning" — public method): rows split into
    * `tiers` difficulty tiers at exact percentile cuts, shuffle
    * deterministically WITHIN each tier (md5 of the seeded id, the
    * [[shuffleOrder]] key), and receive a global 0-based training
    * position — tier 0 (easiest) streams first. A row's tier is the
    * number of cuts strictly below its difficulty; cuts are computed on
    * 4-dp-rounded values and themselves 4-dp-rounded, so the boundary
    * comparisons are identical cross-engine and the whole order carries
    * a plain SQL oracle. NULL difficulty compares false against every
    * cut and lands in tier 0.
    *
    * Scale: ONE 1-row exact-percentile aggregate broadcast back
    * (tiers-bounded), tier assignment map-side (HOF count over the cut
    * array), and the global position rides [[tokenBudget]]'s bucketed
    * two-level prefix sum over (tier, shuffle key) — no global sort, no
    * single-partition window.
    */
  def curriculumOrder(
      df: DataFrame,
      idCol: String,
      difficultyCol: Column,
      tiers: Int,
      seed: String = "cur",
      numBuckets: Int = 0): DataFrame = {
    require(tiers >= 1, s"tiers must be >= 1: $tiers")
    Seq("tier", "pos").foreach(c => require(!df.columns.contains(c),
      s"curriculumOrder reserves the output column name '$c'"))
    val base = df.withColumn("__diff", round(difficultyCol.cast("double"), 4))
    val qs = (1 until tiers).map(_.toDouble / tiers)
    val cuts =
      if (qs.isEmpty) base.sparkSession.range(1).select(
        array().cast("array<double>").as("__cuts"))
      else base.agg(transform(
        percentile(col("__diff"), array(qs.map(lit): _*)),
        c => round(c, 4)).as("__cuts"))
    val keyed = base
      .crossJoin(broadcast(cuts))
      .withColumn("tier",
        size(filter(col("__cuts"), c => col("__diff") > c)).cast("int"))
      .withColumn("__ck",
        md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))))
    tokenBudget(keyed, lit("__all"), lit(1L), Long.MaxValue, numBuckets,
        col("tier"), col("__ck"), col(idCol))
      .withColumn("pos", col("cum_tokens") - 1)
      .drop("cum_tokens", "__ck", "__cuts", "__diff")
  }

  /** Deterministic NEGATIVE sampling for contrastive training: for each
    * anchor row, `k` pseudo-random same-bucket rows with a DIFFERENT
    * label, ranked by `md5(seed:anchor:cand)` — fully reproducible (the
    * same anchor always draws the same negatives) and recomputable by any
    * engine with md5.
    *
    * The anchor never scans the whole candidate set: both sides bucket by
    * a multiplicative hash of their id (`id·2654435761 mod numBuckets`,
    * Knuth's 2^32/φ constant — exact BIGINT arithmetic any engine
    * reproduces; ids must stay below ~2^31 to avoid ANSI overflow, which
    * corpus-scale callers should swap for xxhash64 + a pinned check), so
    * the join fans out |corpus|/numBuckets candidates per anchor and the
    * per-anchor rank window sorts only that slice. Scale `numBuckets`
    * with the corpus to keep the slice constant-sized; anchors whose
    * bucket holds fewer than `k` off-label rows yield fewer negatives —
    * count them before training.
    *
    * Returns (anchor_id, anchor_label, neg_rank 1..k, neg_id, neg_label).
    */
  def negativeSample(
      df: DataFrame,
      idCol: String,
      labelCol: String,
      k: Int,
      numBuckets: Int = 64,
      seed: String = "neg"): DataFrame = {
    val mult = 2654435761L
    val cand = df.select(col(idCol).as("neg_id"), col(labelCol).as("neg_label"))
      .withColumn("__b", pmod(col("neg_id") * mult, lit(numBuckets.toLong)))
    val anch = df.select(col(idCol).as("anchor_id"), col(labelCol).as("anchor_label"))
      .withColumn("__b", pmod(col("anchor_id") * mult + 1, lit(numBuckets.toLong)))
    val w = Window.partitionBy("anchor_id").orderBy(col("__rk"), col("neg_id"))
    anch.join(cand, Seq("__b"))
      .filter(col("neg_label") =!= col("anchor_label") &&
        col("neg_id") =!= col("anchor_id"))
      .withColumn("__rk", md5(concat(lit(seed), lit(":"),
        col("anchor_id").cast("string"), lit(":"), col("neg_id").cast("string"))))
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select("anchor_id", "anchor_label", "neg_rank", "neg_id", "neg_label")
  }

  /** [[negativeSample]] with the bucket count DERIVED from the corpus
    * size, so the per-anchor candidate slice stays ≈`sliceTarget` rows at
    * any scale. A fixed bucket count makes the anchor↔candidate join
    * O(n²/B) — invisible at test scale, a ~15-billion-row join at the
    * ×100 sweep (the r18 finding that motivated this variant: the
    * declared 16-bucket query ran for an hour at ×100 before being
    * killed). buckets = max(minBuckets, ⌈n / sliceTarget⌉), one metadata
    * count job; deterministic given the corpus, and an oracle recomputes
    * the same derivation (at the sf0.01 contract scale the derivation
    * lands on minBuckets, so this serves the IDENTICAL sample set as
    * `negativeSample(numBuckets = 16)` there).
    */
  def negativeSampleAuto(
      df: DataFrame,
      idCol: String,
      labelCol: String,
      k: Int,
      sliceTarget: Int = 512,
      minBuckets: Int = 16,
      seed: String = "neg"): DataFrame = {
    require(sliceTarget >= 1, s"sliceTarget must be >= 1: $sliceTarget")
    require(minBuckets >= 1, s"minBuckets must be >= 1: $minBuckets")
    val n = df.count()
    val buckets = math.max(minBuckets.toLong,
      (n + sliceTarget - 1) / sliceTarget)
    negativeSample(df, idCol, labelCol, k,
      math.min(buckets, Int.MaxValue.toLong).toInt, seed)
  }

  /** Largest-remainder (Hamilton) apportionment of an integer `budget`
    * over per-stratum INTEGER weights — the "how many training examples
    * does each source actually get" step that turns mixture proportions
    * into exact counts: Σ alloc == budget exactly, every stratum within
    * 1 of its real-valued quota (the apportionment-theory guarantee).
    *
    * ALL-INTEGER arithmetic: base_i = (budget·w_i) div W and
    * remainder_i = (budget·w_i) mod W, the `budget − Σ base` leftover
    * units going to the largest remainders (ties: stratum ascending).
    * No float ever appears, so the result is bit-identical on any
    * engine — a full SQL oracle, unlike the float-quota variant where a
    * 1-ulp `pow` difference could flip a floor. Requires
    * budget·max(w) < 2⁶³ (checked map-side).
    *
    * Scale: `weights` is stratum-level (one row per source — already
    * aggregated), so the two 1-row aggregates (W, Σ base) broadcast and
    * the remainder-rank window spans #strata rows, never a corpus.
    *
    * Output: (stratum, weight, alloc).
    */
  def allocateBudget(
      weights: DataFrame,
      strataCol: Column,
      weightCol: Column,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0: $budget")
    val guard = lit(Long.MaxValue / math.max(budget, 1L))
    val w = coalesce(
      assert_true(weightCol >= 0 && weightCol <= guard,
        lit(s"allocateBudget: weight out of [0, 2^63/$budget]")).cast("bigint"),
      weightCol.cast("bigint"))
    val base = weights.select(strataCol.as("stratum"), w.as("weight"))
    val tot = base.agg(sum(col("weight")).cast("bigint").as("__w"))
      .select(coalesce(
        assert_true(col("__w") > 0, lit("allocateBudget: total weight must be > 0"))
          .cast("bigint"), col("__w")).as("__w"))
    val quotas = base.crossJoin(broadcast(tot))
      // `div`, never `/`: Column./ is DOUBLE division, and a 1-ulp
      // quotient under floor() would break the exact-integer contract
      .withColumn("__base", expr(s"(${budget}L * weight) div __w"))
      .withColumn("__rem", pmod(lit(budget) * col("weight"), col("__w")))
    val spent = quotas.agg(sum(col("__base")).cast("bigint").as("__spent"))
    val rk = Window.orderBy(col("__rem").desc, col("stratum").asc)
    quotas.crossJoin(broadcast(spent))
      .withColumn("__rk", row_number().over(rk))
      .withColumn("alloc",
        col("__base") + when(col("__rk") <= lit(budget) - col("__spent"), 1L).otherwise(0L))
      .select(col("stratum"), col("weight"), col("alloc"))
  }

  /** DoReMi-style domain reweighting (public method: Xie et al., "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * 2023): the recipe's REWEIGHTING loop — exponentiated-gradient ascent
    * on the domain simplex against each domain's EXCESS loss over the
    * current mixture's expected loss, finished with uniform smoothing —
    * starting from the natural (size-proportional) mixture. Domains whose
    * loss exceeds the mixture baseline (hard-for-the-reference domains)
    * gain weight; the rest shrink multiplicatively. The full published
    * method re-measures losses as a proxy model trains; this operator
    * takes ANY per-domain loss frame, so each proxy round plugs refreshed
    * losses in (the declared `mix_doremi` query feeds the repo's
    * unigram-NLL quality signal as the loss).
    *
    * Scale: the distributed work is whatever produced `perDomainLoss`
    * (one corpus pass); the loop itself runs on the collected
    * DOMAIN-sized vector — domains are a handful by definition (the
    * `attribution_markov` bounded-collect convention). Weights round to
    * 12 dp per step so this loop and the unrolled recursive-CTE oracle
    * agree at the output's 6 dp regardless of FP summation order.
    *
    * Input: (domain, n_docs, loss). Output per domain: natural share,
    * re-tuned mixture weight `alpha`, and `upsample_factor =
    * alpha / p_natural` (the number [[mixEpochs]]-style materialization
    * consumes).
    */
  def domainReweight(
      perDomainLoss: DataFrame,
      steps: Int = 20,
      eta: Double = 1.0,
      smoothing: Double = 0.01): DataFrame = {
    require(steps >= 1, s"steps must be >= 1: $steps")
    require(eta > 0, s"eta must be > 0: $eta")
    require(smoothing >= 0 && smoothing < 1, s"smoothing must be in [0,1): $smoothing")
    val spark = perDomainLoss.sparkSession
    import spark.implicits._
    def r12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    // domain-count-bounded collect (deterministic domain order)
    val rows = perDomainLoss.select("domain", "n_docs", "loss")
      .orderBy("domain").collect()
    require(rows.nonEmpty, "domainReweight: no domains")
    val names = rows.map(_.getString(0))
    val nDocs = rows.map(_.getLong(1))
    val losses = rows.map(_.getDouble(2))
    val total = nDocs.sum.toDouble
    var w = nDocs.map(n => r12(n / total))
    (1 to steps).foreach { _ =>
      val baseline = r12(
        w.indices.map(i => w(i) * losses(i)).sum / w.sum)
      w = w.indices.map(i =>
        r12(w(i) * math.exp(eta * math.max(0.0, losses(i) - baseline)))).toArray
    }
    val sw = w.sum
    val k = w.length
    // HALF_UP like SQL round(), not rint's half-to-even
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    names.indices.map { i =>
      val pNat = nDocs(i) / total
      val alpha = (1 - smoothing) * w(i) / sw + smoothing / k
      (names(i), nDocs(i), losses(i),
        r6(pNat), r6(alpha), r6(alpha / pNat))
    }.toDF("domain", "n_docs", "loss", "p_natural", "alpha", "upsample_factor")
  }
}
