package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale utilities: skew salting and bucketed co-located joins — the
  * shuffle-management patterns a 100 TB deployment leans on (builder
  * mandate; none exist in the reference, whose "parallelism" is one cursor,
  * BASELINE.md).
  */
object Scale {

  /** Skew-salted equi-join: the skewed LEFT side gets a deterministic salt
    * in [0, saltFactor) derived from its row content; the small-ish RIGHT
    * side is replicated once per salt value. The hot key's rows spread over
    * `saltFactor` reducers instead of one. (AQE's skew-join handles most
    * cases at runtime; explicit salting remains the tool for extreme single
    * keys and for non-AQE paths.)
    */
  def saltedJoin(
      skewed: DataFrame,
      other: DataFrame,
      key: String,
      saltFactor: Int,
      joinType: String = "inner"): DataFrame = {
    val salted = skewed.withColumn("__salt",
      pmod(xxhash64(struct(skewed.columns.map(col).toSeq: _*)), lit(saltFactor)).cast("int"))
    val replicated = other.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Join-skew pre-flight report: the `topK` heaviest values of a join
    * key with each one's share of all rows and the salt factor that would
    * spread it over `parts`-sized reducers — the diagnostic that decides
    * between a plain join, AQE skew handling, and [[saltedJoin]]. A key
    * holding share `s` of the rows occupies ≈ `s · parts` reducers' worth
    * of work in one task; `salt_factor = ceil(s · parts)` is the
    * replication that levels it (1 = not skewed, leave the join alone).
    *
    * Scale shape: one key-count aggregate (map-side partial), a 1-row
    * totals broadcast, and a bounded top-k — only `topK` rows ever
    * reach the driver/pair frame. Deterministic ties break on the key.
    */
  def skewReport(
      df: DataFrame,
      keyCol: String,
      topK: Int,
      parts: Int): DataFrame = {
    require(topK >= 1 && parts >= 1, s"bad topK=$topK / parts=$parts")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).cast("double").as("__tot"),
      count(lit(1)).as("n_distinct_keys"))
    counts
      .orderBy(col("n").desc, col(keyCol))
      .limit(topK)
      .crossJoin(broadcast(tot))
      .select(col(keyCol), col("n"),
        round(col("n") / col("__tot"), 6).as("share"),
        greatest(lit(1L),
          ceil(col("n") / col("__tot") * parts).cast("bigint")).as("salt_factor"),
        col("n_distinct_keys"))
  }

  /** Join-cardinality pre-flight: the EXACT output row count an equi-join
    * would produce — Σ over matching keys of n_left(k)·n_right(k) — plus
    * the `topK` keys contributing the most pairs. This is the estimate
    * that decides, BEFORE paying for a 100 TB shuffle, whether a join
    * explodes (a 10⁹×10⁹ self-join on a 5-value key is 2·10¹⁷ pairs; the
    * report says so from two count aggregates that cost two map-side
    * partial scans and a #distinct-keys-sized equi-join).
    *
    * Scale shape: one groupBy per side (map-side partial → key-sized
    * frames), an inner key join of the two COUNT frames (never the data),
    * a 1-row totals aggregate broadcast back, and a bounded top-k.
    * Deterministic ties break on the key.
    */
  def joinCardinalityReport(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    val lc = left.groupBy(col(leftKey).as("join_key"))
      .agg(count(lit(1)).as("n_left"))
    val rc = right.groupBy(col(rightKey).as("join_key"))
      .agg(count(lit(1)).as("n_right"))
    val pairs = lc.join(rc, Seq("join_key"))
      .withColumn("pairs", col("n_left") * col("n_right"))
    val tot = pairs.agg(sum(col("pairs")).as("est_total_pairs"),
      count(lit(1)).as("n_join_keys"))
    pairs
      .orderBy(col("pairs").desc, col("join_key"))
      .limit(topK)
      .crossJoin(broadcast(tot))
      .select(col("join_key"), col("n_left"), col("n_right"), col("pairs"),
        round(col("pairs").cast("double") / col("est_total_pairs"), 6).as("share"),
        col("est_total_pairs"), col("n_join_keys"))
  }

  /** Bloom semi-join reduction: prune a 100 TB fact table down to the
    * rows that MIGHT join a selective dim BEFORE the join's shuffle —
    * the classic distributed-join reduction (Bloom, CACM 1970; the same
    * sketch Spark's own runtime row-level filtering plants on broadcast
    * joins, exposed here as an explicit, composable step for the cases
    * the planner's heuristics skip: non-broadcast dims, multi-stage
    * reuse of one filter, pruning before an expensive transform).
    *
    * One pass over the dim builds the sketch (mergeable partial
    * aggregation — a single KB–MB binary row is all that reaches the
    * driver, the model-bounded-collect convention); the fact side then
    * filters map-side through the codegen'd probe
    * ([[graft.functions.TextFunctions.might_contain]]) with zero
    * shuffle. False positives (rate set by `numBits` vs the dim's
    * distinct count) only let extra rows THROUGH — the join after the
    * reduction removes them, so composed results stay exact while the
    * shuffle moves only ≈ matching rows + ε instead of the full fact.
    */
  def bloomSemiReduce(
      fact: DataFrame,
      factKey: String,
      dim: DataFrame,
      dimKey: String,
      expectedItems: Long,
      numBits: Long): DataFrame = {
    require(expectedItems > 0 && numBits > 0,
      s"bad expectedItems=$expectedItems / numBits=$numBits")
    val sketch = dim
      .agg(graft.functions.TextFunctions.bloom_filter_agg(
        xxhash64(col(dimKey)), expectedItems, numBits).as("b"))
      .head().getAs[Array[Byte]]("b")
    fact.filter(graft.functions.TextFunctions.might_contain(
      lit(sketch), xxhash64(col(factKey))))
  }

  /** Write a bucketed + sorted table: joins/aggregations on the bucket key
    * against an equally-bucketed table need NO shuffle (bucket-local
    * sort-merge). This is the pre-partitioning answer for repeated big-big
    * joins on a stable key.
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketKey: String,
      numBuckets: Int): Unit =
    df.write
      .bucketBy(numBuckets, bucketKey)
      .sortBy(bucketKey)
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .saveAsTable(table)

  /** Drop a managed table AND its warehouse location. The in-memory
    * catalog forgets tables across JVMs while the warehouse directory
    * survives, and `saveAsTable` then refuses the name
    * (LOCATION_ALREADY_EXISTS) — so a re-creatable managed table must
    * clear both.
    */
  def dropManaged(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Morton / Z-order value of two non-negative dimension columns (each
    * `< 2^bits`): bit i of `a` lands at position 2i, bit i of `b` at
    * 2i+1. Rows close in z are close in BOTH dimensions, so range
    * partitioning + sorting by z bounds every file/row-group's min–max on
    * every interleaved column at once — the multi-dimension data-skipping
    * layout (the publicly documented OPTIMIZE ZORDER technique of
    * lakehouse table formats). Statically unrolled shift/mask arithmetic —
    * `2·bits` codegen'd terms, no UDF, no allocation.
    */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int = 16): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31]: $bits")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Z-ordered parquet write: range-partition and sort by the interleaved
    * key, so each output file covers a tight min–max box in both
    * dimensions and parquet row-group statistics prune scans filtered on
    * EITHER column. The layout lever for multi-predicate 100 TB scans;
    * `numFiles` sizes output to the downstream reader's split target.
    */
  def writeZOrdered(
      df: DataFrame,
      a: String,
      b: String,
      path: String,
      numFiles: Int,
      bits: Int = 16): Unit =
    df.withColumn("__z", zValue(col(a), col(b), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
}
