package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** A built MinHash-LSH dedup index: the corpus-side state the
  * "dedup each incoming crawl batch against everything already ingested"
  * pipeline (SURVEY.md north-star; the reference has no dedup at all)
  * computes ONCE and joins against every day, instead of re-shingling and
  * re-signing the full corpus per batch the way a from-scratch
  * [[Dedup.minhashLshIncremental]] call would.
  *
  * - `buckets` — (band, bucket, id): one row per corpus doc per band, the
  *   LSH candidate-join side. Persisted band-partitioned; a production
  *   deployment stores it bucketed by (band, bucket) so the daily batch
  *   join needs no corpus-side shuffle at all (the docstring contract of
  *   [[Dedup.minhashLshIncremental]]).
  * - `sets` — (id, shingle_set): the sorted-distinct shingle hashes that
  *   the exact-Jaccard verify joins by candidate id. This is the only
  *   corpus-sized state besides the buckets, and both are id+hash-width,
  *   never text-width.
  * - model state is just the three shape parameters (JSON sidecar); there
  *   is no trained state — signatures are deterministic hashes, which is
  *   what makes [[append]] exact (no model drift as the corpus grows,
  *   unlike a trained [[IvfPqIndex]]).
  *
  * Build → write → read → query equals build → query exactly (asserted in
  * MinHashIndexSpec), and [[Dedup.minhashLshIncremental]] is now literally
  * `query(build(corpus), batch)` — one definition of the semantics.
  */
final case class MinHashIndex(
    buckets: DataFrame,
    sets: DataFrame,
    shingleK: Int,
    bands: Int,
    rowsPerBand: Int)

object MinHashIndex {

  private[ops] def shingleSets(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(
      col(idCol).as("id"),
      array_sort(array_distinct(Dedup.shingleHashes(col(textCol), k))).as("shingle_set"))

  /** Shingles, signs and bands the corpus — two map-side passes fused into
    * one scan each (no shuffle; the group-by that forms candidate buckets
    * happens at [[query]] time against the much smaller batch).
    */
  def build(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4): MinHashIndex = {
    val sets = shingleSets(corpus, idCol, textCol, shingleK)
    MinHashIndex(
      Dedup.minhashBuckets(sets, bands, rowsPerBand), sets,
      shingleK, bands, rowsPerBand)
  }

  /** Encodes a NEW batch with the index's parameters and appends it — the
    * post-ingest maintenance step after [[query]] cleared the batch. Pure
    * map-side encode + union; nothing recomputes and nothing shuffles.
    */
  def append(
      index: MinHashIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String): MinHashIndex = {
    val s = shingleSets(batch, idCol, textCol, index.shingleK)
    index.copy(
      buckets = index.buckets.unionByName(
        Dedup.minhashBuckets(s, index.bands, index.rowsPerBand)),
      sets = index.sets.unionByName(s))
  }

  /** Index ERASURE — the delete half of the maintenance pair beside
    * [[append]] (completing the build/write/read/query/append/erase
    * contract all three persisted indexes share — see [[Bm25Index.erase]]
    * / [[IvfPqIndex.erase]]): both index members are per-document rows
    * keyed by `id`, so erasure is one keys-only anti-join each, and —
    * signatures being content-deterministic hashes with no corpus-level
    * state — the erased index EQUALS a rebuild on the retained corpus
    * (asserted in MinHashIndexSpec). Erased ids can never match again:
    * candidates come only from the bucket frame.
    */
  def erase(index: MinHashIndex, ids: DataFrame): MinHashIndex = {
    require(ids.columns.length == 1,
      s"ids must be a single key column, got ${ids.columns.toSeq}")
    val k = ids.toDF("id")
    // reselect: a USING join (even anti) moves the key column first
    def drop(df: DataFrame) = df.join(k, Seq("id"), "left_anti")
      .select(df.columns.map(col).toIndexedSeq: _*)
    index.copy(buckets = drop(index.buckets), sets = drop(index.sets))
  }

  /** Batch-vs-corpus near-dup pairs (batch_id, corpus_id, jaccard ≥
    * threshold) — [[Dedup.minhashLshIncremental]] semantics against the
    * prebuilt corpus state: ONE (band, bucket) equi-join for candidates
    * (corpus never self-joins), exact verify only on candidate ids.
    * `maxBucket` drops oversized CORPUS buckets (boilerplate guard).
    */
  def query(
      index: MinHashIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val batchSets = shingleSets(batch, idCol, textCol, index.shingleK)
    val pairIds = collisionRows(index, batchSets, maxBucket)
      .select("batch_id", "corpus_id")
      .distinct()
    verifyPairs(index, batchSets, pairIds, threshold)
  }

  /** One row per (band, bucket) collision between a batch doc and a
    * corpus doc (oversized corpus buckets dropped) — the single generator
    * both [[query]] (distinct → verify) and [[queryCapped]] (band-count
    * evidence → top-N → verify) consume, so the capped serve provably
    * scores exactly the uncapped serve's candidate set.
    */
  private def collisionRows(
      index: MinHashIndex,
      batchSets: DataFrame,
      maxBucket: Int): DataFrame = {
    val batchBuckets = Dedup.minhashBuckets(batchSets, index.bands, index.rowsPerBand)
    val okBuckets = index.buckets.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucket)
      .select("band", "bucket")
    batchBuckets.withColumnRenamed("id", "batch_id")
      .join(
        index.buckets.withColumnRenamed("id", "corpus_id")
          .join(okBuckets, Seq("band", "bucket")),
        Seq("band", "bucket"))
  }

  /** [[query]] with a SERVE-TIME CANDIDATE BUDGET: at most
    * `maxCandidatesPerDoc` corpus candidates reach the exact verify per
    * batch document, ranked by LSH EVIDENCE (matching-band count desc —
    * more band collisions = higher estimated Jaccard, the standard LSH
    * amplification signal — then corpus id asc for determinism). Bounds
    * the verify stage against the measured query-band posting growth of
    * [[query]] on a growing corpus (2.7× in decade 2, BASELINE.md §r16):
    * the corpus-side `maxBucket` guard caps any ONE bucket, but the
    * number of buckets a batch doc collides with still grows with the
    * corpus — this caps the per-doc total. A declared recall trade,
    * audited by [[cappedLossAudit]] (the `dedup_oversized_buckets`
    * convention); a cap ≥ the per-doc candidate fan-out serves the
    * identical pair set (the declared `dedup_minhash_capped` query shares
    * `dedup_minhash_persisted`'s oracle at such a cap).
    */
  def queryCapped(
      index: MinHashIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxCandidatesPerDoc: Int,
      threshold: Double = 0.8,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    require(maxCandidatesPerDoc >= 1,
      s"maxCandidatesPerDoc must be >= 1: $maxCandidatesPerDoc")
    val batchSets = shingleSets(batch, idCol, textCol, index.shingleK)
    // band-collision evidence instead of a plain distinct: the SAME
    // collision rows as the uncapped serve (one shared generator),
    // aggregated per pair, then one per-batch-doc top-N
    val scored = collisionRows(index, batchSets, maxBucket)
      .groupBy("batch_id", "corpus_id")
      .agg(count(lit(1)).as("__bands"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("batch_id")
      .orderBy(col("__bands").desc, col("corpus_id").asc)
    val pairIds = scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxCandidatesPerDoc)
      .select("batch_id", "corpus_id")
    verifyPairs(index, batchSets, pairIds, threshold)
  }

  /** [[queryCapped]] with a POSTING-LENGTH BUDGET on the probe stage —
    * the minhash twin of [[SimJoinIndex.pairsBudgeted]]: [[queryCapped]]
    * bounds the exact verify per batch doc, but its band-evidence
    * aggregation still consumes every probed bucket posting row, and
    * bucket postings grow with the corpus (the 2.7× decade-2 growth of
    * the uncapped serve, BASELINE.md §r16 — `maxBucket` only DROPS
    * pathological buckets wholesale; survivors keep growing toward it).
    * Here at most `maxPostingsPerBucket` corpus rows per probed (band,
    * bucket) reach the collision join, in content-hash order
    * (xxhash64(id), then id) — minhash buckets carry no intrinsic rank,
    * so the truncation is a deterministic unbiased sample rather than an
    * id-ascending bias toward old documents. The oversized-bucket guard
    * still applies FIRST over the full bucket population (full-corpus
    * counts — the semi-join restricts to probed buckets but keeps every
    * member row), so budgeted collision rows are provably a subset of
    * the uncapped serve's. A budget ≥ the largest surviving probed
    * bucket serves the identical pair set (the declared
    * `dedup_minhash_probe_budget` query shares
    * `dedup_minhash_persisted`'s oracle at such a budget); the recall
    * price at a tight budget is the declared [[probeBudgetLossAudit]]
    * record.
    */
  def queryBudgeted(
      index: MinHashIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxPostingsPerBucket: Int,
      maxCandidatesPerDoc: Int,
      threshold: Double = 0.8,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    require(maxPostingsPerBucket >= 1,
      s"maxPostingsPerBucket must be >= 1: $maxPostingsPerBucket")
    require(maxCandidatesPerDoc >= 1,
      s"maxCandidatesPerDoc must be >= 1: $maxCandidatesPerDoc")
    val batchSets = shingleSets(batch, idCol, textCol, index.shingleK)
    // probed-bucket set AND the collision join both read this; checkpointed
    // like [[SimJoinIndex.pairs]]' batchSorted (freeing here would drop the
    // blocks while the returned lazy plan still references them)
    val batchBuckets = Dedup.minhashBuckets(batchSets, index.bands, index.rowsPerBand)
      .localCheckpoint()
    val probed = batchBuckets.select("band", "bucket").distinct()
    // probed corpus rows only (semi-join — broadcast, no corpus shuffle);
    // counts below are still FULL-bucket counts: the semi-join drops whole
    // buckets, never members of a kept bucket
    val probedCorpus = index.buckets
      .join(probed, Seq("band", "bucket"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bucket")
      .orderBy(xxhash64(col("id")).asc, col("id").asc)
    val budgeted = probedCorpus
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")))
      .filter(col("__n") <= maxBucket)
      .withColumn("__pp", row_number().over(w))
      .filter(col("__pp") <= maxPostingsPerBucket)
      .select(col("band"), col("bucket"), col("id").as("corpus_id"))
    val scored = batchBuckets.withColumnRenamed("id", "batch_id")
      .join(budgeted, Seq("band", "bucket"))
      .groupBy("batch_id", "corpus_id")
      .agg(count(lit(1)).as("__bands"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("batch_id")
      .orderBy(col("__bands").desc, col("corpus_id").asc)
    val pairIds = scored
      .withColumn("__rn", row_number().over(wc))
      .filter(col("__rn") <= maxCandidatesPerDoc)
      .select("batch_id", "corpus_id")
    verifyPairs(index, batchSets, pairIds, threshold)
  }

  /** POSTING-BUDGET LOSS AUDIT: the verified pairs [[queryBudgeted]]
    * drops at (`maxPostingsPerBucket`, `maxCandidatesPerDoc`) vs the
    * complete [[query]] serve — one row (n_pairs_full, n_pairs_capped,
    * n_lost, loss_ratio), the [[cappedLossAudit]] convention.
    */
  def probeBudgetLossAudit(
      index: MinHashIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxPostingsPerBucket: Int,
      maxCandidatesPerDoc: Int,
      threshold: Double = 0.8,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    Dedup.pairLossAudit(index.buckets.sparkSession)(
      query(index, batch, idCol, textCol, threshold, maxBucket),
      queryBudgeted(index, batch, idCol, textCol,
        maxPostingsPerBucket, maxCandidatesPerDoc, threshold, maxBucket))

  /** CANDIDATE-CAP LOSS AUDIT: the verified pairs [[queryCapped]] drops
    * at `maxCandidatesPerDoc` vs the complete [[query]] serve — one row
    * (n_pairs_full, n_pairs_capped, n_lost, loss_ratio). Full side
    * uncapped BY PURPOSE (audit cadence, not serve path).
    */
  def cappedLossAudit(
      index: MinHashIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxCandidatesPerDoc: Int,
      threshold: Double = 0.8,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    Dedup.pairLossAudit(index.buckets.sparkSession)(
      query(index, batch, idCol, textCol, threshold, maxBucket),
      queryCapped(index, batch, idCol, textCol,
        maxCandidatesPerDoc, threshold, maxBucket))

  /** The exact intersect verify of [[query]]/[[queryCapped]]: candidate
    * ids back to both sides' stored shingle sets, exact Jaccard,
    * threshold filter.
    */
  private def verifyPairs(
      index: MinHashIndex,
      batchSets: DataFrame,
      pairIds: DataFrame,
      threshold: Double): DataFrame =
    pairIds
      .join(batchSets.select(col("id").as("batch_id"), col("shingle_set").as("set_a")), Seq("batch_id"))
      .join(index.sets.select(col("id").as("corpus_id"), col("shingle_set").as("set_b")), Seq("corpus_id"))
      .withColumn("__inter",
        graft.functions.TextFunctions.intersect_count_sorted(col("set_a"), col("set_b")).cast("double"))
      .withColumn("jaccard",
        col("__inter") / (size(col("set_a")) + size(col("set_b")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), round(col("jaccard"), 4).as("jaccard"))

  /** Persists buckets (band-partitioned parquet), sets, and the parameter
    * sidecar. Paths resolve through the Hadoop `FileSystem` API, so the
    * index round-trips on local paths and object-store URIs (s3a://…)
    * alike — where a 100 TB index lives by definition.
    */
  def write(index: MinHashIndex, path: String): Unit = {
    def sub(name: String) = new org.apache.hadoop.fs.Path(path, name).toString
    index.buckets.write.mode("overwrite").partitionBy("band")
      .parquet(sub("buckets"))
    index.sets.write.mode("overwrite").parquet(sub("sets"))
    writeSidecarParams(
      index.buckets.sparkSession.sparkContext.hadoopConfiguration, path,
      index.shingleK, index.bands, index.rowsPerBand)
  }

  /** (shingleK, bands, rowsPerBand) from the sidecar — shared with the
    * streaming maintainer
    * ([[graft.streaming.Incremental.streamMinHashMaintain]]).
    */
  private[graft] def sidecarParams(
      conf: org.apache.hadoop.conf.Configuration,
      path: String): (Int, Int, Int) = {
    val json = IndexSidecar.readJson(conf, path)
    (IndexSidecar.intField(json, "shingleK", path),
      IndexSidecar.intField(json, "bands", path),
      IndexSidecar.intField(json, "rowsPerBand", path))
  }

  private[graft] def writeSidecarParams(
      conf: org.apache.hadoop.conf.Configuration,
      path: String, shingleK: Int, bands: Int, rowsPerBand: Int): Unit =
    IndexSidecar.write(conf, path,
      s"""{"shingleK":$shingleK,"bands":$bands,"rowsPerBand":$rowsPerBand}""")

  def read(spark: SparkSession, path: String): MinHashIndex = {
    def sub(name: String) = new org.apache.hadoop.fs.Path(path, name).toString
    val json = IndexSidecar.readJson(spark.sparkContext.hadoopConfiguration, path)
    def intField(name: String): Int = IndexSidecar.intField(json, name, path)
    MinHashIndex(
      Parquet.read(spark, sub("buckets")).select("id", "band", "bucket"),
      Parquet.read(spark, sub("sets")).select("id", "shingle_set"),
      intField("shingleK"), intField("bands"), intField("rowsPerBand"))
  }
}
