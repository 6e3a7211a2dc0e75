package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** A persisted BM25 inverted index: the build-once/serve-many form of
  * [[TextAnalysis.bm25TopK]], the same deployment shape as
  * [[MinHashIndex]]/[[IvfPqIndex]] — compute the corpus-side state ONCE,
  * then answer every keyword query from the index without ever touching
  * corpus text again. At 100 TB the corpus scan is the whole cost of an
  * ad-hoc search; the index replaces it with a term-pruned postings read.
  *
  * - `postings` — (term, id, tf, dl): one row per distinct (doc, term).
  *   Persisted REPARTITIONED BY RANGE ON term, so each parquet file holds
  *   a contiguous term range and the term min/max footer stats let a
  *   query's `term IN (…)` pushdown skip every file outside its terms —
  *   the columnar analogue of a postings-list seek (no full postings scan
  *   at serve time; `PushedFilters` carries the In predicate).
  * - `terms` — (term, df): vocabulary-sized document frequencies.
  * - `stats` — 1 row (n, avgdl): the corpus constants BM25 needs.
  *
  * Per-query work touches only the queried terms' postings rows:
  * candidate docs × query terms, never the corpus. Identical scores to
  * the from-scratch [[TextAnalysis.bm25TopK]] (asserted in Bm25IndexSpec;
  * the declared `text_bm25_persisted` query shares `text_bm25_search`'s
  * DuckDB oracle).
  *
  * Reference anchor: extends SURVEY.md §7.5 north-star surface — the
  * reference has no search operator; public BM25 (Robertson/Sparck Jones)
  * with the Lucene-style +1-free idf log form used by bm25TopK.
  */
final case class Bm25Index(
    postings: DataFrame,
    terms: DataFrame,
    stats: DataFrame)

object Bm25Index {

  /** One corpus explode → (term, id, tf, dl) postings; df and the global
    * (n, avgdl) fold out of the same scan's aggregates.
    */
  def build(corpus: DataFrame, idCol: String, textCol: String): Bm25Index = {
    val toks = split(col(textCol), " ")
    val postings = corpus
      .select(col(idCol).as("id"), size(toks).cast("double").as("dl"),
        explode(toks).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term", "id")
      .agg(count(lit(1)).cast("double").as("tf"), first(col("dl")).as("dl"))
    val terms = postings.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    val stats = corpus.agg(count(lit(1)).cast("double").as("n"),
      avg(size(toks)).as("avgdl"))
    Bm25Index(postings, terms, stats)
  }

  /** Incremental index maintenance: fold a batch of NEW documents into an
    * existing index without touching the old corpus. Postings are purely
    * additive under disjoint doc ids, per-term document frequencies sum,
    * and the (n, avgdl) stats recombine in closed form
    * (`avgdl' = (n·avgdl + Σdl_Δ)/(n + n_Δ)`) — so unlike the ANN
    * family's frozen-model approximation ([[IvfPqIndex.append]]), the
    * appended index serves EXACTLY like a rebuild on the merged corpus
    * (asserted in Bm25IndexSpec). The delta pays one build pass over
    * ITSELF only: daily-crawl maintenance is O(|Δ|), never O(|corpus|).
    *
    * Doc-id disjointness is the caller's contract (re-appending a live id
    * would double-count its postings); checking it costs a distinct over
    * the full postings, so it is opt-in via `verifyDisjoint` for
    * fixture-sized audits rather than paid on every production append.
    */
  def append(
      index: Bm25Index,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      verifyDisjoint: Boolean = false): Bm25Index = {
    val d = build(delta, idCol, textCol)
    if (verifyDisjoint) {
      val overlap = index.postings.select("id").distinct()
        .join(d.postings.select("id").distinct(), Seq("id"), "left_semi")
      require(overlap.isEmpty,
        "Bm25Index.append requires delta doc ids disjoint from the base index")
    }
    Bm25Index(index.postings.unionByName(d.postings),
      mergeTerms(index.terms, d.terms),
      mergeStats(index.stats, d.stats))
  }

  /** Per-term document frequencies SUM across disjoint corpora — the
    * vocabulary-sized half of the closed-form recombination [[append]]
    * and the streaming maintainer
    * ([[graft.streaming.Incremental.streamBm25Maintain]]) share.
    */
  private[graft] def mergeTerms(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("term").agg(sum("df").as("df"))

  /** The 1-row (n, avgdl) stats recombine in closed form
    * (`avgdl' = (n·avgdl + n_Δ·avgdl_Δ)/(n + n_Δ)`). Both sides are
    * 1-row stats frames (the index-format contract) — the
    * broadcast-scalar crossJoin family, collapsed to literals at serve
    * time by topK's bounded stats collect. An EMPTY side carries
    * (0, NULL avgdl) — coalesced to 0 so it contributes nothing instead
    * of nulling the merge.
    */
  private[graft] def mergeStats(a: DataFrame, b: DataFrame): DataFrame =
    a.crossJoin(
        b.select(col("n").as("__dn"), col("avgdl").as("__davgdl")))
      .select(
        (col("n") + col("__dn")).as("n"),
        ((col("n") * coalesce(col("avgdl"), lit(0.0)) +
          col("__dn") * coalesce(col("__davgdl"), lit(0.0))) /
          greatest(col("n") + col("__dn"), lit(1.0))).as("avgdl"))

  /** Index ERASURE — the delete half of the maintenance story beside
    * [[append]] (GDPR/right-to-be-forgotten applied to the serving
    * artifact, not just the corpus: retained-corpus rewrites don't help
    * if the index still returns the erased document). All three index
    * members update from the index ITSELF, never the corpus:
    *  - postings: one keys-only anti-join;
    *  - per-term df: subtract the victims' per-term posting counts
    *    (terms whose df reaches 0 drop out);
    *  - (n, avgdl): closed form — `avgdl' = (n·avgdl − Σdl_victims) /
    *    (n − n_victims)` with the victims' lengths read off their own
    *    postings.
    * Like [[append]], the result serves EXACTLY like a rebuild on the
    * retained corpus (asserted in Bm25IndexSpec), and the work is
    * O(|victims| + |postings anti-join|), never a corpus scan. Contract:
    * every erased id must carry at least one posting (a no-token document
    * contributes to n/avgdl but leaves no trace in the index to subtract;
    * the fixture corpus has none) — `verifyCovered = true` audits that
    * with one keys-only anti-join and fails fast instead of silently
    * mis-subtracting stats (the [[append]] `verifyDisjoint` convention:
    * opt-in, so production erases don't pay the extra pass).
    */
  def erase(
      index: Bm25Index,
      ids: DataFrame,
      verifyCovered: Boolean = false): Bm25Index = {
    require(ids.columns.length == 1,
      s"ids must be a single key column, got ${ids.columns.toSeq}")
    val k = ids.toDF("id")
    if (verifyCovered) {
      val uncovered = k.join(index.postings.select("id").distinct(),
        Seq("id"), "left_anti")
      require(uncovered.isEmpty,
        "Bm25Index.erase requires every erased id to carry at least one posting")
    }
    val victims = index.postings.join(k, Seq("id"), "left_semi")
      .localCheckpoint() // feeds the df delta AND the stats delta
    // a USING join (even anti) moves the key column first — restore the
    // index's posting column order so erased and built indexes compose
    val postings = index.postings.join(k, Seq("id"), "left_anti")
      .select(index.postings.columns.map(col).toIndexedSeq: _*)
    val (terms, stats) = rollBack(index.terms, index.stats,
      victims.select("id", "term", "dl"))
    Bm25Index(postings, terms, stats)
  }

  /** The df/stats roll-back algebra shared by [[erase]] and the
    * maintained-root erase journal
    * ([[graft.streaming.Incremental.eraseBm25Maintained]]) — ONE
    * definition, so a fix to either boundary (the df > 0 drop-out, the
    * empty-victims clamp) reaches both serving paths. `victimRows`
    * carries one row per victim (doc, term) with the doc length
    * (`id`, `term`, `dl`).
    */
  private[graft] def rollBack(
      terms: DataFrame,
      stats: DataFrame,
      victimRows: DataFrame): (DataFrame, DataFrame) = {
    val newTerms = terms
      .join(victimRows.groupBy("term")
          .agg(count(lit(1)).cast("double").as("__ddf")),
        Seq("term"), "left")
      .select(col("term"), (col("df") - coalesce(col("__ddf"), lit(0.0))).as("df"))
      .filter(col("df") > 0)
    // one dl per victim doc (dl repeats on every posting row of a doc)
    val victimStats = victimRows.select("id", "dl").distinct()
      .agg(count(lit(1)).cast("double").as("__dn"),
        coalesce(sum("dl"), lit(0.0)).as("__dsum"))
    val newStats = stats.crossJoin(victimStats) // 1-row × 1-row scalar
      .select(
        (col("n") - col("__dn")).as("n"),
        ((col("n") * col("avgdl") - col("__dsum")) /
          greatest(col("n") - col("__dn"), lit(1.0))).as("avgdl"))
    (newTerms, newStats)
  }

  /** Term sets up to this size push into the postings scan as a literal
    * `In` predicate (real parquet `PushedFilters` → footer-stat file
    * skipping against the term-range layout [[write]] produced); larger
    * batches fall back to a broadcast semi-join, which still never scans
    * corpus text but reads all postings files.
    */
  val MaxPushdownTerms = 1000

  /** BM25 top-k per query from the index alone: (q_id, rank, id, score).
    * The query's distinct terms — bounded by the query batch, not the
    * corpus — prune the postings read (see [[MaxPushdownTerms]]);
    * df/stats broadcast into the candidate rows, one (q_id, id)
    * aggregate, one per-query top-k window over candidates only.
    */
  def topK(
      index: Bm25Index,
      queries: DataFrame,
      qIdCol: String,
      qTermCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(k1 > 0 && b >= 0 && b <= 1, s"bad BM25 params: k1=$k1 b=$b")
    val q = queries.select(col(qIdCol).as("q_id"), col(qTermCol).as("term"))
    val qTerms = q.select("term").distinct()
    // query-batch-sized collect (the one bounded-by-construction collect
    // family this repo allows): a literal In is what reaches the parquet
    // footer as a pushed filter; a semi-join would not
    val littleTerms = qTerms.limit(MaxPushdownTerms + 1).collect().map(_.getString(0))
    val pruned =
      if (littleTerms.length <= MaxPushdownTerms)
        index.postings.filter(col("term").isin(littleTerms.sorted.toIndexedSeq: _*))
      else index.postings.join(broadcast(qTerms), Seq("term"), "left_semi")
    // the 1-row stats frame folds in as LITERALS via a provably-bounded
    // collect (the index-format contract: stats IS one row — same
    // bounded-collect family as the query-term pushdown above), so a
    // serve plan carries ZERO nested-loop joins: every remaining join is
    // an equi-join or a broadcast of query-batch-sized frames
    val st = index.stats.select(col("n"), col("avgdl")).head()
    val (n, avgdl) = (st.getDouble(0), st.getDouble(1))
    val scored = pruned
      .join(broadcast(index.terms.join(qTerms, Seq("term"), "left_semi")), Seq("term"))
      .join(broadcast(q), Seq("term"))
      .withColumn("__idf",
        log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("__sc",
        col("__idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
      .groupBy(col("q_id"), col("id"))
      .agg(round(sum(col("__sc")), 4).as("score"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("bigint").as("rank"),
        col("id"), col("score"))
  }

  /** Persists postings range-partitioned by term (contiguous term ranges
    * per file → footer-stat pruning under term pushdown), the term
    * dictionary, the 1-row stats, and a format sidecar. All paths resolve
    * through the Hadoop `FileSystem` API — object-store URIs included.
    */
  def write(index: Bm25Index, path: String, numFiles: Int = 8): Unit = {
    def sub(name: String) = new org.apache.hadoop.fs.Path(path, name).toString
    index.postings
      .repartitionByRange(numFiles, col("term"))
      .sortWithinPartitions("term", "id")
      .write.mode("overwrite").parquet(sub("postings"))
    index.terms.write.mode("overwrite").parquet(sub("terms"))
    index.stats.write.mode("overwrite").parquet(sub("stats"))
    IndexSidecar.write(
      index.postings.sparkSession.sparkContext.hadoopConfiguration, path,
      """{"format":1}""")
  }

  def read(spark: SparkSession, path: String): Bm25Index = {
    def sub(name: String) = new org.apache.hadoop.fs.Path(path, name).toString
    val json = IndexSidecar.readJson(spark.sparkContext.hadoopConfiguration, path)
    require(IndexSidecar.intField(json, "format", path) == 1,
      s"unsupported bm25 index format at $path")
    Bm25Index(
      Parquet.read(spark, sub("postings")).select("term", "id", "tf", "dl"),
      Parquet.read(spark, sub("terms")).select("term", "df"),
      Parquet.read(spark, sub("stats")).select("n", "avgdl"))
  }
}
