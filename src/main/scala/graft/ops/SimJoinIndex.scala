package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{IndexCodecs, MaintainedRoot}

/** A persisted PREFIX-FILTER similarity index: the build-once/serve-many
  * form of [[SimJoin.incrementalPairs]]' corpus-side state — the
  * daily-crawl batch↔corpus EXACT similarity join without ever
  * re-shingling the corpus (the [[Bm25Index]]/[[MinHashIndex]]/
  * [[IvfPqIndex]] sidecar deployment shape; SimJoinSpec plan-audits that
  * the corpus source is absent from the serve plan). Members, all
  * derived once from the corpus:
  *  - `freq` — (h, freq): corpus shingle document frequencies — the
  *    FROZEN rarity total order. Batch shingles unseen by the corpus
  *    left-join to df 0 and sort first; the prefix-filtering
  *    completeness proof needs only A common total order over both
  *    sides, and (corpus-df, hash) extended by df-0 newcomers is one
  *    ([[SimJoin.incrementalPairs]]'s argument), so the stored prefixes
  *    stay valid as built.
  *  - `prefixes` — (h, id, n): the corpus prefix posting rows, written
  *    hash-clustered by `h` so the serve-time candidate equi-join reads
  *    co-located postings (at 100 TB this is the stored posting-list
  *    index each daily batch probes).
  *  - `sets` — (id, set, n): each corpus doc's value-sorted shingle-hash
  *    set for the exact intersect verify.
  *
  * The serve threshold must be ≥ the BUILD threshold: prefixes shorten
  * as t grows (length n − ⌈t·n⌉ + 1), so prefixes stored at t₀ are a
  * complete superset for any t ≥ t₀ — serving below t₀ would need
  * prefix shingles that were never written, and [[pairs]] rejects it
  * loudly instead of silently losing pairs.
  *
  * Reference anchor: the dedup surface of SURVEY.md §7.5 (the reference
  * has only pandas `drop_duplicates` at `Template-to-*` ingest); public
  * prefix-filtering principle (Chaudhuri/Ganti/Kaushik ICDE'06, PPJoin
  * WWW'08).
  */
final case class SimJoinIndex(
    freq: DataFrame,
    prefixes: DataFrame,
    sets: DataFrame,
    shingleK: Int,
    threshold: Double)

object SimJoinIndex {

  /** One corpus shingle pass → frozen df table, prefix postings, sorted
    * sets (the exact state [[SimJoin.incrementalPairs]] recomputes per
    * run). localCheckpoint: prefixes and sets both consume the one
    * rarity-sort aggregate.
    */
  def build(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      threshold: Double = 0.5): SimJoinIndex = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val grams = SimJoin.gramsOf(corpus, idCol, textCol, shingleK)
    // freq is vocabulary-sized and feeds the sort below AND every later
    // consumer (write's freq member, each pairs()/append() batch freeze)
    // — without the checkpoint each one re-runs the full corpus gram scan
    val freq = grams.groupBy("h").agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val sorted = SimJoin.sortedUnder(grams, freq, "inner").localCheckpoint()
    SimJoinIndex(
      freq,
      SimJoin.prefixRows(sorted, threshold).select("h", "id", "n"),
      sorted.select("id", "set", "n"),
      shingleK, threshold)
  }

  /** Incremental index MAINTENANCE: fold NEW corpus documents into the
    * index without touching the old corpus — the delta pays one shingle
    * pass over ITSELF under the FROZEN rarity order (unseen shingles
    * df-0, the same argument that makes [[pairs]]' batch side valid), so
    * its prefix postings and sorted sets simply UNION in. The frozen
    * `freq` is the model state and stays as built (the
    * [[IvfPqIndex.append]] frozen-model convention) — and unlike that
    * family, the served PAIR SET is still EXACT: prefix completeness
    * needs only a common total order, and the exact intersect verify
    * decides membership. The declared `simjoin_append` query shares the
    * full-corpus bipartite oracle — append is provably a rebuild.
    * Doc-id disjointness from the indexed corpus is the caller's
    * contract ([[Bm25Index.append]] convention).
    */
  def append(
      index: SimJoinIndex,
      delta: DataFrame,
      idCol: String,
      textCol: String): SimJoinIndex = {
    val (p, s) = encodeDelta(index.freq, delta, idCol, textCol,
      index.shingleK, index.threshold)
    SimJoinIndex(index.freq,
      index.prefixes.unionByName(p), index.sets.unionByName(s),
      index.shingleK, index.threshold)
  }

  /** Encode a delta under a FROZEN df table into (prefix postings,
    * sorted sets) — the one delta pass [[append]] and the streaming
    * maintainer ([[graft.streaming.Incremental.streamSimJoinMaintain]])
    * share. localCheckpoint: both outputs consume the rarity sort.
    */
  private[graft] def encodeDelta(
      freq: DataFrame,
      delta: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    val deltaSorted = SimJoin.sortedUnder(
        SimJoin.gramsOf(delta, idCol, textCol, shingleK), freq, "left")
      .localCheckpoint()
    (SimJoin.prefixRows(deltaSorted, threshold).select("h", "id", "n"),
      deltaSorted.select("id", "set", "n"))
  }

  /** Index ERASURE — the delete half of the maintenance pair (the
    * right-to-be-forgotten applied to the serving artifact, beside
    * [[MinHashIndex.erase]]/[[Bm25Index.erase]]/[[IvfPqIndex.erase]]):
    * two keys-only anti-joins drop the victims' prefix postings and
    * sorted sets; the frozen rarity order stays as built (model state —
    * a rebuild would reorder prefixes, but the PAIR SET it serves is
    * identical: completeness needs only a common total order and the
    * verify is exact, so the declared `simjoin_erase` query's oracle is
    * the full bipartite recompute WITHOUT the victims). O(|index
    * anti-join|) — no corpus rescan, no rebuild.
    */
  def erase(index: SimJoinIndex, ids: DataFrame): SimJoinIndex = {
    require(ids.columns.length == 1,
      s"ids must be a single key column, got ${ids.columns.toSeq}")
    val k = ids.toDF("id")
    // USING anti-join moves the key first — reselect the stored layouts
    def drop(df: DataFrame) = df.join(k, Seq("id"), "left_anti")
      .select(df.columns.map(col).toIndexedSeq: _*)
    SimJoinIndex(index.freq, drop(index.prefixes), drop(index.sets),
      index.shingleK, index.threshold)
  }

  /** Every batch↔corpus pair with Jaccard ≥ `threshold` (default: the
    * build threshold), from the index alone — identical pair set to
    * [[SimJoin.incrementalPairs]] on (corpus, batch) (shared oracle of
    * the declared `simjoin_persisted` query). Per-serve work is
    * O(|batch| + probed postings): one df left-join to freeze the batch
    * under the corpus order, one prefix↔posting equi-join on the shingle
    * hash, the Jaccard length bound before the pair distinct, then the
    * exact sorted-merge intersect verify against the stored sets.
    */
  def pairs(
      index: SimJoinIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = Double.NaN): DataFrame = {
    val t = if (threshold.isNaN) index.threshold else threshold
    require(t <= 1.0 && t >= index.threshold - 1e-12,
      s"serve threshold $t below build threshold ${index.threshold}: the " +
        "stored prefixes are complete only for t >= the build threshold " +
        "(rebuild the index for a looser join)")
    val batchSorted = SimJoin.sortedUnder(
        SimJoin.gramsOf(batch, idCol, textCol, index.shingleK),
        index.freq, "left")
      .localCheckpoint()
    verifyPairs(index, batchSorted, candidateIds(index.prefixes, batchSorted, t), t)
  }

  /** [[pairs]] with a SERVE-TIME CANDIDATE BUDGET: at most
    * `maxCandidatesPerDoc` corpus candidates reach the exact verify per
    * batch document, ranked by prefix-match EVIDENCE (shared prefix-
    * shingle count desc — more shared rare shingles = more likely a true
    * pair — then corpus id asc for determinism). This bounds the serve's
    * verify stage against the measured ~3×/decade candidate growth of
    * [[pairs]] on a growing corpus (BASELINE.md §r16): per-probe work
    * becomes O(probed postings + cap·verify) instead of O(all surviving
    * candidates). The cap is a declared RECALL trade — a true pair whose
    * candidate evidence ranks below the cap is dropped — so deployments
    * pair it with [[cappedLossAudit]] on the audit cadence, exactly the
    * `dedup_oversized_buckets` / [[pruneAudit]] evidence convention. A
    * cap ≥ the corpus candidate fan-out serves the identical exact pair
    * set (the declared `simjoin_capped_serve` query shares
    * `simjoin_persisted`'s oracle at such a cap).
    */
  def pairsCapped(
      index: SimJoinIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxCandidatesPerDoc: Int,
      threshold: Double = Double.NaN): DataFrame = {
    require(maxCandidatesPerDoc >= 1,
      s"maxCandidatesPerDoc must be >= 1: $maxCandidatesPerDoc")
    val t = if (threshold.isNaN) index.threshold else threshold
    require(t <= 1.0 && t >= index.threshold - 1e-12,
      s"serve threshold $t below build threshold ${index.threshold}: the " +
        "stored prefixes are complete only for t >= the build threshold " +
        "(rebuild the index for a looser join)")
    val batchSorted = SimJoin.sortedUnder(
        SimJoin.gramsOf(batch, idCol, textCol, index.shingleK),
        index.freq, "left")
      .localCheckpoint()
    // candidate evidence instead of a plain distinct: the SAME candidate
    // rows as the uncapped serve (one shared generator — candidateRows —
    // so the two serves provably score identical candidates), aggregated
    // to shared-shingle counts, then one per-batch-doc top-N
    val scored = candidateRows(index.prefixes, batchSorted, t)
      .groupBy("batch_id", "corpus_id")
      .agg(count(lit(1)).as("__shared"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("batch_id")
      .orderBy(col("__shared").desc, col("corpus_id").asc)
    val pairIds = scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxCandidatesPerDoc)
      .select("batch_id", "corpus_id")
    verifyPairs(index, batchSorted, pairIds, t)
  }

  /** [[pairsCapped]] with a POSTING-LENGTH BUDGET on the probe stage —
    * the last unbounded serve term: [[pairsCapped]] bounds the exact
    * VERIFY per batch doc, but its candidate-evidence aggregation still
    * consumes every probed posting row, and posting lists grow with the
    * corpus (the probe stage grew 2.2× in decade 2 of the ×100 probe,
    * BASELINE.md §r17). Here at most `maxPostingsPerShingle` corpus
    * posting rows per probed shingle hash reach the candidate join —
    * smallest sets first (`n` asc, then id asc for determinism): a
    * small-set doc has the SHORTEST prefix, i.e. the fewest other
    * shingles to be rediscovered by, so truncation keeps the rows whose
    * recall is most fragile, while large-set docs survive via their many
    * other prefix shingles. Rare shingles (short postings) are never
    * truncated — the budget bites exactly the boilerplate-heavy lists.
    * Downstream fan-out (candidate join output, evidence aggregation,
    * verify) becomes O(probed shingles · budget) instead of O(probed
    * posting rows · batch fan-out); the remaining corpus term is one
    * columnar SCAN + one pre-fan-out exchange of the probed postings.
    * A budget ≥ the longest probed posting serves the identical exact
    * pair set (the declared `simjoin_probe_budget_serve` query shares
    * `simjoin_persisted`'s oracle at such a budget); the recall price at
    * a tight budget is the declared [[probeBudgetLossAudit]] record.
    */
  def pairsBudgeted(
      index: SimJoinIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxPostingsPerShingle: Int,
      maxCandidatesPerDoc: Int,
      threshold: Double = Double.NaN): DataFrame = {
    require(maxPostingsPerShingle >= 1,
      s"maxPostingsPerShingle must be >= 1: $maxPostingsPerShingle")
    require(maxCandidatesPerDoc >= 1,
      s"maxCandidatesPerDoc must be >= 1: $maxCandidatesPerDoc")
    val t = if (threshold.isNaN) index.threshold else threshold
    require(t <= 1.0 && t >= index.threshold - 1e-12,
      s"serve threshold $t below build threshold ${index.threshold}: the " +
        "stored prefixes are complete only for t >= the build threshold " +
        "(rebuild the index for a looser join)")
    val batchSorted = SimJoin.sortedUnder(
        SimJoin.gramsOf(batch, idCol, textCol, index.shingleK),
        index.freq, "left")
      .localCheckpoint()
    // restrict to the PROBED postings first (semi-join against the batch's
    // prefix hashes — broadcast, no corpus shuffle), then one per-shingle
    // top-N; only then the fan-out join. The budgeted posting rows are a
    // subset of the rows [[candidateRows]] would join, so the budgeted
    // candidate set is provably a subset of the uncapped serve's.
    val probed = SimJoin.prefixRows(batchSorted, t).select("h").distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h")
      .orderBy(col("n").asc, col("id").asc)
    val budgetedPostings = index.prefixes
      .join(probed, Seq("h"), "left_semi")
      .withColumn("__pp", row_number().over(w))
      .filter(col("__pp") <= maxPostingsPerShingle)
      .select("h", "id", "n")
    val scored = candidateRows(budgetedPostings, batchSorted, t)
      .groupBy("batch_id", "corpus_id")
      .agg(count(lit(1)).as("__shared"))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("batch_id")
      .orderBy(col("__shared").desc, col("corpus_id").asc)
    val pairIds = scored
      .withColumn("__rn", row_number().over(wc))
      .filter(col("__rn") <= maxCandidatesPerDoc)
      .select("batch_id", "corpus_id")
    verifyPairs(index, batchSorted, pairIds, t)
  }

  /** POSTING-BUDGET LOSS AUDIT: the exact pairs [[pairsBudgeted]] drops
    * at (`maxPostingsPerShingle`, `maxCandidatesPerDoc`) vs the complete
    * [[pairs]] serve — one row (n_pairs_full, n_pairs_capped, n_lost,
    * loss_ratio), the [[cappedLossAudit]] convention. loss_ratio 0
    * certifies the budget pair lossless at the current corpus.
    */
  def probeBudgetLossAudit(
      index: SimJoinIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxPostingsPerShingle: Int,
      maxCandidatesPerDoc: Int,
      threshold: Double = Double.NaN): DataFrame =
    Dedup.pairLossAudit(index.freq.sparkSession)(
      pairs(index, batch, idCol, textCol, threshold),
      pairsBudgeted(index, batch, idCol, textCol,
        maxPostingsPerShingle, maxCandidatesPerDoc, threshold))

  /** CANDIDATE-CAP LOSS AUDIT: the exact pairs [[pairsCapped]] drops at
    * `maxCandidatesPerDoc` vs the complete [[pairs]] serve — one row
    * (n_pairs_full, n_pairs_capped, n_lost, loss_ratio). The full side is
    * uncapped BY PURPOSE (audit cadence, not serve path); loss_ratio 0
    * certifies the cap lossless at the current corpus, a rising ratio
    * says the cap (or the index generation) is due for revision.
    */
  def cappedLossAudit(
      index: SimJoinIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxCandidatesPerDoc: Int,
      threshold: Double = Double.NaN): DataFrame =
    Dedup.pairLossAudit(index.freq.sparkSession)(
      pairs(index, batch, idCol, textCol, threshold),
      pairsCapped(index, batch, idCol, textCol, maxCandidatesPerDoc, threshold))

  /** The exact intersect verify of [[pairs]]/[[pairsCapped]]: join the
    * candidate ids back to both sides' stored sorted sets, exact Jaccard,
    * threshold filter.
    */
  private def verifyPairs(
      index: SimJoinIndex,
      batchSorted: DataFrame,
      pairIds: DataFrame,
      t: Double): DataFrame =
    pairIds
      .join(batchSorted.select(col("id").as("batch_id"), col("set").as("set_b")),
        Seq("batch_id"))
      .join(index.sets.select(col("id").as("corpus_id"), col("set").as("set_c")),
        Seq("corpus_id"))
      .withColumn("__inter",
        graft.functions.TextFunctions.intersect_count_sorted(
          col("set_b"), col("set_c")).cast("double"))
      .withColumn("__j",
        col("__inter") / (size(col("set_b")) + size(col("set_c")) - col("__inter")))
      .filter(col("__j") >= t)
      .select(col("batch_id"), col("corpus_id"), round(col("__j"), 4).as("jaccard"))

  /** The prefix-filter candidate join: batch prefix rows ⨝ corpus prefix
    * postings on the shingle hash, Jaccard length bound, distinct pairs —
    * the shared pre-verify stage of [[pairs]] and the pruning audit
    * ([[pruneAudit]]), which measures exactly this set's size.
    */
  private def candidateIds(
      corpusPrefixes: DataFrame,
      batchSorted: DataFrame,
      t: Double): DataFrame =
    candidateRows(corpusPrefixes, batchSorted, t)
      .select("batch_id", "corpus_id")
      .distinct()

  /** One candidate ROW per (matching prefix shingle, batch doc, corpus
    * doc) surviving the Jaccard length bound — the single generator both
    * [[pairs]] (distinct → verify) and [[pairsCapped]] (count evidence →
    * top-N → verify) consume, so the capped serve provably scores exactly
    * the uncapped serve's candidate set.
    */
  private def candidateRows(
      corpusPrefixes: DataFrame,
      batchSorted: DataFrame,
      t: Double): DataFrame =
    SimJoin.prefixRows(batchSorted, t)
      .select(col("h"), col("id").as("batch_id"), col("n").as("n_b"))
      .join(corpusPrefixes
        .select(col("h"), col("id").as("corpus_id"), col("n").as("n_c")), Seq("h"))
      .filter(least(col("n_b"), col("n_c")) >=
        lit(t) * greatest(col("n_b"), col("n_c")) - lit(SimJoin.BoundEps))

  /** PRUNING-DECAY AUDIT for the frozen rarity order: as the corpus
    * drifts from the statistics the order was frozen on (the first
    * micro-batch for [[graft.streaming.Incremental.streamSimJoinMaintain]],
    * the build corpus for a static index grown by [[append]]), the served
    * PAIR SET stays exact — completeness needs only a common total order
    * and the verify is exact — but prefix-filter selectivity decays:
    * mis-ranked shingles lengthen posting lists, so more candidate pairs
    * survive to the (exact, more expensive) verify. This audit makes the
    * decay a measured number instead of a hope (the
    * `dedup_oversized_buckets` recall-evidence convention): candidate-pair
    * counts for `batch` under the FROZEN order vs under a FRESH order
    * recomputed from the index's own stored sets — never a corpus
    * re-shingle — plus the exact pair count for scale. `candidate_ratio`
    * (frozen/fresh) ≈ 1 means the frozen order still prunes like new;
    * large ratios say the wasted-verify multiplier has grown and
    * [[rebuildFromSets]] (or a fresh maintained root) is due.
    */
  def pruneAudit(
      index: SimJoinIndex,
      batch: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val t = index.threshold
    val grams = SimJoin.gramsOf(batch, idCol, textCol, index.shingleK)
      .localCheckpoint() // feeds both orders' batch freezes
    // the frozen-order probe, the fresh-order probe and the exact pair
    // count are independent legs over the shared grams checkpoint —
    // count them concurrently (guide §2.6)
    val Seq(nFrozen, nFresh, nPairs) = Concurrent.awaitAll(Seq(
      () => {
        val batchFrozen = SimJoin.sortedUnder(grams, index.freq, "left")
        candidateIds(index.prefixes, batchFrozen, t).count()
      },
      () => {
        // the fresh order, from the stored sets alone (df per shingle =
        // how many indexed docs carry it — sets are distinct by
        // construction)
        val corpusGrams =
          index.sets.select(col("id"), explode(col("set")).as("h"))
        val freshFreq = corpusGrams.groupBy("h").agg(count(lit(1)).as("freq"))
          .localCheckpoint() // feeds the corpus re-sort AND the batch freeze
        val corpusFresh = SimJoin.sortedUnder(corpusGrams, freshFreq, "inner")
          .localCheckpoint()
        val freshPrefixes =
          SimJoin.prefixRows(corpusFresh, t).select("h", "id", "n")
        val batchFresh = SimJoin.sortedUnder(grams, freshFreq, "left")
        candidateIds(freshPrefixes, batchFresh, t).count()
      },
      () => pairs(index, batch, idCol, textCol).count()))
    index.freq.sparkSession.range(1).select(
      lit(nFrozen).as("n_candidates_frozen"),
      lit(nFresh).as("n_candidates_fresh"),
      round(lit(nFrozen.toDouble / math.max(nFresh, 1L)), 4).as("candidate_ratio"),
      lit(nPairs).as("n_pairs"))
  }

  /** RE-FREEZE: rebuild the rarity order (and with it the prefix
    * postings) from the index's own stored sets — the rebuild-cadence
    * helper [[pruneAudit]] calls for, WITHOUT re-shingling any corpus
    * text (sets carry the full shingle-hash content). The served pair
    * set is provably unchanged (exactness never depended on the order),
    * so the rebuilt index shares the original's oracle; only pruning
    * selectivity improves. Write the result with [[write]] to start the
    * next serving generation.
    */
  def rebuildFromSets(index: SimJoinIndex): SimJoinIndex = {
    val corpusGrams = index.sets.select(col("id"), explode(col("set")).as("h"))
    val freq = corpusGrams.groupBy("h").agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val sorted = SimJoin.sortedUnder(corpusGrams, freq, "inner").localCheckpoint()
    SimJoinIndex(freq,
      SimJoin.prefixRows(sorted, index.threshold).select("h", "id", "n"),
      sorted.select("id", "set", "n"),
      index.shingleK, index.threshold)
  }

  /** Persists the index as a maintained root whose only batch is its
    * written generation — prefix postings hash-clustered by shingle into
    * `numFiles` files so serve probes read co-located lists, and the
    * sorted sets — with the frozen `freq` order and the format sidecar
    * (threshold stored as an exact millipoint int — the sidecar parser is
    * int-only): the root
    * [[graft.streaming.Incremental.streamSimJoinMaintain]] maintains. All
    * paths resolve through the Hadoop `FileSystem` API — object-store URIs
    * included. A root that holds a
    * committed stream batch is refused, and so is an index read from the
    * root itself; nothing under the root but the index's layout is
    * replaced.
    */
  def write(index: SimJoinIndex, path: String, numFiles: Int = 8): Unit =
    MaintainedRoot.write(IndexCodecs.SimJoin, index.freq.sparkSession, path, index, numFiles)

  /** Loads a written index with every batch streamed into it since. */
  def read(spark: SparkSession, path: String): SimJoinIndex =
    MaintainedRoot.read(IndexCodecs.SimJoin, spark, path)

  /** (shingleK, threshold) from the sidecar — shared with the streaming
    * maintainer ([[graft.streaming.Incremental.streamSimJoinMaintain]]).
    */
  private[graft] def sidecarParams(
      conf: org.apache.hadoop.conf.Configuration,
      path: String): (Int, Double) = {
    val json = IndexSidecar.readJson(conf, path)
    require(IndexSidecar.intField(json, "format", path) == 1,
      s"unsupported simjoin index format at $path")
    (IndexSidecar.intField(json, "shingleK", path),
      IndexSidecar.intField(json, "thresholdMilli", path) / 1000.0)
  }

  private[graft] def writeSidecar(
      conf: org.apache.hadoop.conf.Configuration,
      path: String, shingleK: Int, threshold: Double): Unit = {
    val thresholdMilli = math.round(threshold * 1000).toInt
    // the sidecar stores millipoints (the parser is int-only): a lossy
    // round would let read() return a threshold BELOW the one the
    // prefixes were built at, silently defeating pairs()' completeness
    // guard — reject non-representable thresholds loudly instead
    require(math.abs(threshold * 1000 - thresholdMilli) < 1e-9,
      s"threshold $threshold is not millipoint-representable; " +
        "the sidecar persists thresholds in units of 0.001 (use e.g. 0.333)")
    IndexSidecar.write(conf, path,
      s"""{"format":1,"shingleK":$shingleK,"thresholdMilli":$thresholdMilli}""")
  }
}
