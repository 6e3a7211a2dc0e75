package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines
  * (north-star surface, BASELINE.json; beyond the reference's own operators
  * — the reference has no dedup at all, its L3 load even *introduces*
  * duplicates, SURVEY.md §2.6).
  *
  * All operators are pure Column-expression / DataFrame plans: no UDFs, no
  * driver-side loops, deterministic (seeds are fixed literals — no RNG).
  *
  * Scale design:
  * - exact: one hash shuffle on the dedup key — the minimal possible cost.
  * - MinHash+LSH: candidate generation is a self-join on (band, bucket) —
  *   shuffles by bucket id, never materializes the O(n²) pair space. Exact
  *   Jaccard verification runs only on candidates.
  * - SimHash: embarrassingly parallel signature (one pass), then bucket-join
  *   on 16-bit signature bands for near-dup candidates.
  */
object Dedup {

  /** Default cap on LSH bucket size for candidate generation. One
    * degenerate mega-bucket (boilerplate-heavy corpus hashing identically)
    * explodes quadratically in the pair step — 100k identical docs is 5×10⁹
    * pairs from one bucket. Buckets above the cap are DROPPED (their
    * candidate recall is lost; dup-cliques that large are better handled by
    * [[exact]] dedup first — audit with [[oversizedBuckets]]). Round 1
    * shipped `Int.MaxValue` (unbounded) as the default, which made the
    * safety rail opt-in; it is now opt-out.
    */
  val DefaultMaxBucket: Int = 10000

  /** Ordered (id_a < id_b) pairs from a bucket's id list, without a
    * self-join: `least`/`greatest` orient each pair; the caller explodes.
    */
  private[ops] def orderedPairsOf(ids: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, greatest(size(ids) - i - 1, lit(0))),
        y => struct(least(x, y).as("id_a"), greatest(x, y).as("id_b")))))

  /** The loss audit of a budgeted or capped pair serve against the
    * complete one: one row (n_pairs_full, n_pairs_capped, n_lost,
    * loss_ratio) over the (batch_id, corpus_id) pairs each serve returns.
    * The two serves are independent legs — built and counted
    * concurrently (guide §2.6); only the two counts survive.
    */
  private[ops] def pairLossAudit(spark: SparkSession)(
      full: => DataFrame, capped: => DataFrame): DataFrame = {
    val Seq(nFull, nCapped) = Concurrent.awaitAll(Seq(
      () => full.select("batch_id", "corpus_id").count(),
      () => capped.select("batch_id", "corpus_id").count()))
    spark.range(1).select(
      lit(nFull).as("n_pairs_full"),
      lit(nCapped).as("n_pairs_capped"),
      lit(nFull - nCapped).as("n_lost"),
      round(lit((nFull - nCapped).toDouble / math.max(nFull, 1L)), 4)
        .as("loss_ratio"))
  }

  /** Exact dedup: keep the row with the smallest `keepBy` per distinct value
    * of `keys`. One shuffle; deterministic winner (vs `dropDuplicates`,
    * which keeps an arbitrary first-seen row).
    */
  def exact(df: DataFrame, keys: Seq[String], keepBy: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col).toSeq: _*).orderBy(col(keepBy).asc)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** Word k-shingles of a text column (space-tokenized), as strings.
    * Documents shorter than k tokens yield their whole text as a single
    * shingle. Interpreted HOFs — readable reference form; the hot paths use
    * [[shingleHashes]].
    */
  def shingles(text: Column, k: Int): Column = {
    val tokens = split(text, " ")
    when(size(tokens) < k, array(array_join(tokens, " ")))
      .otherwise(
        transform(sequence(lit(0), size(tokens) - k),
          i => array_join(slice(tokens, i + 1, lit(k)), " ")))
  }

  /** Hashed word k-shingles (array<long>, native codegen'd expression
    * [[graft.functions.ShingleHash]]): same shingle identities as
    * [[shingles]] for set algebra (distinct/intersect/union) short of a
    * 2^-64 collision, an order of magnitude cheaper.
    */
  def shingleHashes(text: Column, k: Int): Column =
    graft.functions.TextFunctions.shingle_hash(split(text, " "), k)

  /** MinHash signature over a shingle array: `numHashes` independent hash
    * functions (one xxHash64 per shingle + SplitMix64 mixing per function —
    * native codegen'd expression, [[graft.functions.MinHashSig]]), each
    * contributing its minimum. Deterministic — no RNG.
    */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    graft.functions.TextFunctions.minhash_sig(shingleCol, numHashes)

  /** MinHash + LSH near-duplicate pairs.
    *
    * Pipeline: shingle → minhash signature (`bands*rowsPerBand` hashes) →
    * band buckets (`xxhash64` of each signature band) → group ids per
    * (band, bucket) and explode ordered pairs → exact Jaccard on distinct
    * shingle sets → filter `>= threshold`.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, one row per pair.
    *
    * At 100 TB the shuffles are: one by bucket id (candidate aggregation),
    * one pair-distinct, two slim id-keyed joins to re-attach shingle sets —
    * the quadratic pair space is never built and the signature subtree is
    * computed exactly once (no self-join, no persist). Giant buckets from
    * degenerate content are the skew risk: cap with `maxBucket`.
    */
  /** Band-ordered bucket hashes of a minhash signature as ONE array
    * column: element j (0-based) is band j's bucket id — the position IS
    * the band, which is what lets the streaming path
    * ([[graft.streaming.Incremental.streamingNearDedup]]) compare two
    * rows' full banding in a single zip_with. Same formula as ever
    * (xxhash64 over the band's signature slice).
    */
  private[graft] def bandBuckets(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { j =>
      xxhash64(lit("band"), lit(j), slice(sigCol, j * rowsPerBand + 1, rowsPerBand))
    }: _*)

  /** Shared (id, band, bucket) rows for [[minhashLsh]] and its
    * [[oversizedBuckets]] audit — ONE definition of the bucket formula
    * ([[bandBuckets]]) so the audit and the streaming path can never
    * drift from what the dedup actually hashes. Input must carry `id`
    * and `shingle_set` columns.
    */
  private[ops] def minhashBuckets(
      withSets: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    withSets
      .withColumn("sig", minhashSignature(col("shingle_set"), bands * rowsPerBand))
      .select(col("id"),
        posexplode(bandBuckets(col("sig"), bands, rowsPerBand)).as(Seq("band", "bucket")))

  def minhashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.8,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val withSets = df.select(
      col(idCol).as("id"),
      array_sort(array_distinct(shingleHashes(col(textCol), shingleK))).as("shingle_set"))
    val banded = minhashBuckets(withSets, bands, rowsPerBand)

    // Candidate generation WITHOUT a self-join: one aggregation groups ids
    // per (band, bucket), then ordered pairs explode from each bucket's id
    // list. The signature subtree is computed exactly once (a self-join
    // would recompute it per side or force a persist), and only slim
    // (id_a, id_b) pairs shuffle. Degenerate mega-buckets (all-identical
    // content) are the known skew risk: `maxBucket` drops them (see
    // [[DefaultMaxBucket]]; audit with [[oversizedBuckets]]).
    val pairIds = banded
      .groupBy("band", "bucket").agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(orderedPairsOf(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()

    val sets = withSets
    val candidates = pairIds
      .join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("shingle_set", "set_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("shingle_set", "set_b"), Seq("id_b"))

    candidates
      .withColumn("__inter", graft.functions.TextFunctions.intersect_count_sorted(col("set_a"), col("set_b")).cast("double"))
      .withColumn("jaccard",
        col("__inter") / (size(col("set_a")) + size(col("set_b")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Incremental near-dup detection: MinHash+LSH candidates of a NEW BATCH
    * against an EXISTING CORPUS — the "dedup the incoming crawl against
    * what's already ingested" pipeline step. Only batch↔corpus pairs are
    * produced (no corpus self-pairs: the corpus was already deduped; no
    * batch self-pairs: run [[minhashLsh]] on the batch for those).
    *
    * Returns (batch_id, corpus_id, jaccard) with jaccard ≥ `threshold`.
    *
    * Scale shape: both sides compute signatures once (embarrassingly
    * parallel), then ONE equi-join on (band, bucket) — the corpus is never
    * self-joined, and with a deduped corpus its per-bucket cardinality
    * stays low, so the join fan-out is |batch bucket| × |corpus bucket|
    * per bucket, not quadratic in the corpus. `maxBucket` drops corpus
    * buckets above the cap (boilerplate guard, as in [[minhashLsh]]).
    * At 100 TB the corpus-side bucket table is the natural thing to
    * PRECOMPUTE and store bucketed-by-(band,bucket); each daily batch then
    * joins against it shuffle-free on the corpus side.
    */
  def minhashLshIncremental(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.8,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    // one definition of the semantics: build the corpus-side index state
    // and query the batch against it — persist the index (MinHashIndex
    // .write/.read) to skip the corpus re-encode on subsequent batches
    MinHashIndex.query(
      MinHashIndex.build(corpus, idCol, textCol, shingleK, bands, rowsPerBand),
      batch, idCol, textCol, threshold, maxBucket)

  /** Observability for the `maxBucket` cap: the (band, bucket, n_ids)
    * buckets [[minhashLsh]] would DROP at the given parameters. Run (and
    * log/alert on) this next to a capped dedup pass — a non-empty result
    * means candidate recall was lost there and an [[exact]]-dedup pre-pass
    * is indicated. (A lazy plan can't log from inside itself; this is the
    * explicit audit query.)
    */
  def oversizedBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val withSets = df.select(
      col(idCol).as("id"),
      array_sort(array_distinct(shingleHashes(col(textCol), shingleK))).as("shingle_set"))
    minhashBuckets(withSets, bands, rowsPerBand)
      .groupBy("band", "bucket")
      .agg(count(lit(1)).as("n_ids"))
      .filter(col("n_ids") > maxBucket)
  }

  /** From near-duplicate pairs to a deduplicated corpus: remove every row
    * whose id appears as the GREATER member of a pair (greedy keep-lowest-id
    * policy). On duplicate chains (a~b, b~c) this removes b and c even if
    * a≁c — the standard aggressive policy for training corpora (true
    * connected-components canonicalization needs iterative joins; this is
    * one anti-join). Deterministic given deterministic pairs.
    */
  def removeNearDuplicates(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Connected components over a near-duplicate pair graph by iterative
    * min-label propagation: every vertex starts labeled with its own id and
    * repeatedly takes the minimum label among itself and its neighbors, so
    * labels converge to the smallest id in each component in O(graph
    * diameter) rounds (duplicate clusters are shallow — boilerplate stars,
    * short chains — so rounds stay in the low single digits).
    *
    * Scale shape: each round is one edge↔label equi-join plus a per-vertex
    * min — two key shuffles over (id, comp) pairs, never materializing the
    * transitive closure. The driver sees only a one-row convergence probe
    * per round.
    *
    * Ids keep their native (orderable) type — long, string, … — with the
    * minimum under that type's ordering as the component representative.
    * Throws if labels have not converged within `maxIters` (silent
    * non-convergence would dedup wrongly); duplicate clusters are shallow,
    * so hitting the default bound means the pair graph is pathological.
    *
    * Returns (id, comp) for every vertex that appears in `pairs`. The
    * result is `localCheckpoint`-materialized (it closes over up to
    * `maxIters` rounds of joins — recomputing the lineage would redo the
    * whole fixpoint). Rounds follow the [[graft.ops.Graph]] iterative-loop
    * convention: eager localCheckpoint per round truncates the LOGICAL
    * plan too — the r19 profile measured the plain-persist form spending
    * ~7 s/query of pure driver time on dedup_components_incremental
    * because Catalyst re-analyzed a plan that re-embedded every prior
    * round (analysis grows superlinearly in rounds; the physical compute
    * was fine) — and the superseded round's blocks are freed once its
    * successor is materialized, so the loop retains one live label
    * vector, not `rounds` of them.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIters: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().persist()
    var checkpointed = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    var labels = checkpointed
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("dstComp")), Seq("dst"))
        .groupBy("src").agg(min("dstComp").as("nbrMin"))
      // one join carries BOTH the new label and the old one, so the
      // convergence probe is a filter-count on the materialized frame
      // instead of a second labels join per round (round-2 form) — a label
      // can only change by taking a strictly smaller neighbor minimum, so
      // "converged" ⇔ no row has a changed comp after the least()
      val joined = labels
        .join(nbrMin.withColumnRenamed("src", "id"), Seq("id"), "left")
        .select(col("id"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("nbrMin"), col("comp"))).as("comp"))
        .localCheckpoint()
      converged = joined.filter(col("comp") =!= col("prev")).isEmpty
      Checkpoints.free(checkpointed)
      checkpointed = joined // `labels` below is a projection of this frame
      labels = joined.select("id", "comp")
      i += 1
    }
    edges.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIters rounds — " +
        "the pair graph has a component of diameter > maxIters; raise maxIters")
    labels
  }

  /** Incremental connected components — the L8 maintenance idea applied
    * to the duplicate-cluster graph: fold a NEW batch's pair edges into
    * yesterday's component labeling WITHOUT re-reading or re-pairing the
    * corpus pair graph. The old labels are a contraction of the old
    * graph (every vertex wired to its component's min id), so running
    * min-label propagation over (label edges ∪ new pairs) yields exactly
    * the from-scratch components of (old pairs ∪ new pairs): each old
    * component is connected through its representative, and labels are
    * already the component minima. At 100 TB the label table (one slim
    * row per clustered doc) replaces the full pair graph as the carried
    * state — the same state-vs-recompute trade as
    * [[graft.ops.Graph.pagerankWarmStart]].
    *
    * `labels` is (id, comp) from a previous [[connectedComponents]] run;
    * `newPairs` are this batch's duplicate pairs (e.g.
    * [[minhashLshIncremental]] batch↔corpus output). Returns the merged
    * (id, comp) labeling, comp = min member id of the MERGED component.
    */
  def connectedComponentsIncremental(
      labels: DataFrame,
      newPairs: DataFrame,
      aCol: String = "id_a",
      bCol: String = "id_b",
      maxIters: Int = 20): DataFrame = {
    val labelPairs = labels.select(col("id").as(aCol), col("comp").as(bCol))
    connectedComponents(
      labelPairs.unionByName(newPairs.select(col(aCol), col(bCol))),
      aCol, bCol, maxIters)
  }

  /** From pairs to a dedup'd corpus via TRUE connected-components
    * canonicalization: exactly one representative (the minimum id) survives
    * per duplicate cluster, unlike [[removeNearDuplicates]]'s greedy
    * keep-lowest policy which can keep several members of one transitive
    * cluster (a~c, b~c keeps a AND b). Rows in no pair pass through.
    */
  def removeNearDuplicatesCC(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val losers = connectedComponents(pairs)
      .filter(col("comp") =!= col("id")).select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Near-dup canonicalization keeping the BEST-scoring member of each
    * duplicate cluster (RefinedWeb/FineWeb practice: survive the copy with
    * the highest quality, not the smallest id — min-id keeps whatever
    * crawl happened to be ingested first, which is often the boilerplate-
    * laden mirror). Ties break to the smaller id, so the result is
    * deterministic; `scoreCol` should be pre-rounded if the caller needs
    * cross-engine reproducible comparisons.
    *
    * Returns the kept corpus as (idCol, n_dups, score): every row in no
    * pair passes through with `n_dups = 1`; each cluster contributes its
    * arg-max row with `n_dups = |cluster|`.
    *
    * Scale shape: the component labels cover only CLUSTERED ids (≪ corpus
    * — they came out of a near-dup pair generator), so the corpus-side
    * cost is one equi-join against that small frame plus a left-anti for
    * the pass-through; the winner reduction shuffles clustered rows only
    * (one rank-1 window partitioned by component — ids keep their native
    * orderable type, so string/URL-hash ids work).
    */
  def canonicalByQuality(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      scoreCol: Column): DataFrame = {
    val comps = connectedComponents(pairs).withColumnRenamed("id", idCol)
    val scored = df.select(col(idCol), scoreCol.as("score"))
    val clustered = scored.join(comps, Seq(idCol))
    // arg-max via rank-1 window over CLUSTERED rows only (ids keep their
    // native orderable type — string/UUID ids work, like every other dedup
    // operator; a negate-the-id struct-max trick would demand numeric ids)
    val w = Window.partitionBy("comp").orderBy(col("score").desc, col(idCol).asc)
    val winners = clustered
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_dups", count(lit(1)).over(Window.partitionBy("comp")))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("n_dups"), col("score"))
    val singletons = scored
      .join(comps.select(idCol), Seq(idCol), "left_anti")
      .select(col(idCol), lit(1L).as("n_dups"), col("score"))
    singletons.unionByName(winners)
  }

  /** Exact pairwise n-gram Jaccard similarity — the brute-force counterpart
    * of [[minhashLsh]] (its recall oracle in tests). O(n²) pair space: use
    * ONLY on small inputs or pre-blocked groups (`blockBy` restricts pairs
    * to equal values of that column, e.g. language or near-equal length).
    *
    * HARD SIZE CONTRACT for the `blockBy = None` path: the full input
    * (ids + shingle sets) is broadcast to every executor, so it must fit in
    * driver/executor memory — Spark aborts a broadcast above
    * `MAX_BROADCAST_TABLE_BYTES` (8 GB) with an explicit error rather than
    * an OOM, and `maxBruteForceRows` fails fast far earlier (a plan-time
    * count of a 2-column projection) with an actionable message. Above
    * that, pass `blockBy` or use [[minhashLsh]].
    *
    * NOTE: the `blockBy = None` guard makes this call EAGER — it runs a
    * pruned count scan of the input at plan-construction time (every call
    * pays one input scan even if the returned frame is never executed, and
    * a streaming input would throw). The O(n²) work this path implies
    * dwarfs that scan; `blockBy = Some(...)` stays fully lazy.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      threshold: Double = 0.0,
      blockBy: Option[String] = None,
      maxBruteForceRows: Long = 2000000L): DataFrame = {
    val withSets = df.select(
        col(idCol).as("id"),
        blockBy.map(col).getOrElse(lit(0)).as("__blk"),
        array_sort(array_distinct(shingleHashes(col(textCol), shingleK))).as("shingle_set"))
    val a = withSets.select(col("__blk"), col("id").as("id_a"), col("shingle_set").as("set_a"))
    val b = withSets.select(col("__blk"), col("id").as("id_b"), col("shingle_set").as("set_b"))
    val paired = blockBy match {
      case Some(_) =>
        // real blocking keys distribute the hash join across the cluster
        a.join(b, Seq("__blk")).filter(col("id_a") < col("id_b"))
      case None =>
        // all-pairs diagnostic path: the constant `__blk` key would hash
        // every row into ONE shuffle partition — a single task doing all
        // O(n²) comparisons. The contract bounds this path to a small slice,
        // so broadcast one side and spread the other: each partition of `a`
        // compares against the broadcast copy in parallel (BNLJ), and the
        // repartition spreads what is typically a single parquet-split
        // slice across the cluster.
        //
        // fail-fast size guard: a violated small-slice contract would OOM
        // the broadcast build; a pruned id-only count scan is cheap next to
        // the O(n²) work this path implies.
        val nRows = df.select(col(idCol)).count()
        require(nRows <= maxBruteForceRows,
          s"ngramJaccardPairs(blockBy=None) broadcasts the full input: $nRows rows > " +
            s"maxBruteForceRows=$maxBruteForceRows. Pass blockBy (distributed blocked join) " +
            "or use minhashLsh for corpus-scale near-dup.")
        a.drop("__blk").repartition(col("id_a"))
          .join(broadcast(b.drop("__blk")), col("id_a") < col("id_b"))
    }
    paired
      .withColumn("__inter", graft.functions.TextFunctions.intersect_count_sorted(col("set_a"), col("set_b")).cast("double"))
      .withColumn("jaccard",
        col("__inter") / (size(col("set_a")) + size(col("set_b")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** 64-bit SimHash fingerprint of a text column — native codegen'd
    * expression ([[graft.functions.SimHash64]]); xxhash64(seed 42) token
    * hashes, +1/−1 bit votes.
    */
  def simhash64(textColName: String): Column =
    graft.functions.TextFunctions.simhash64(split(col(textColName), " "))

  /** Pure-HOF reference formulation of [[simhash64]] — interpreted, kept as
    * the cross-check oracle for the native expression (they must agree
    * bit-for-bit; see DedupSpec).
    */
  def simhash64Hof(textColName: String): Column = expr(
    s"""
    aggregate(
      zip_with(
        aggregate(
          transform(split($textColName, ' '), t -> xxhash64(t)),
          array_repeat(0, 64),
          (acc, h) -> zip_with(acc, sequence(0, 63),
                               (a, i) -> a + if(((h >> i) & 1) = 1, 1, -1))),
        sequence(0, 63),
        (c, i) -> if(c > 0, shiftleft(cast(1 as bigint), i), cast(0 as bigint))),
      cast(0 as bigint),
      (acc, v) -> acc + v)
    """)

  /** Embedding-cosine near-duplicate pairs: rows whose embedding cosine
    * similarity is ≥ `threshold`. Returns (id_a, id_b, cosine) with
    * id_a < id_b.
    *
    * Candidate generation (`lshPlanes > 0`) uses BANDED random-hyperplane
    * LSH: a `lshBands × lshPlanes`-plane signature (native codegen'd
    * [[graft.functions.LshSignature]]) sliced into `lshBands` bands of
    * `lshPlanes` bits; rows sharing ANY band's bits are candidates, then
    * exact cosine verifies. Requiring the FULL signature to match (the
    * round-1 form) has near-zero recall for non-identical near-duplicates —
    * at cosine 0.95 a plane agrees w.p. ≈0.90, so 32 planes all agreeing is
    * ≈3% — while banding at 8 bands × 4 planes gives ≥99.9% recall for
    * ≥0.95 pairs (1 − (1 − 0.9⁴)⁸) at ~16 buckets/band of fan-out.
    * `lshPlanes = 0` compares all pairs (exactness baseline — small inputs
    * only).
    *
    * Candidates come from the same aggregation-not-self-join pattern as
    * [[minhashLsh]]: group ids per (band, bucket), explode ordered pairs,
    * distinct, then re-attach vectors by id — the signature subtree runs
    * once and only slim id pairs shuffle. `maxBucket` caps degenerate
    * buckets (see [[minhashLsh]]).
    */
  def embeddingCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      lshPlanes: Int = 0,
      lshBands: Int = 1,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    import graft.functions.VectorFunctions.{vec_dot, vec_norm}
    require(lshPlanes * lshBands <= 63, "lshPlanes * lshBands must be <= 63")
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", vec_norm(col("vec")))

    val pairIds =
      if (lshPlanes <= 0) {
        val ids = base.select(col("id"))
        ids.select(col("id").as("id_a"))
          .crossJoin(ids.select(col("id").as("id_b")))
          .filter(col("id_a") < col("id_b"))
      } else {
        val mask = (1L << lshPlanes) - 1
        val withSig = base.withColumn("sig",
          Similarity.lshSignature(col("vec"), lshPlanes * lshBands))
        val bandCols = array((0 until lshBands).map { j =>
          struct(
            lit(j).as("band"),
            shiftright(col("sig"), j * lshPlanes).bitwiseAND(lit(mask)).as("bucket"))
        }: _*)
        withSig
          .select(col("id"), explode(bandCols).as("bb"))
          .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
          .groupBy("band", "bucket").agg(collect_list(col("id")).as("ids"))
          .filter(size(col("ids")).between(2, maxBucket))
          .select(explode(orderedPairsOf(col("ids"))).as("p"))
          .select(col("p.id_a"), col("p.id_b"))
          .distinct()
      }

    pairIds
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a"), col("nrm").as("nrm_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b"), col("nrm").as("nrm_b")), Seq("id_b"))
      .withColumn("cosine", round(vec_dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")), 4))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact-substring duplicate pairs (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", 2021): two documents are
    * substring-duplicates when they share a verbatim run of `n` tokens.
    * Emits (id_a, id_b, n_shared) with id_a < id_b and n_shared = the
    * number of DISTINCT shared word n-grams, for pairs with
    * n_shared >= `minShared`.
    *
    * Grams are space-joined word strings ([[Decontaminate.wordNgrams]],
    * native codegen'd) so an external SQL engine computes the identical
    * pair set — exact and oracle-checkable, unlike the MinHash estimate.
    *
    * Scale shape: the gram table shuffles twice — once into a narrow
    * map-side-combined (gram, df) count, once into the inverted index —
    * and the df filter runs BEFORE any posting list materializes: grams
    * with document frequency outside [2, maxDf] are dropped by a gram-keyed
    * semi-join, so no `collect_set` buffer ever holds more than `maxDf`
    * ids (a boilerplate gram present in millions of docs would otherwise
    * build its full id set in one aggregation buffer before the size
    * filter could drop it — executor OOM). The semi-join output is already
    * hash-partitioned by gram, so the posting-list aggregation adds no
    * third exchange. Pairs are then generated map-side from each bounded
    * posting list ([[orderedPairsOf]] — no self-join of the gram table),
    * and ONE shuffle on (id_a, id_b) counts shared grams. Runs commoner
    * than `maxDf` are boilerplate, not plagiarism — audit them with
    * [[boilerplateGrams]], and strip or exact-dedup them first. The cap
    * bounds per-list pair work at maxDf²; the same cap must appear in any
    * cross-engine oracle for the outputs to match.
    */
  def substringPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 6,
      maxDf: Int = 1000,
      minShared: Long = 1L): DataFrame = {
    invertedIndexPairs(df.select(
      col(idCol).as("id"),
      explode(array_distinct(Decontaminate.wordNgrams(col(textCol), n))).as("gram")),
      maxDf, minShared)
  }

  /** Shared inverted-index pair engine for [[substringPairs]] and
    * [[winnowPairs]]: (id, gram) rows → df-first cap (count narrow,
    * map-side partials → eligible grams → semi-join, so no posting-list
    * buffer exceeds maxDf ids) → map-side ordered pairs from each bounded
    * list → one (id_a, id_b) count shuffle.
    */
  private def invertedIndexPairs(
      grams: DataFrame, maxDf: Int, minShared: Long): DataFrame = {
    val eligible = grams.groupBy("gram").agg(count(lit(1)).as("__df"))
      .filter(col("__df").between(2, maxDf))
      .select("gram")
    grams
      .join(eligible, Seq("gram"), "left_semi")
      .groupBy("gram").agg(collect_set(col("id")).as("ids"))
      // collect_set order is nondeterministic — orderedPairsOf orients each
      // pair (least/greatest), so the emitted (id_a, id_b) keys are stable
      .select(explode(orderedPairsOf(col("ids"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Winnowing-overlap duplicate pairs (MOSS shape): documents sharing at
    * least `minShared` winnowing fingerprints
    * ([[TextAnalysis.winnowFingerprints]] — local minima of word-k-gram
    * hashes). Sits between [[substringPairs]] (every shared gram counts —
    * exact, heavier index) and [[minhashLsh]] (probabilistic): the
    * fingerprint index is ~2/(window+1) the size of the full gram index,
    * while the winnowing guarantee still catches every shared run of
    * `window + k − 1` tokens. Same df-first bounded inverted-index shape
    * and `maxDf` boilerplate rail as [[substringPairs]].
    */
  def winnowPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      window: Int = 5,
      maxDf: Int = 1000,
      minShared: Long = 2L): DataFrame =
    invertedIndexPairs(df.select(
      col(idCol).as("id"),
      explode(TextAnalysis.winnowFingerprints(col(textCol), k, window)).as("gram")),
      maxDf, minShared)

  /** Containment duplicate pairs: Jaccard misses a short document embedded
    * verbatim in a long one (the intersection is small relative to the
    * UNION), so quote-extraction and prefix-truncation dups survive
    * [[minhashLsh]]. Containment `|A∩B| / min(|A|,|B|)` over distinct word
    * n-gram sets catches them: a fully-embedded document scores 1.0
    * regardless of the host's length.
    *
    * Same inverted-gram-index shape as [[substringPairs]] (df-first
    * bounded posting lists, map-side pair generation, one pair shuffle,
    * `maxDf` boilerplate rail); per-document gram counts are computed MAP-SIDE
    * (`size(array_distinct(...))` — no extra aggregation) and join the
    * candidate pairs, which are candidate-bounded, never corpus-sized.
    * Emits (id_a, id_b, containment) for pairs ≥ `minContainment`.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 6,
      maxDf: Int = 1000,
      minContainment: Double = 0.8): DataFrame = {
    val withCnt = df.select(
      col(idCol).as("id"),
      size(array_distinct(Decontaminate.wordNgrams(col(textCol), n))).cast("long").as("n_grams"))
    val shared = substringPairs(df, idCol, textCol, n, maxDf, minShared = 1L)
    shared
      .join(withCnt.select(col("id").as("id_a"), col("n_grams").as("cnt_a")), Seq("id_a"))
      .join(withCnt.select(col("id").as("id_b"), col("n_grams").as("cnt_b")), Seq("id_b"))
      .withColumn("containment",
        round(col("n_shared").cast("double") / least(col("cnt_a"), col("cnt_b")), 4))
      .filter(col("containment") >= minContainment)
      .select("id_a", "id_b", "containment")
  }

  /** Corpus boilerplate report — the audit partner of
    * [[substringPairs]]'s `maxDf` cap: the word n-grams that occur in the
    * most documents, as (gram, df). Runs this common are boilerplate
    * (headers, licence text, navigation chrome) that should be stripped or
    * exact-deduped BEFORE pair generation; this query is how a pipeline
    * operator finds them. One explode + one gram-keyed partial-aggregating
    * count; the result is bounded by `topN` (per-partition top-N via the
    * sort-limit pushdown, never a global gram table on the driver).
    */
  def boilerplateGrams(
      df: DataFrame,
      textCol: String,
      n: Int = 3,
      minDf: Long = 2L,
      topN: Int = 20): DataFrame =
    df.select(explode(array_distinct(Decontaminate.wordNgrams(col(textCol), n))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("gram").asc)
      .limit(topN)

  /** SemDeDup-style semantic duplicate pairs (Abbas et al. 2023): cluster
    * the embedding space with deterministic k-means ([[Similarity]]'s IVF
    * trainer — seeds are the first `nlist` vectors by id, no RNG), then
    * compare rows pairwise ONLY within a cluster, emitting
    * (id_a, id_b, cosine) for intra-cluster pairs with cosine >=
    * `threshold`. Feed the pairs to [[removeNearDuplicates]] /
    * [[removeNearDuplicatesCC]] to materialize the pruned corpus.
    *
    * This is the shape that makes embedding dedup tractable at corpus
    * scale: clustering bounds the quadratic term to Σ|cluster|² instead of
    * |corpus|² — the paper's own motivation. Cluster assignment is the
    * zero-Exchange native [[graft.functions.NearestCentroid]] argmax
    * (centroids are driver-bounded at nlist × dim doubles and ride into
    * codegen); the pair join shuffles once on the cluster id. A skewed
    * cluster emits c² candidate rows in one join partition, so clusters
    * above `maxCluster` rows are DROPPED from pairing (recall loss, same
    * opt-out rail as [[DefaultMaxBucket]] on the LSH paths) — audit them
    * with [[oversizedClusters]] and either raise `nlist` or exact-dedup
    * the degenerate mass first.
    *
    * APPROXIMATE by construction: a pair straddling a cluster boundary is
    * missed (recall floor asserted in SemanticDedupSpec). For pairs at
    * cosine ≈ 1 (exact/near-exact duplicates) the approximation is exact:
    * identical vectors produce identical centroid distances and the argmax
    * tie-breaks deterministically, so exact duplicates ALWAYS co-cluster —
    * at a threshold that only exact-duplicate pairs reach, the output
    * equals the brute-force pair set and is oracle-checkable.
    */
  def semanticPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nlist: Int = 16,
      lloydIters: Int = 2,
      maxCluster: Int = DefaultMaxBucket): DataFrame = {
    import graft.functions.VectorFunctions.{vec_dot, vec_norm}
    val c = df.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val centroids = Similarity.trainIvfCentroids(c, nlist, lloydIters)
    val assigned = c
      .withColumn("cluster",
        graft.functions.VectorFunctions.nearest_centroid(col("n_vec"), centroids.map(_._2)))
      .withColumn("nrm", vec_norm(col("n_vec")))
    // the cap counts rows per cluster (one narrow agg) and drops oversized
    // clusters BEFORE the quadratic join; window-over-cluster would carry
    // vectors through an extra sort, the semi-join carries only ids
    val small = assigned.groupBy("cluster").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxCluster).select("cluster")
    val capped = assigned.join(broadcast(small), Seq("cluster"))
    val a = capped.select(col("cluster"), col("n_id").as("id_a"),
      col("n_vec").as("vec_a"), col("nrm").as("nrm_a"))
    val b = capped.select(col("cluster"), col("n_id").as("id_b"),
      col("n_vec").as("vec_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(vec_dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")), 4))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Audit for [[semanticPairs]]' `maxCluster` rail: (cluster, n_rows) for
    * every k-means cluster holding more than `maxCluster` rows — the
    * clusters whose pairs the cap silently drops. Same contract as
    * [[oversizedBuckets]] for the LSH paths.
    */
  def oversizedClusters(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      lloydIters: Int = 2,
      maxCluster: Int = DefaultMaxBucket): DataFrame = {
    val c = df.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val centroids = Similarity.trainIvfCentroids(c, nlist, lloydIters)
    c.withColumn("cluster",
        graft.functions.VectorFunctions.nearest_centroid(col("n_vec"), centroids.map(_._2)))
      .groupBy("cluster").agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > maxCluster)
  }

  /** Sub-document EXACT dedup over fixed token spans — the C4/Dolma-style
    * "remove repeated boilerplate spans across the corpus" operator (C4
    * deduplicates three-sentence spans; Dolma exact-dedups paragraphs; the
    * span unit here is `spanTokens` consecutive space-separated tokens, the
    * `tokenCount`/`chunkDocuments` convention). The FIRST occurrence of
    * each distinct span — ordered by (id asc, span position asc) — is kept;
    * every later occurrence is cut from its document. Documents are
    * reassembled from their surviving spans in order; docs losing all spans
    * come back with empty text (the operator dedups content, it never drops
    * a document row — chain [[exact]] upstream for whole-doc dups).
    *
    * Emits (idCol, textCol, n_spans_dropped) — one row per input row.
    *
    * NULL text is treated as empty (the generator is total: every input
    * row comes back, `n_spans_dropped` never NULL).
    *
    * Scale shape: two key shuffles, no self-join. (1) winner selection is a
    * rank-1 window partitioned by a 128-bit span-content key — two
    * independently-salted xxhash64s, so the exchange key stays 16 bytes
    * regardless of span width, and the collision probability at 100 TB
    * span counts (~10¹²) is ~10⁻¹³ (a single 64-bit key WOULD collide at
    * that scale; two salted hashes colliding simultaneously on different
    * spans is birthday-bounded at 2⁻¹²⁸ pair rate). A cross-hash collision
    * would merge two distinct spans' windows — one span lost, no
    * corruption beyond that. (2) reassembly is one groupBy(id) of the
    * surviving spans. The span frame is the corpus re-segmented, not
    * amplified: each token appears in exactly one span.
    */
  def dedupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int = 50): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1: $spanTokens")
    val toks = split(coalesce(col(textCol), lit("")), " ")
    val base = df.select(
      col(idCol).as("__id"),
      toks.as("__toks"),
      // greatest(…, 1) keeps the generator total: size ≥ 1 for any string
      // ('' splits to ['']), but a defensive clamp beats a negative slice
      // from sequence(0, -1) if an upstream ever feeds an empty array
      greatest(ceil(size(toks).cast("double") / spanTokens).cast("int"), lit(1))
        .as("__n_spans"))
    val spans = base.select(col("__id"),
      posexplode(transform(sequence(lit(0), col("__n_spans") - 1),
        i => concat_ws(" ", slice(col("__toks"), i * spanTokens + 1, lit(spanTokens)))))
        .as(Seq("span_idx", "span")))
      // 128-bit content key: the winner exchange/sort never carries span
      // text as its key (spans are up to spanTokens tokens wide)
      .withColumn("__k1", xxhash64(lit(0x5174a1L), col("span")))
      .withColumn("__k2", xxhash64(lit(0x9e3779b9L), col("span")))
    val w = Window.partitionBy("__k1", "__k2").orderBy(col("__id").asc, col("span_idx").asc)
    val rebuilt = spans
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy("__id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("span_idx"), col("span")))),
          s => s.getField("span"))).as("__text"),
        count(lit(1)).as("__n_kept"))
    base.select(col("__id"), col("__n_spans"))
      .join(rebuilt, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        coalesce(col("__text"), lit("")).as(textCol),
        (col("__n_spans").cast("long") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_spans_dropped"))
  }

  /** SimHash near-dup pairs: fingerprints are banded into four 16-bit
    * blocks; documents sharing any block are candidates (guaranteed recall
    * for hamming ≤ 3 by pigeonhole), then verified by full hamming distance
    * ≤ `maxHamming`. Returns (id_a, id_b, hamming).
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame =
    fingerprintPairs(
      df.select(col(idCol).as("id"), simhash64(textCol).as("fp")),
      "id", "fp", maxHamming)

  /** Near-dup pairs over ANY 64-bit fingerprint column (SimHash, image
    * aHash per [[Multimodal.averageHash]], audio envelope hashes, …):
    * fingerprints are banded into four 16-bit blocks; rows sharing any
    * block are candidates (guaranteed recall for hamming ≤ 3 by
    * pigeonhole; still high for slightly larger distances), verified by
    * full hamming ≤ `maxHamming`. Returns (id_a, id_b, hamming).
    *
    * Same aggregation-not-self-join shape as [[minhashLsh]]: ids+fps are
    * collected per (band, block) bucket, ordered pairs explode map-side,
    * and only slim (id, fp) pairs ever shuffle. `maxBucket` caps
    * degenerate buckets (e.g. the all-black-image fingerprint at corpus
    * scale) exactly like the MinHash path — audit oversized buckets
    * before trusting recall.
    */
  /** Audit rail for [[fingerprintPairs]]' capped banding: the
    * (band, bucket) groups LARGER than `maxBucket` — which pair mining
    * silently drops — with their sizes. The [[oversizedBuckets]] pattern
    * for the 64-bit fingerprint family (image phash, SimHash-shaped
    * fingerprints): run it beside any capped mining job so the
    * recall-loss evidence ships with the result.
    */
  def fingerprintOversizedBuckets(
      df: DataFrame,
      idCol: String,
      fpCol: String,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val fp = df.select(col(idCol).as("id"), col(fpCol).as("fp"))
    val bandCols = array((0 until 4).map { j =>
      struct(
        lit(j).as("band"),
        shiftright(col("fp"), 16 * j).bitwiseAND(lit(0xFFFFL)).as("bucket"))
    }: _*)
    fp.select(col("id"), explode(bandCols).as("bb"))
      .groupBy(col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .agg(count(lit(1)).as("n_ids"))
      .filter(col("n_ids") > maxBucket)
  }

  def fingerprintPairs(
      df: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val fp = df.select(col(idCol).as("id"), col(fpCol).as("fp"))
    val bandCols = array((0 until 4).map { j =>
      struct(
        lit(j).as("band"),
        shiftright(col("fp"), 16 * j).bitwiseAND(lit(0xFFFFL)).as("bucket"))
    }: _*)
    val banded = fp.select(col("id"), col("fp"), explode(bandCols).as("bb"))
      .select(col("id"), col("fp"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    banded.groupBy("band", "bucket")
      .agg(sort_array(collect_list(struct(col("id"), col("fp")))).as("xs"))
      .filter(size(col("xs")).between(2, maxBucket))
      .select(explode(flatten(transform(col("xs"), (x, i) =>
        transform(slice(col("xs"), i + 2, greatest(size(col("xs")) - i - 1, lit(0))), y =>
          struct(x.getField("id").as("id_a"), y.getField("id").as("id_b"),
            x.getField("fp").as("fp_a"), y.getField("fp").as("fp_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.fp_a"), col("p.fp_b"))
      // duplicate input ids would slice-pair with themselves (the sorted
      // pairing only guarantees id_a <= id_b) — keep the strict invariant
      .filter(col("id_a") =!= col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
