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
import graft.sources.Parquet

/** exact / near / semantic dedup, similarity joins and record linkage.
  *
  * One registry slice of [[graft.SparkEntry]] (split r14 — the single
  * 6.6k-line file was the bottleneck): `queries` feeds the driver's
  * Verify/Bench maps, `oracles` the DuckDB compare. Keys and bodies are
  * unchanged from the pre-split registry.
  */
object DedupQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- North star: dedup ----
    "dedup_exact" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dups = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      Dedup.exact(docs.unionByName(dups), keys = Seq("text"), keepBy = "doc_id")
        .orderBy("doc_id")
    }),


    "dedup_minhash_lsh" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dups = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      Dedup.minhashLsh(docs.unionByName(dups), "doc_id", "text",
        shingleK = 3, bands = 8, rowsPerBand = 2, threshold = 0.8)
        .orderBy("id_a", "id_b")
    }),


    // pairs → deduplicated corpus (greedy keep-lowest-id over LSH pairs)
    "dedup_near_corpus" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dups = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val aug = docs.unionByName(dups)
      val pairs = Dedup.minhashLsh(aug, "doc_id", "text",
        shingleK = 3, bands = 8, rowsPerBand = 2, threshold = 0.8)
      Dedup.removeNearDuplicates(aug, pairs, "doc_id").orderBy("doc_id")
    }),


    // exact brute-force near-dup (the verification baseline for MinHash).
    // O(n²) by nature — bounded to a 500-doc slice; the scalable path is
    // dedup_minhash_lsh (SURVEY.md §7.5).
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 500), "doc_id", "text",
        shingleK = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),


    // EXACT similarity join at scale: the complete Jaccard pair set —
    // provably identical to the brute-force anchor above (asserted in
    // SimJoinSpec at three thresholds) — through a prefix-filtered plan
    // with NO cross join (SSJoin/PPJoin prefix-filtering principle:
    // rarity-ordered shingle prefixes of length n−⌈t·n⌉+1 must collide
    // for any pair with J ≥ t). Declared over the FULL corpus, no slice
    // bound: candidate posting lists hold only each doc's rarest
    // shingles, so the plan stays linear-shuffle at 100 TB where the
    // anchor's cross join is slice-bounded by necessity.
    "simjoin_prefix_exact" -> ((s, dir) =>
      graft.ops.SimJoin.prefixJaccard(
          Tables.documents(s, dir), "doc_id", "text",
          shingleK = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")),


    // incremental EXACT similarity join: the daily-crawl shape — every
    // batch↔corpus pair with J ≥ 0.5, complete (unlike dedup_incremental's
    // LSH recall), under the CORPUS-frozen rarity order (unseen batch
    // shingles take df 0 without invalidating prebuilt corpus prefixes —
    // the proof and the O(|batch|) increment argument in
    // SimJoin.incrementalPairs' doc); the corpus is never self-paired
    "simjoin_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.SimJoin.incrementalPairs(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", shingleK = 3, threshold = 0.5)
        .orderBy("batch_id", "corpus_id")
    }),


    // persisted prefix-index serve (ops/SimJoinIndex): simjoin_
    // incremental's corpus-side state — frozen rarity order, prefix
    // postings (hash-clustered by shingle), sorted sets — built + written
    // ONCE, then each batch probes the INDEX: one df left-join to freeze
    // the batch under the corpus order, one prefix↔posting equi-join,
    // length-bound, exact verify against the stored sets. The corpus
    // text is never re-shingled at serve time (SimJoinSpec plan-audits
    // the corpus source absent from the serve plan). Shares
    // simjoin_incremental's oracle: the served pairs are the complete
    // exact-Jaccard bipartite set.
    "simjoin_persisted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("simjoin2", dir) { tmp =>
        graft.ops.SimJoinIndex.write(
          graft.ops.SimJoinIndex.build(docs.filter(col("doc_id") % 5 =!= 0),
            "doc_id", "text", shingleK = 3, threshold = 0.5), tmp)
      }
      graft.ops.SimJoinIndex.pairs(
          graft.ops.SimJoinIndex.read(s, idxDir),
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("batch_id", "corpus_id")
    }),


    // CANDIDATE-BUDGETED persisted serve (SimJoinIndex.pairsCapped): at
    // most 16 corpus candidates reach the exact verify per batch doc,
    // ranked by shared-prefix-shingle evidence — the bound on the
    // measured ~3×/decade candidate growth of the uncapped serve
    // (BASELINE.md §r16). At this cap the served pair set is IDENTICAL,
    // so it shares simjoin_persisted's full bipartite oracle — the capped
    // path proven right; its recall price at a TIGHT cap is the pinned
    // simjoin_capped_loss_audit record.
    "simjoin_capped_serve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("simjoin2", dir) { tmp =>
        graft.ops.SimJoinIndex.write(
          graft.ops.SimJoinIndex.build(docs.filter(col("doc_id") % 5 =!= 0),
            "doc_id", "text", shingleK = 3, threshold = 0.5), tmp)
      }
      graft.ops.SimJoinIndex.pairsCapped(
          graft.ops.SimJoinIndex.read(s, idxDir),
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          maxCandidatesPerDoc = 16)
        .orderBy("batch_id", "corpus_id")
    }),


    // the cap's RECALL price as a declared record (SimJoinIndex
    // .cappedLossAudit — the dedup_oversized_buckets evidence
    // convention): full-vs-capped verified pair counts at a TIGHT cap of
    // 1 candidate/doc, so the pinned record carries a real nonzero loss
    // ratio alongside the lossless cap-16 serve above. Candidate ranking
    // is xxhash-order JVM-side → pinned VALUES oracle.
    "simjoin_capped_loss_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("simjoin2", dir) { tmp =>
        graft.ops.SimJoinIndex.write(
          graft.ops.SimJoinIndex.build(docs.filter(col("doc_id") % 5 =!= 0),
            "doc_id", "text", shingleK = 3, threshold = 0.5), tmp)
      }
      graft.ops.SimJoinIndex.cappedLossAudit(
        graft.ops.SimJoinIndex.read(s, idxDir),
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
        maxCandidatesPerDoc = 1)
    }),


    // POSTING-BUDGETED persisted serve (SimJoinIndex.pairsBudgeted): the
    // bound on the LAST unbounded serve term — pairsCapped bounds the
    // verify per batch doc but still aggregates every probed posting row,
    // and postings grow with the corpus (probe stage 2.2× in decade 2,
    // BASELINE.md §r17). At most 8 corpus posting rows per probed shingle
    // (smallest sets first — the docs with the fewest other prefix
    // shingles to be rediscovered by) reach the candidate join, plus the
    // cap-16 verify budget. Both budgets are LOSSLESS at this corpus
    // (max probed posting length is 2 at sf0.01), so the serve must
    // produce the IDENTICAL complete pair set — it shares
    // simjoin_persisted's full bipartite oracle; the tight-budget recall
    // price is the pinned simjoin_probe_budget_loss_audit record.
    "simjoin_probe_budget_serve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("simjoin2", dir) { tmp =>
        graft.ops.SimJoinIndex.write(
          graft.ops.SimJoinIndex.build(docs.filter(col("doc_id") % 5 =!= 0),
            "doc_id", "text", shingleK = 3, threshold = 0.5), tmp)
      }
      graft.ops.SimJoinIndex.pairsBudgeted(
          graft.ops.SimJoinIndex.read(s, idxDir),
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          maxPostingsPerShingle = 8, maxCandidatesPerDoc = 16)
        .orderBy("batch_id", "corpus_id")
    }),


    // the posting budget's recall price as a declared record
    // (SimJoinIndex.probeBudgetLossAudit — the cappedLossAudit
    // convention) at a TIGHT budget of 1 posting row per probed shingle
    // (verify cap stays at the lossless 16, isolating the probe-stage
    // loss). Truncation order is JVM-side → pinned VALUES oracle.
    "simjoin_probe_budget_loss_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("simjoin2", dir) { tmp =>
        graft.ops.SimJoinIndex.write(
          graft.ops.SimJoinIndex.build(docs.filter(col("doc_id") % 5 =!= 0),
            "doc_id", "text", shingleK = 3, threshold = 0.5), tmp)
      }
      graft.ops.SimJoinIndex.probeBudgetLossAudit(
        graft.ops.SimJoinIndex.read(s, idxDir),
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
        maxPostingsPerShingle = 1, maxCandidatesPerDoc = 16)
    }),


    // prefix-index MAINTENANCE serve (SimJoinIndex.append): the index is
    // built on 6/7 of the corpus, the held-out 1/7 folds in under the
    // FROZEN rarity order (one shingle pass over the delta only —
    // df-0 newcomers sort first, the same argument as the batch side),
    // then the batch probes the appended index. The pair set is EXACT
    // (completeness needs only a common total order + exact verify), so
    // this shares the FULL-corpus bipartite oracle — append is provably
    // a rebuild.
    "simjoin_append" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val appended = graft.ops.SimJoinIndex.append(
        graft.ops.SimJoinIndex.build(corpus.filter(col("doc_id") % 7 =!= 0),
          "doc_id", "text", shingleK = 3, threshold = 0.5),
        corpus.filter(col("doc_id") % 7 === 0), "doc_id", "text")
      graft.ops.SimJoinIndex.pairs(appended,
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("batch_id", "corpus_id")
    }),


    // prefix-index ERASURE serve (SimJoinIndex.erase — the delete half
    // beside dedup_minhash_erase / text_bm25_erase / knn_ivfpq_erase):
    // victims drop from the postings and set stores via keys-only
    // anti-joins, the frozen rarity order stays (model state), and the
    // served pair set is provably the rebuild WITHOUT the victims (the
    // oracle recomputes exactly that). No corpus rescan, no rebuild.
    "simjoin_erase" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("simjoin2", dir) { tmp =>
        graft.ops.SimJoinIndex.write(
          graft.ops.SimJoinIndex.build(docs.filter(col("doc_id") % 5 =!= 0),
            "doc_id", "text", shingleK = 3, threshold = 0.5), tmp)
      }
      val victims = docs.filter(pmod(col("doc_id"), lit(9)) === 2)
        .select(col("doc_id"))
      graft.ops.SimJoinIndex.pairs(
          graft.ops.SimJoinIndex.erase(
            graft.ops.SimJoinIndex.read(s, idxDir), victims),
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("batch_id", "corpus_id")
    }),


    // transitive duplicate clusters: iterative min-label propagation over
    // the exact-Jaccard pair graph (oracle: recursive CTE reachability)
    "dedup_components" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 500), "doc_id", "text",
        shingleK = 3, threshold = 0.5)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("comp"))
        .orderBy("doc_id")
    }),


    // quality-canonical near-dedup (RefinedWeb/FineWeb practice): the
    // best-quality member of each duplicate cluster survives, not the
    // min-id one; qualityScore rounds to 4 dp internally, so winner
    // selection is cross-engine-deterministic as-is
    "dedup_canonical" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleK = 3, threshold = 0.5)
      Dedup.canonicalByQuality(docs, pairs, "doc_id",
          TextAnalysis.qualityScore(col("text")))
        .withColumnRenamed("score", "quality")
        .orderBy("doc_id")
    }),


    // C4/Dolma-style sub-document exact dedup: repeated 10-token spans cut
    // corpus-wide (first occurrence survives), documents reassembled —
    // content-level boilerplate removal, not row dedup
    "dedup_spans" -> ((s, dir) =>
      Dedup.dedupSpans(Tables.documents(s, dir), "doc_id", "text", spanTokens = 10)
        .orderBy("doc_id")),


    // pinned VALUES oracle (simhash needs Spark-side xxhash64; bit-exact
    // HOF cross-check in DedupSpec)
    "dedup_simhash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dups = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      Dedup.simhashPairs(docs.unionByName(dups), "doc_id", "text", maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("bigint"))
        .orderBy("id_a", "id_b")
    }),


    // embedding-space near-dup: banded-LSH candidates (8 bands × 4 planes —
    // ≥99.9% recall at cosine 0.95, vs near-zero for a full-signature
    // match), exact cosine verify
    "dedup_embedding_cosine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val dups = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
      Dedup.embeddingCosinePairs(emb.unionByName(dups), "vec_id", "embedding",
        threshold = 0.95, lshPlanes = 4, lshBands = 8)
        .orderBy("id_a", "id_b")
    }),


    // exact-substring duplicate pairs (Lee et al. 2021): docs sharing a
    // verbatim 6-token run; inverted gram index, map-side pair generation,
    // boilerplate grams (df > 100) dropped — the cap is mirrored in the
    // oracle SQL
    "dedup_substring" -> ((s, dir) =>
      Dedup.substringPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 6, maxDf = 100, minShared = 1L)
        .orderBy("id_a", "id_b")),


    // containment dedup: short docs embedded verbatim in longer ones
    // (Jaccard-invisible). Injected prefix-truncations of docs < 20 score
    // containment 1.0 against their originals
    "dedup_containment" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val trunc = docs.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
        .withColumn("text", substring_index(col("text"), " ", 15))
      Dedup.containmentPairs(docs.unionByName(trunc), "doc_id", "text",
          n = 6, maxDf = 100, minContainment = 0.8)
        .orderBy("id_a", "id_b")
    }),


    // the deduplicated corpus under the substring criterion: remove the
    // greater member of every pair (greedy, matches removeNearDuplicates)
    "dedup_substring_corpus" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.substringPairs(docs, "doc_id", "text",
        n = 6, maxDf = 100, minShared = 1L)
      Dedup.removeNearDuplicates(docs, pairs, "doc_id").orderBy("doc_id")
    }),


    // SemDeDup (Abbas et al. 2023): deterministic k-means clusters bound
    // the pairwise term; at threshold 0.95 only the injected exact
    // duplicates qualify and exact duplicates always co-cluster, so the
    // output equals the brute-force pair set (oracle-checkable; the
    // approximate regime at lower thresholds is recall-asserted in
    // DedupSpec). The equality is FIXTURE-CONDITIONED: on the ×10
    // ScaleUp corpus perturbed replicas create non-identical pairs
    // ≥ 0.95 and the cluster-pruned serve legitimately returns 98.5% of
    // brute force with zero false positives and every identical pair
    // found (BASELINE.md §r18) — the exact-at-any-scale alternative is
    // dedup_embedding_cosine
    "dedup_semantic" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val dups = emb.filter(col("vec_id") < 20)
        .withColumn("vec_id", col("vec_id") + lit(1000000L))
      Dedup.semanticPairs(emb.unionByName(dups), "vec_id", "embedding",
          threshold = 0.95, nlist = 16)
        .orderBy("id_a", "id_b")
    }),


    // winnowing-overlap pairs: docs sharing >= 2 selected fingerprints —
    // the MOSS plagiarism-pair shape over a ~1/3-density index; pinned
    // VALUES oracle (hash identities are Spark-side)
    "dedup_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 4, window = 5, maxDf = 100, minShared = 2L)
        .orderBy("id_a", "id_b")),


    // blocked fuzzy linkage over part names: pairs form only within a
    // brand block (semi-join rail drops oversized blocks), banded
    // levenshtein gate keeps near-matches — Σ|block|² cost, never
    // all-pairs
    "link_fuzzy_parts" -> ((s, dir) =>
      graft.ops.Linkage.fuzzyPairs(Tables.part(s, dir),
          "p_partkey", "p_brand", "p_name", maxDist = 2, maxBlock = 100000L)
        .orderBy("id_a", "id_b")),


    // the linkage cap audit, declared: brands larger than the (tight,
    // fixture-meaningful) cap, with sizes — a capped run ships its own
    // evidence
    "link_oversized_blocks" -> ((s, dir) =>
      graft.ops.Linkage.oversizedBlocks(Tables.part(s, dir), "p_brand", 75L)
        .orderBy("block")),


    // scale-safe fuzzy linkage (the negativeSampleAuto convention): the
    // compare budget derives a distinct-name cap from one measured count;
    // blocks over the cap refine through a prefix AND a suffix key pass
    // (union) — at this budget no sf block refines, so the pair set is
    // IDENTICAL to link_fuzzy_parts' where the fixed rail also succeeds
    "link_fuzzy_parts_auto" -> ((s, dir) =>
      graft.ops.Linkage.fuzzyPairsAuto(Tables.part(s, dir),
          "p_partkey", "p_brand", "p_name", maxDist = 2,
          compareBudget = 1000000000L)
        .orderBy("id_a", "id_b")),


    // the name-level match table — the 100 TB serve shape: one row per
    // matched DISTINCT name pair with id multiplicities, bounded by the
    // name vocabulary, never by row multiplicity (the id fan-out is the
    // answer's own size and is derived downstream when wanted)
    "link_fuzzy_matches_auto" -> ((s, dir) =>
      graft.ops.Linkage.fuzzyMatchesAuto(Tables.part(s, dir),
          "p_partkey", "p_brand", "p_name", maxDist = 2,
          compareBudget = 1000000000L)
        .orderBy("block", "name_a", "name_b")),


    // the derivation audit at a deliberately TIGHT budget (cap 22 at
    // sf0.01, under every brand's ~45-52 distinct names) so the
    // refinement path itself is oracle-checked: per brand the chosen
    // ladder levels, measured sub-block maxima, and dropped residue
    "link_fuzzy_auto_plan" -> ((s, dir) =>
      graft.ops.Linkage.fuzzyAutoPlan(Tables.part(s, dir),
          "p_brand", "p_name", maxDist = 2, compareBudget = 50000L)
        .orderBy("block")),


    // the loss audit for the same tight budget: refined-blocking recall
    // vs the exact unrefined pair set (computable at audit scales) — a
    // budgeted run ships its measured loss, never assumes it away
    "link_fuzzy_auto_loss_audit" -> ((s, dir) => {
      val part = Tables.part(s, dir)
      val full = graft.ops.Linkage.fuzzyPairs(part, "p_partkey", "p_brand",
        "p_name", maxDist = 2, maxBlock = 100000L)
      val auto = graft.ops.Linkage.fuzzyMatchesAuto(part, "p_partkey",
        "p_brand", "p_name", maxDist = 2, compareBudget = 50000L)
      full.agg(count(lit(1)).as("n_full"))
        .crossJoin(auto.agg(
          coalesce(sum(col("n_pairs")), lit(0L)).as("n_auto")))
        .select(col("n_full"), col("n_auto"),
          (col("n_full") - col("n_auto")).as("n_lost"),
          round((col("n_full") - col("n_auto")) /
            col("n_full").cast("double"), 4).as("loss_pct"))
    }),


    // Recall/precision audit of the banded-LSH dedup path against the
    // EXACT prefix-filtered join on the same planted-clone corpus and
    // threshold (the knn_recall_audit pattern for the dedup family).
    // minhashLsh verifies candidates on true Jaccard, so precision must
    // be 1.0 by construction; recall is what the band parameters buy.
    "dedup_lsh_recall_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dups = docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val corpus = docs.unionByName(dups)
      // the exact and LSH legs are independent pipelines over the same
      // corpus — materialize them CONCURRENTLY (guide §2.6, the
      // knn_recall_audit overlap pattern): each leg's checkpointed pair
      // set and the closing counts are unchanged, only the idle time
      // between the two serial materializations goes away. Every leg is
      // awaited (success or failure) before the first error rethrows.
      val legs: Seq[() => org.apache.spark.sql.DataFrame] = Seq(
        () => graft.ops.SimJoin.prefixJaccard(corpus, "doc_id", "text",
          shingleK = 3, threshold = 0.8).select("id_a", "id_b").localCheckpoint(),
        () => graft.ops.Dedup.minhashLsh(corpus, "doc_id", "text",
          shingleK = 3, bands = 8, rowsPerBand = 2, threshold = 0.8)
          .select("id_a", "id_b").localCheckpoint())
      val Seq(exact, lsh) =
        graft.ops.Concurrent.awaitAll(legs, graft.ops.Checkpoints.free)
      val common = lsh.join(exact, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .crossJoin(common.agg(count(lit(1)).as("n_common")))
        .select(col("n_exact"), col("n_lsh"), col("n_common"),
          round(col("n_common") / col("n_exact").cast("double"), 4).as("recall"),
          round(col("n_common") / col("n_lsh").cast("double"), 4).as("precision"))
    }),


    // Incremental duplicate-cluster maintenance (ops/Dedup
    // .connectedComponentsIncremental): yesterday's LABELS (not its pair
    // graph) + today's batch↔corpus exact pairs → the merged components;
    // the oracle recomputes from scratch over the full pair set (the
    // l8_merge_aggregate / graph_pagerank_incremental equality pattern).
    "dedup_components_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val oldDocs = docs.filter(col("doc_id") < 400)
      val batch = docs.filter(col("doc_id") >= 400 && col("doc_id") < 500)
      val oldLabels = Dedup.connectedComponents(
        graft.ops.SimJoin.prefixJaccard(oldDocs, "doc_id", "text",
          shingleK = 3, threshold = 0.5).select("id_a", "id_b"))
      val newPairs = graft.ops.SimJoin.incrementalPairs(oldDocs, batch,
          "doc_id", "text", shingleK = 3, threshold = 0.5)
        .select(col("corpus_id").as("id_a"), col("batch_id").as("id_b"))
      Dedup.connectedComponentsIncremental(oldLabels, newPairs)
        .select(col("id").as("doc_id"), col("comp"))
        .orderBy("doc_id")
    }),


    // The PERSISTED serving leg of the same maintenance operator (the
    // r13 verdict's ask: bench the INCREMENTAL claim, not the base
    // rebuild): the base corpus' labels are computed and written ONCE
    // (build-once IndexFixture, the dedup_minhash_persisted pattern), so
    // the declared plan is labels-read + batch↔corpus incrementalPairs +
    // one CC merge — NO base-corpus prefixJaccard self-join anywhere in
    // it. Shares dedup_components_incremental's from-scratch oracle.
    "dedup_components_persisted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val labelsDir = IndexFixture.dir("cclabels1", dir) { tmp =>
        val oldDocs = Tables.documents(s, dir).filter(col("doc_id") < 400)
        Dedup.connectedComponents(
          graft.ops.SimJoin.prefixJaccard(oldDocs, "doc_id", "text",
            shingleK = 3, threshold = 0.5).select("id_a", "id_b"))
          .write.mode("overwrite").parquet(tmp + "/labels")
      }
      val oldDocs = docs.filter(col("doc_id") < 400)
      val batch = docs.filter(col("doc_id") >= 400 && col("doc_id") < 500)
      val newPairs = graft.ops.SimJoin.incrementalPairs(oldDocs, batch,
          "doc_id", "text", shingleK = 3, threshold = 0.5)
        .select(col("corpus_id").as("id_a"), col("batch_id").as("id_b"))
      Dedup.connectedComponentsIncremental(
          Parquet.read(s, labelsDir + "/labels"), newPairs)
        .select(col("id").as("doc_id"), col("comp"))
        .orderBy("doc_id")
    }),


    // Incremental near-dup: a NEW BATCH (re-labeled copies of docs
    // 100–149, simulating a re-crawl) deduped AGAINST the existing corpus
    // — one (band,bucket) equi-join, no corpus self-join. Oracle:
    // brute-force batch × corpus Jaccard.
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(col("doc_id").between(100, 149))
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      Dedup.minhashLshIncremental(docs, batch, "doc_id", "text",
        shingleK = 3, bands = 8, rowsPerBand = 2, threshold = 0.8)
        .orderBy("batch_id", "corpus_id")
    }),


    // The PERSISTED serving path of the same operator: corpus shingled,
    // signed, and written ONCE (MinHashIndex.write — a written generation
    // + parameter sidecar, IndexFixture); the declared body is
    // read → query, the daily-batch deployment shape. Deterministic
    // hashes → same oracle as dedup_incremental.
    "dedup_minhash_persisted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("minhash2", dir) { tmp =>
        graft.ops.MinHashIndex.write(
          graft.ops.MinHashIndex.build(docs, "doc_id", "text",
            shingleK = 3, bands = 8, rowsPerBand = 2), tmp)
      }
      val batch = docs.filter(col("doc_id").between(100, 149))
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      graft.ops.MinHashIndex.query(
          graft.ops.MinHashIndex.read(s, idxDir), batch, "doc_id", "text",
          threshold = 0.8)
        .orderBy("batch_id", "corpus_id")
    }),


    // CANDIDATE-BUDGETED persisted LSH serve (MinHashIndex.queryCapped):
    // at most 8 corpus candidates per batch doc reach the exact verify,
    // ranked by matching-band count — the per-doc bound the corpus-side
    // maxBucket guard cannot provide (bucket COUNT per doc still grows
    // with the corpus; measured 2.7× in decade 2, BASELINE.md §r16). At
    // this cap the pair set is identical, so it shares
    // dedup_minhash_persisted's brute bipartite oracle; the tight-cap
    // recall price is the pinned dedup_minhash_capped_loss_audit record.
    "dedup_minhash_capped" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("minhash2", dir) { tmp =>
        graft.ops.MinHashIndex.write(
          graft.ops.MinHashIndex.build(docs, "doc_id", "text",
            shingleK = 3, bands = 8, rowsPerBand = 2), tmp)
      }
      val batch = docs.filter(col("doc_id").between(100, 149))
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      graft.ops.MinHashIndex.queryCapped(
          graft.ops.MinHashIndex.read(s, idxDir), batch, "doc_id", "text",
          maxCandidatesPerDoc = 8, threshold = 0.8)
        .orderBy("batch_id", "corpus_id")
    }),


    // the LSH cap's recall price as a declared record (MinHashIndex
    // .cappedLossAudit), at a tight cap of 1 — band-collision ranking is
    // JVM-side xxhash → pinned VALUES oracle.
    "dedup_minhash_capped_loss_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("minhash2", dir) { tmp =>
        graft.ops.MinHashIndex.write(
          graft.ops.MinHashIndex.build(docs, "doc_id", "text",
            shingleK = 3, bands = 8, rowsPerBand = 2), tmp)
      }
      val batch = docs.filter(col("doc_id").between(100, 149))
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      graft.ops.MinHashIndex.cappedLossAudit(
        graft.ops.MinHashIndex.read(s, idxDir), batch, "doc_id", "text",
        maxCandidatesPerDoc = 1, threshold = 0.8)
    }),


    // POSTING-BUDGETED persisted LSH serve (MinHashIndex.queryBudgeted):
    // the probe-stage bound the per-doc candidate cap cannot provide —
    // queryCapped still aggregates every probed bucket posting row, and
    // bucket postings grow with the corpus under the maxBucket DROP
    // guard. At most 8 corpus rows per probed (band, bucket) — in
    // content-hash order, a deterministic unbiased sample — reach the
    // collision join, plus the cap-8 verify budget. Both budgets are
    // LOSSLESS at this corpus (max surviving probed bucket is 3 at
    // sf0.01), so the serve shares dedup_minhash_persisted's brute
    // bipartite oracle; the tight-budget price is the pinned
    // dedup_minhash_probe_budget_loss_audit record.
    "dedup_minhash_probe_budget" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("minhash2", dir) { tmp =>
        graft.ops.MinHashIndex.write(
          graft.ops.MinHashIndex.build(docs, "doc_id", "text",
            shingleK = 3, bands = 8, rowsPerBand = 2), tmp)
      }
      val batch = docs.filter(col("doc_id").between(100, 149))
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      graft.ops.MinHashIndex.queryBudgeted(
          graft.ops.MinHashIndex.read(s, idxDir), batch, "doc_id", "text",
          maxPostingsPerBucket = 8, maxCandidatesPerDoc = 8, threshold = 0.8)
        .orderBy("batch_id", "corpus_id")
    }),


    // the LSH posting budget's recall price as a declared record
    // (MinHashIndex.probeBudgetLossAudit) at a TIGHT budget of 1 row per
    // probed bucket (verify cap stays at the lossless 8, isolating the
    // probe-stage loss). xxhash64 truncation order is JVM-side → pinned
    // VALUES oracle.
    "dedup_minhash_probe_budget_loss_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("minhash2", dir) { tmp =>
        graft.ops.MinHashIndex.write(
          graft.ops.MinHashIndex.build(docs, "doc_id", "text",
            shingleK = 3, bands = 8, rowsPerBand = 2), tmp)
      }
      val batch = docs.filter(col("doc_id").between(100, 149))
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      graft.ops.MinHashIndex.probeBudgetLossAudit(
        graft.ops.MinHashIndex.read(s, idxDir), batch, "doc_id", "text",
        maxPostingsPerBucket = 1, maxCandidatesPerDoc = 8, threshold = 0.8)
    }),


    // ERASURE on the persisted MinHash index (MinHashIndex.erase — the
    // delete half completing the build/write/read/query/append/erase
    // contract shared by all three persisted indexes): every 10th corpus
    // doc is forgotten by two keys-only anti-joins (signatures are
    // content-deterministic, so erase EQUALS a retained-corpus rebuild),
    // then the re-crawl batch queries the erased index — erased docs can
    // never match again. Oracle: brute-force batch × RETAINED-corpus
    // Jaccard.
    "dedup_minhash_erase" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("minhash2", dir) { tmp =>
        graft.ops.MinHashIndex.write(
          graft.ops.MinHashIndex.build(docs, "doc_id", "text",
            shingleK = 3, bands = 8, rowsPerBand = 2), tmp)
      }
      val batch = docs.filter(col("doc_id").between(100, 149))
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      graft.ops.MinHashIndex.query(
          graft.ops.MinHashIndex.erase(
            graft.ops.MinHashIndex.read(s, idxDir),
            docs.filter(pmod(col("doc_id"), lit(10)) === 3).select(col("doc_id"))),
          batch, "doc_id", "text", threshold = 0.8)
        .orderBy("batch_id", "corpus_id")
    }),


    // The maxBucket cap's audit rail as a DECLARED query (no-silent-caps:
    // a capped production dedup ships its own evidence): a corpus slice
    // made degenerate — 60 re-id'd clones of one boilerplate line — joins
    // the real docs, and the buckets the cap would drop surface as
    // (band, n_ids). Bucket hashes are Spark-side; projecting them away
    // keeps the audit oracle-checkable.
    "dedup_oversized_buckets" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val degenerate = docs.filter(col("doc_id") < 60)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
        .withColumn("text", lit("all rights reserved see terms of service for details"))
      Dedup.oversizedBuckets(docs.unionByName(degenerate), "doc_id", "text",
          shingleK = 3, bands = 8, rowsPerBand = 2, maxBucket = 50)
        .select(col("band").cast("bigint").as("band"), col("n_ids"))
        .orderBy("band")
    }),


    // The maxCluster rail of SemDeDup, declared: 60 exact copies of one
    // embedding (identical vectors ALWAYS co-cluster) blow one k-means
    // cluster past the cap; the audit reports it as (cluster, n_rows).
    "dedup_oversized_clusters" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val clones = emb.filter(col("vec_id") === 0)
        .withColumn("__i", explode(sequence(lit(1L), lit(60L))))
        .withColumn("vec_id", col("vec_id") + col("__i") * 1000000L)
        .drop("__i")
      Dedup.oversizedClusters(emb.unionByName(clones), "vec_id", "embedding",
          nlist = 16, maxCluster = 50)
        .select(col("cluster").cast("bigint").as("cluster"), col("n_rows"))
        .orderBy("cluster")
    }),
  )

  // brute bipartite all-pairs over the mod-5 split — shared by the
  // recompute-per-run (simjoin_incremental) and persisted-index
  // (simjoin_persisted) serves. lazy: referenced by the oracles map
  // below (an eager val would still be null at its init).
  /** Brute-force batch × corpus exact-Jaccard bipartite recompute for the
    * mod-translated re-crawl batch — shared by the persisted LSH serve
    * and its candidate-budgeted variant (both must produce the complete
    * verified pair set at these parameters).
    */
  private lazy val MinhashPersistedBipartiteSql: String =
    "WITH batch AS (SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id BETWEEN 100 AND 149), " +
      "bsets AS (SELECT doc_id, list_distinct(" +
      "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
      "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
      "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM batch), " +
      "csets AS (SELECT doc_id, list_distinct(" +
      "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
      "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
      "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM documents) " +
      "SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, " +
      "round(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(b.s, c.s))) AS DOUBLE), 4) AS jaccard " +
      "FROM bsets b, csets c " +
      "WHERE CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(b.s, c.s))) AS DOUBLE) >= 0.8 " +
      "ORDER BY batch_id, corpus_id"

  /** Shared CTE prelude for the fuzzy-auto oracles: recomputes the FULL
    * corpus-derived blocking in DuckDB — cap from one count, per-pass
    * ladder levels from measured sub-block maxima (prefix keys `kp` and
    * reversed-prefix suffix keys `ks`), the sub-block rail, and the
    * unioned match set `mt` — so the oracle validates the derivation
    * itself, not just the levenshtein gate. Ladder level picks use
    * `min(L with max-sub ≤ cap)`: sub-block maxima are monotone
    * non-increasing in L (deeper prefixes partition shallower groups),
    * so min-fitting equals Spark's first-fitting coalesce.
    */
  private def fuzzyAutoCtes(budget: Long): String =
    s"nm AS (SELECT DISTINCT p_brand AS block, p_name AS name FROM part), " +
      s"st AS (SELECT GREATEST(2, $budget // (2 * GREATEST(1, count(*)))) AS cap FROM nm), " +
      "ov AS (SELECT block FROM nm GROUP BY block HAVING count(*) > (SELECT cap FROM st)), " +
      "mp AS (SELECT block, L, max(c) AS m FROM (" +
      "SELECT n.block, l.L, substr(n.name, 1, l.L) AS kk, count(*) AS c " +
      "FROM nm n JOIN ov o ON n.block = o.block " +
      "CROSS JOIN (SELECT unnest([4, 8, 12, 16, 20]) AS L) l " +
      "GROUP BY 1, 2, 3) GROUP BY 1, 2), " +
      "ms AS (SELECT block, L, max(c) AS m FROM (" +
      "SELECT n.block, l.L, substr(reverse(n.name), 1, l.L) AS kk, count(*) AS c " +
      "FROM nm n JOIN ov o ON n.block = o.block " +
      "CROSS JOIN (SELECT unnest([4, 8, 12, 16, 20]) AS L) l " +
      "GROUP BY 1, 2, 3) GROUP BY 1, 2), " +
      "lp AS (SELECT o.block, COALESCE(min(CASE WHEN m.m <= (SELECT cap FROM st) THEN m.L END), 20) AS lvl " +
      "FROM ov o LEFT JOIN mp m ON m.block = o.block GROUP BY o.block), " +
      "ls AS (SELECT o.block, COALESCE(min(CASE WHEN m.m <= (SELECT cap FROM st) THEN m.L END), 20) AS lvl " +
      "FROM ov o LEFT JOIN ms m ON m.block = o.block GROUP BY o.block), " +
      "kp AS (SELECT n.block, n.name, CASE WHEN l.lvl IS NULL THEN '' ELSE substr(n.name, 1, l.lvl) END AS kk " +
      "FROM nm n LEFT JOIN lp l ON n.block = l.block), " +
      "ks AS (SELECT n.block, n.name, CASE WHEN l.lvl IS NULL THEN '' ELSE substr(reverse(n.name), 1, l.lvl) END AS kk " +
      "FROM nm n LEFT JOIN ls l ON n.block = l.block), " +
      "sp AS (SELECT block, kk, count(*) AS sn FROM kp GROUP BY 1, 2), " +
      "ss AS (SELECT block, kk, count(*) AS sn FROM ks GROUP BY 1, 2), " +
      "tp AS (SELECT k.block, k.kk, k.name FROM kp k JOIN sp s ON k.block = s.block AND k.kk = s.kk WHERE s.sn <= (SELECT cap FROM st)), " +
      "ts AS (SELECT k.block, k.kk, k.name FROM ks k JOIN ss s ON k.block = s.block AND k.kk = s.kk WHERE s.sn <= (SELECT cap FROM st)), " +
      "pp AS (SELECT a.block, a.name AS name_x, b.name AS name_y, CAST(levenshtein(a.name, b.name) AS INT) AS dist " +
      "FROM tp a JOIN tp b ON a.block = b.block AND a.kk = b.kk AND a.name < b.name " +
      "WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 2), " +
      "ps AS (SELECT a.block, a.name AS name_x, b.name AS name_y, CAST(levenshtein(a.name, b.name) AS INT) AS dist " +
      "FROM ts a JOIN ts b ON a.block = b.block AND a.kk = b.kk AND a.name < b.name " +
      "WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 2), " +
      "mt AS (SELECT DISTINCT block, name_x, name_y, dist FROM (SELECT * FROM pp UNION ALL SELECT * FROM ps))"

  private lazy val SimjoinBipartiteSql: String =
    ("WITH sets AS (SELECT doc_id, list_distinct(" +
      "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
      "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
      "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM documents) " +
      "SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, " +
      "round(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(b.s, c.s))) AS DOUBLE), 4) AS jaccard " +
      "FROM sets b, sets c WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0 " +
      "AND CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(b.s, c.s))) AS DOUBLE) >= 0.5 " +
      "ORDER BY batch_id, corpus_id")

  val oracles: Map[String, String] = Map(

    // genuine dedup oracle (keep min doc_id per text) — at larger SFs the
    // fixture itself contains duplicate texts, so "just return documents"
    // would be wrong
    "dedup_exact" ->
      ("WITH aug AS (SELECT * FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, text, lang, source, n_chars FROM documents WHERE doc_id < 50) " +
        "SELECT doc_id, text, lang, source, n_chars FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM aug) t " +
        "WHERE rn = 1 ORDER BY doc_id"),


    // Independent brute-force oracle: TRUE n-gram Jaccard over all pairs in
    // DuckDB list algebra — verifies both candidate recall and the exact
    // jaccard values of the LSH path (validated: 81/81 pairs at sf0.01).
    "dedup_minhash_lsh" ->
      ("WITH aug AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50), " +
        "sets AS (SELECT doc_id, list_distinct(" +
        "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
        "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM aug) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 4) AS jaccard " +
        "FROM sets a, sets b WHERE a.doc_id < b.doc_id " +
        "AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.8 " +
        "ORDER BY id_a, id_b"),


    // corpus after greedy removal of the greater id of each true >=0.8 pair
    "dedup_near_corpus" ->
      ("WITH aug AS (SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, text, lang, source, n_chars FROM documents WHERE doc_id < 50), " +
        "sets AS (SELECT doc_id, list_distinct(" +
        "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
        "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM aug), " +
        "removed AS (SELECT DISTINCT b.doc_id AS id_b FROM sets a, sets b WHERE a.doc_id < b.doc_id " +
        "AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.8) " +
        "SELECT * FROM aug WHERE doc_id NOT IN (SELECT id_b FROM removed) ORDER BY doc_id"),


    "dedup_ngram_jaccard" ->
      ("WITH sets AS (SELECT doc_id, list_distinct(" +
        "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
        "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM documents WHERE doc_id < 500) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 4) AS jaccard " +
        "FROM sets a, sets b WHERE a.doc_id < b.doc_id " +
        "AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5 " +
        "ORDER BY id_a, id_b"),


    // same all-pairs formulation WITHOUT the slice bound — the oracle
    // checks the prefix-filtered plan returns the complete pair set
    "simjoin_prefix_exact" ->
      ("WITH sets AS (SELECT doc_id, list_distinct(" +
        "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
        "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM documents) " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 4) AS jaccard " +
        "FROM sets a, sets b WHERE a.doc_id < b.doc_id " +
        "AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5 " +
        "ORDER BY id_a, id_b"),


    // brute bipartite all-pairs over the same mod-5 split
    "simjoin_incremental" -> SimjoinBipartiteSql,

    // the persisted-index serve must produce the IDENTICAL complete
    // pair set — shared oracle, not a lookalike
    "simjoin_persisted" -> SimjoinBipartiteSql,

    // the cap-16 budgeted serve is LOSSLESS at this corpus — it must
    // serve the identical complete pair set
    "simjoin_capped_serve" -> SimjoinBipartiteSql,

    // the posting-budget serve (8 rows/shingle, cap 16) is LOSSLESS at
    // this corpus (max probed posting is 2) — identical complete pair set
    "simjoin_probe_budget_serve" -> SimjoinBipartiteSql,

    // the tight-cap loss audits (simjoin_capped_loss_audit 14→13 pairs
    // 7.14%, dedup_minhash_capped_loss_audit 53→50 5.66%) carry pinned
    // oracles — PinnedOracles auto-joins them by key (a family-map entry
    // for a pinned key is rejected by composedOracles)

    // append is exact: the maintained index serves the FULL-corpus
    // bipartite pair set
    "simjoin_append" -> SimjoinBipartiteSql,

    // erase is exact: the bipartite recompute WITHOUT the victims
    "simjoin_erase" ->
      ("WITH sets AS (SELECT doc_id, list_distinct(" +
        "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
        "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM documents) " +
        "SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, " +
        "round(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(b.s, c.s))) AS DOUBLE), 4) AS jaccard " +
        "FROM sets b, sets c WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0 AND c.doc_id % 9 <> 2 " +
        "AND CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(b.s, c.s))) AS DOUBLE) >= 0.5 " +
        "ORDER BY batch_id, corpus_id"),


    "dedup_components" ->
      ("WITH RECURSIVE sets AS (SELECT doc_id, list_distinct(" +
        "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
        "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM documents WHERE doc_id < 500), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sets a, sets b WHERE a.doc_id < b.doc_id " +
        "AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
        "walk(id, comp) AS (" +
        "SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id) " +
        "SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS comp FROM walk GROUP BY id ORDER BY doc_id"),


    "dedup_spans" ->
      ("WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts, " +
        "CAST(ceil(len(string_split(text, ' ')) / 10.0) AS BIGINT) AS n_spans FROM documents), " +
        "idx AS (SELECT doc_id, n_spans, ts, unnest(range(n_spans)) AS i FROM toks), " +
        "spans AS (SELECT doc_id, CAST(i AS BIGINT) AS span_idx, " +
        "array_to_string(ts[(CAST(i AS BIGINT)*10+1):(CAST(i AS BIGINT)*10+10)], ' ') AS span FROM idx), " +
        "kept AS (SELECT doc_id, span_idx, span FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn FROM spans) w " +
        "WHERE rn = 1), " +
        "reb AS (SELECT doc_id, string_agg(span, ' ' ORDER BY span_idx) AS text, count(*) AS n_kept " +
        "FROM kept GROUP BY doc_id) " +
        "SELECT t.doc_id, coalesce(r.text, '') AS text, " +
        "t.n_spans - coalesce(r.n_kept, 0) AS n_spans_dropped " +
        "FROM toks t LEFT JOIN reb r USING (doc_id) ORDER BY doc_id"),


    "dedup_canonical" ->
      ("WITH RECURSIVE q AS (SELECT doc_id, round(" +
        "(CASE WHEN len(string_split(text, ' ')) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.25 END) * 0.3 + " +
        "(CASE WHEN CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) <= 0.2 THEN 1.0 " +
        "ELSE 1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) END) * 0.2 + " +
        "(CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) >= 0.1 THEN 1.0 " +
        "ELSE CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) * 10.0 END) * 0.3 + " +
        "least(CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) * 5.0, 1.0) * 0.2" +
        ", 4) AS quality FROM documents WHERE doc_id < 500), " +
        "sets AS (SELECT doc_id, list_distinct(" +
        "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
        "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM documents WHERE doc_id < 500), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sets a, sets b WHERE a.doc_id < b.doc_id " +
        "AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
        "walk(id, comp) AS (" +
        "SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id), " +
        "comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id), " +
        "ranked AS (SELECT c.id AS doc_id, q.quality, " +
        "count(*) OVER (PARTITION BY c.comp) AS n_dups, " +
        "row_number() OVER (PARTITION BY c.comp ORDER BY q.quality DESC, c.id) AS rn " +
        "FROM comps c JOIN q ON q.doc_id = c.id) " +
        "SELECT doc_id, CAST(n_dups AS BIGINT) AS n_dups, quality FROM ranked WHERE rn = 1 " +
        "UNION ALL SELECT doc_id, CAST(1 AS BIGINT) AS n_dups, quality FROM q " +
        "WHERE doc_id NOT IN (SELECT id FROM comps) ORDER BY doc_id"),


    "dedup_embedding_cosine" ->
      ("WITH aug AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 20) " +
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) / " +
        "(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) * " +
        "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS cosine " +
        "FROM aug a, aug b WHERE a.vec_id < b.vec_id " +
        "AND list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) / " +
        "(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) * " +
        "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.95 " +
        "ORDER BY id_a, id_b"),


    "dedup_substring" ->
      ("WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t FROM documents), " +
        "grams AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 5), " +
        "i -> array_to_string(t[i+1:i+6], ' ')))) AS gram FROM tk WHERE len(t) >= 6), " +
        "keep AS (SELECT gram FROM (SELECT gram, count(*) AS c FROM grams GROUP BY gram) WHERE c BETWEEN 2 AND 100), " +
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM grams a JOIN grams b USING (gram) " +
        "JOIN keep USING (gram) WHERE a.doc_id < b.doc_id) " +
        "SELECT id_a, id_b, count(*) AS n_shared FROM p GROUP BY 1, 2 ORDER BY id_a, id_b"),


    "dedup_containment" ->
      ("WITH aug AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 1000000, array_to_string(string_split(text, ' ')[1:15], ' ') FROM documents WHERE doc_id < 20), " +
        "tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t FROM aug), " +
        "g AS (SELECT doc_id, list_distinct(list_transform(range(len(t) - 5), " +
        "i -> array_to_string(t[i+1:i+6], ' '))) AS gs FROM tk WHERE len(t) >= 6), " +
        "cnt AS (SELECT doc_id, len(gs) AS n_grams FROM g), " +
        "grams AS (SELECT doc_id, unnest(gs) AS gram FROM g), " +
        "keep AS (SELECT gram FROM (SELECT gram, count(*) AS c FROM grams GROUP BY gram) WHERE c BETWEEN 2 AND 100), " +
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared FROM grams a JOIN grams b USING (gram) " +
        "JOIN keep USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, containment FROM (" +
        "SELECT id_a, id_b, round(CAST(n_shared AS DOUBLE) / least(ca.n_grams, cb.n_grams), 4) AS containment " +
        "FROM p JOIN cnt ca ON p.id_a = ca.doc_id JOIN cnt cb ON p.id_b = cb.doc_id) t " +
        "WHERE containment >= 0.8 ORDER BY id_a, id_b"),


    "dedup_substring_corpus" ->
      ("WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t FROM documents), " +
        "grams AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 5), " +
        "i -> array_to_string(t[i+1:i+6], ' ')))) AS gram FROM tk WHERE len(t) >= 6), " +
        "keep AS (SELECT gram FROM (SELECT gram, count(*) AS c FROM grams GROUP BY gram) WHERE c BETWEEN 2 AND 100), " +
        "losers AS (SELECT DISTINCT b.doc_id AS id_b FROM grams a JOIN grams b USING (gram) " +
        "JOIN keep USING (gram) WHERE a.doc_id < b.doc_id) " +
        "SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "WHERE doc_id NOT IN (SELECT id_b FROM losers) ORDER BY doc_id"),


    "dedup_semantic" ->
      ("WITH aug AS (SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id < 20) " +
        "SELECT id_a, id_b, cosine FROM (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) / " +
        "(sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) * " +
        "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS cosine " +
        "FROM aug a, aug b WHERE a.vec_id < b.vec_id) t " +
        "WHERE cosine >= 0.95 ORDER BY id_a, id_b"),


    // fuzzy linkage: identical blocking + banded-distance gate; the SQL
    // recomputes the unbanded distance (equal within the band by
    // definition)
    "link_fuzzy_parts" ->
      ("WITH ok AS (SELECT p_brand, p_partkey, p_name FROM part WHERE p_brand IN " +
        "(SELECT p_brand FROM part GROUP BY 1 HAVING count(*) <= 100000)) " +
        "SELECT a.p_brand AS block, a.p_partkey AS id_a, a.p_name AS name_a, " +
        "b.p_partkey AS id_b, b.p_name AS name_b, " +
        "CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist " +
        "FROM ok a JOIN ok b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey " +
        "WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2 ORDER BY id_a, id_b"),


    "link_oversized_blocks" ->
      ("SELECT p_brand AS block, CAST(count(*) AS BIGINT) AS n_rows FROM part " +
        "GROUP BY 1 HAVING count(*) > 75 ORDER BY block"),


    // auto fuzzy linkage: the oracle recomputes the whole corpus-derived
    // blocking (see fuzzyAutoCtes), then fans matched names out to id
    // pairs with the same id_a < id_b orientation
    "link_fuzzy_parts_auto" ->
      (s"WITH ${fuzzyAutoCtes(1000000000L)} " +
        "SELECT m.block, " +
        "CASE WHEN a.p_partkey < b.p_partkey THEN a.p_partkey ELSE b.p_partkey END AS id_a, " +
        "CASE WHEN a.p_partkey < b.p_partkey THEN a.p_name ELSE b.p_name END AS name_a, " +
        "CASE WHEN a.p_partkey < b.p_partkey THEN b.p_partkey ELSE a.p_partkey END AS id_b, " +
        "CASE WHEN a.p_partkey < b.p_partkey THEN b.p_name ELSE a.p_name END AS name_b, " +
        "m.dist " +
        "FROM mt m JOIN part a ON a.p_brand = m.block AND a.p_name = m.name_x " +
        "JOIN part b ON b.p_brand = m.block AND b.p_name = m.name_y " +
        "ORDER BY id_a, id_b"),


    "link_fuzzy_matches_auto" ->
      (s"WITH ${fuzzyAutoCtes(1000000000L)}, " +
        "mult AS (SELECT p_brand AS block, p_name AS name, count(*) AS m FROM part GROUP BY 1, 2) " +
        "SELECT t.block, t.name_x AS name_a, t.name_y AS name_b, t.dist, " +
        "ma.m AS n_ids_a, mb.m AS n_ids_b, CAST(ma.m * mb.m AS BIGINT) AS n_pairs " +
        "FROM mt t JOIN mult ma ON ma.block = t.block AND ma.name = t.name_x " +
        "JOIN mult mb ON mb.block = t.block AND mb.name = t.name_y " +
        "ORDER BY 1, 2, 3"),


    "link_fuzzy_auto_plan" ->
      (s"WITH ${fuzzyAutoCtes(50000L)}, " +
        "rc AS (SELECT p_brand AS block, count(*) AS n_rows FROM part GROUP BY 1), " +
        "nc AS (SELECT block, count(*) AS n_names FROM nm GROUP BY 1), " +
        "xp AS (SELECT block, max(sn) AS max_sub FROM sp GROUP BY 1), " +
        "xs AS (SELECT block, max(sn) AS max_sub FROM ss GROUP BY 1), " +
        "dp AS (SELECT block, CAST(sum(sn) AS BIGINT) AS d FROM sp, st WHERE sn > st.cap GROUP BY block), " +
        "ds AS (SELECT block, CAST(sum(sn) AS BIGINT) AS d FROM ss, st WHERE sn > st.cap GROUP BY block) " +
        "SELECT rc.block, rc.n_rows, nc.n_names, (SELECT cap FROM st) AS cap, " +
        "COALESCE(lp.lvl, 0) AS lvl_pre, xp.max_sub AS max_sub_pre, CAST(COALESCE(dp.d, 0) AS BIGINT) AS drop_pre, " +
        "COALESCE(ls.lvl, 0) AS lvl_suf, xs.max_sub AS max_sub_suf, CAST(COALESCE(ds.d, 0) AS BIGINT) AS drop_suf " +
        "FROM rc JOIN nc USING (block) JOIN xp USING (block) JOIN xs USING (block) " +
        "LEFT JOIN lp USING (block) LEFT JOIN ls USING (block) " +
        "LEFT JOIN dp USING (block) LEFT JOIN ds USING (block) " +
        "ORDER BY block"),


    "link_fuzzy_auto_loss_audit" ->
      (s"WITH ${fuzzyAutoCtes(50000L)}, " +
        "ok AS (SELECT p_brand, p_partkey, p_name FROM part WHERE p_brand IN " +
        "(SELECT p_brand FROM part GROUP BY 1 HAVING count(*) <= 100000)), " +
        "fp AS (SELECT count(*) AS n_full FROM ok a JOIN ok b ON a.p_brand = b.p_brand " +
        "AND a.p_partkey < b.p_partkey WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2), " +
        "mult AS (SELECT p_brand AS block, p_name AS name, count(*) AS m FROM part GROUP BY 1, 2), " +
        "ap AS (SELECT CAST(COALESCE(sum(ma.m * mb.m), 0) AS BIGINT) AS n_auto " +
        "FROM mt t JOIN mult ma ON ma.block = t.block AND ma.name = t.name_x " +
        "JOIN mult mb ON mb.block = t.block AND mb.name = t.name_y) " +
        "SELECT CAST(n_full AS BIGINT) AS n_full, n_auto, " +
        "CAST(n_full - n_auto AS BIGINT) AS n_lost, " +
        "round((n_full - n_auto) / CAST(n_full AS DOUBLE), 4) AS loss_pct " +
        "FROM fp, ap"),


    "dedup_incremental" ->
      ("WITH batch AS (SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id BETWEEN 100 AND 149), " +
        "bsets AS (SELECT doc_id, list_distinct(" +
        "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
        "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM batch), " +
        "csets AS (SELECT doc_id, list_distinct(" +
        "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
        "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM documents) " +
        "SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, " +
        "round(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(b.s, c.s))) AS DOUBLE), 4) AS jaccard " +
        "FROM bsets b, csets c " +
        "WHERE CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(b.s, c.s))) AS DOUBLE) >= 0.8 " +
        "ORDER BY batch_id, corpus_id"),


    // identical semantics through the persisted index (deterministic
    // hashes — no model drift), so the incremental oracle carries over
    "dedup_minhash_persisted" -> MinhashPersistedBipartiteSql,

    // the cap-8 budgeted LSH serve is lossless at this corpus (the loss
    // audit pins 0) — it must serve the identical pair set
    "dedup_minhash_capped" -> MinhashPersistedBipartiteSql,

    // the posting-budget serve (8 rows/bucket, cap 8) is LOSSLESS at this
    // corpus (max surviving probed bucket is 3) — identical pair set
    "dedup_minhash_probe_budget" -> MinhashPersistedBipartiteSql,


    // erase is exact (content-deterministic signatures, keys-only
    // anti-joins), so the erased-index query replays the SAME brute-force
    // batch × corpus Jaccard with the corpus CTE restricted to retained
    "dedup_minhash_erase" ->
      ("WITH batch AS (SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id BETWEEN 100 AND 149), " +
        "bsets AS (SELECT doc_id, list_distinct(" +
        "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
        "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM batch), " +
        "csets AS (SELECT doc_id, list_distinct(" +
        "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
        "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s " +
        "FROM documents WHERE doc_id % 10 <> 3) " +
        "SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, " +
        "round(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(b.s, c.s))) AS DOUBLE), 4) AS jaccard " +
        "FROM bsets b, csets c " +
        "WHERE CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(b.s, c.s))) AS DOUBLE) >= 0.8 " +
        "ORDER BY batch_id, corpus_id"),


    // every minhash band of the 60 identical clones shares one bucket of
    // exactly 60 ids; real sf0.01 docs form no bucket above 50 (verified
    // with the build) — 8 bands, 8 oversized buckets
    "dedup_oversized_buckets" ->
      ("SELECT CAST(band AS BIGINT) AS band, CAST(n_ids AS BIGINT) AS n_ids FROM (VALUES " +
        (0 until 8).map(b => s"($b, 60)").mkString(", ") +
        ") t(band, n_ids) ORDER BY band"),


    // the 60 identical clones land (with 23 natural neighbors at sf0.01)
    // in one k-means cluster — pinned from a verified run (k-means is
    // deterministic: id-ordered seeds, no RNG); valid at sf0.01 like the
    // PinnedOracles values
    "dedup_oversized_clusters" ->
      ("SELECT CAST(cluster AS BIGINT) AS cluster, CAST(n_rows AS BIGINT) AS n_rows " +
        "FROM (VALUES (0, 83)) t(cluster, n_rows) ORDER BY cluster"),


    // from-scratch recomputation over the FULL pair set (old∪new, no
    // batch-internal pairs — the incrementalPairs contract): equality
    // with the label-carried incremental path is the maintenance proof;
    // the persisted serving leg reads identical labels off parquet, so
    // it shares the oracle verbatim
    "dedup_components_persisted" -> ComponentsFromScratchSql,
    "dedup_components_incremental" -> ComponentsFromScratchSql,
  )

  // the WITH RECURSIVE from-scratch CC replay both components queries
  // share (lazy: it is referenced by the `oracles` map initializer above)
  private lazy val ComponentsFromScratchSql: String =
      ("WITH RECURSIVE sets AS (SELECT doc_id, list_distinct(" +
        "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
        "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM documents WHERE doc_id < 500), " +
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sets a, sets b WHERE a.doc_id < b.doc_id " +
        "AND NOT (a.doc_id >= 400 AND b.doc_id >= 400) " +
        "AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs), " +
        "walk(id, comp) AS (" +
        "SELECT DISTINCT src, src FROM edges " +
        "UNION SELECT e.dst, w.comp FROM walk w JOIN edges e ON e.src = w.id) " +
        "SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS comp FROM walk GROUP BY id ORDER BY doc_id")
}
