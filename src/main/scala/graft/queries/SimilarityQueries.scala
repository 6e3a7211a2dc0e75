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

/** embedding similarity: brute/int8/LSH/IVF/PQ ANN serving paths,
  * persisted indexes, PCA/standardize legs, bitext mining, hybrid retrieval.
  *
  * One registry slice of [[graft.SparkEntry]] (split r14 — the single
  * 6.6k-line file was the bottleneck): `queries` feeds the driver's
  * Verify/Bench maps, `oracles` the DuckDB compare. Keys and bodies are
  * unchanged from the pre-split registry.
  */
object SimilarityQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Euclidean Lloyd k-means over the embedding corpus (north-star:
    // topic bucketing / cluster-balanced sampling). Deterministic seed
    // (first k by vec_id), 4 mean updates, final assignment; assignment
    // is zero-shuffle (centroid literals in codegen'd HOF distances), the
    // update is one dim-sized-buffer key shuffle per round. Every step is
    // plain relational algebra, so the DuckDB oracle replays the whole
    // fixpoint exactly.
    "embedding_kmeans" -> ((s, dir) =>
      graft.ops.Clustering.lloyd(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 8, iters = 4)
        .groupBy(col("cluster").cast("bigint").as("cluster"))
        .agg(count(lit(1)).as("n_members"), round(sum("d2"), 3).as("inertia"))
        .orderBy("cluster")),


    // Centroid-distance outlier pruning (the SemDeDup/DataComp-style
    // noise filter): same kmeans fixpoint, then each cluster prunes its
    // rows beyond the cluster's own p90 distance (one broadcast
    // cluster-count-sized percentile aggregate — no global threshold
    // under-pruning tight clusters). Assignment materialized once (slim
    // id+cluster+distance rows) for its two consumers. Full DuckDB
    // oracle shares the kmeans replay CTEs; 4-dp rounding on both sides
    // keeps the flag FP-robust.
    "embedding_prune_outliers" -> ((s, dir) => {
      val assigned = graft.ops.Clustering.lloyd(
          Tables.embeddings(s, dir), "vec_id", "embedding", k = 8, iters = 4)
        .select(col("vec_id"), col("cluster"), round(col("d2"), 4).as("d2r"))
        .localCheckpoint() // feeds the cuts aggregate AND the prune join
      val cuts = assigned.groupBy("cluster")
        .agg(round(percentile(col("d2r"), lit(0.9)), 4).as("__cut"))
      assigned.join(broadcast(cuts), Seq("cluster"))
        .select(col("vec_id"), col("cluster"), col("d2r"),
          (col("d2r") > col("__cut")).as("pruned"))
        .orderBy("vec_id")
    }),


    // Margin-based bitext mining (Artetxe & Schwenk 2019): each English
    // doc's best Spanish match by ratio margin over the doc↔embedding
    // join. Exhaustive variant (target slice broadcasts) — the recall
    // anchor for the declared scale path, bitext_mine_ann below.
    "bitext_mine" -> ((s, dir) => {
      val de = Tables.documents(s, dir)
        .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
        .select(col("doc_id").as("id"), col("lang"), col("embedding"))
      graft.ops.Bitext.minePairs(de, "id", "lang", "embedding", "en", "es",
          k = 4, marginThreshold = 1.0)
        .orderBy("src_id")
    }),


    // Corpus-scale bitext mining: the SAME margin scorer fed by banded-LSH
    // candidates instead of the |A|×|B| cross join — the declared scale
    // path, PURE ANN (the knn_lsh_ann pattern): no exhaustive side
    // anywhere in the plan, so nothing here degrades to all-pairs at
    // 100×. Recall evidence lives in the separate bounded
    // `bitext_recall_audit` below (the knn_recall_audit pattern).
    // Deterministic (hash-based LSH planes, 4-dp rounding, id tiebreaks)
    // → pinned VALUES oracle.
    "bitext_mine_ann" -> ((s, dir) => {
      val de = Tables.documents(s, dir)
        .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
        .select(col("doc_id").as("id"), col("lang"), col("embedding"))
      graft.ops.Bitext.minePairsAnn(de, "id", "lang", "embedding",
          "en", "es", k = 4, marginThreshold = 1.0, lshPlanes = 2, lshBands = 16)
        .orderBy("src_id")
    }),


    // Bounded ANN-vs-exhaustive agreement audit for the bitext miner
    // (knn_recall_audit pattern): the exhaustive |A|×|B| side is confined
    // to a HARD-CAPPED source sample (en ids < 300 — a fixed absolute
    // bound, not a fraction, so the audit cost is constant at any corpus
    // scale); the target side stays full. Both miners run on the identical
    // sampled frame, so disagreement isolates the LSH candidate recall,
    // not sampling skew. One summary row: sampled sources, agreeing best
    // targets, agreement rate.
    "bitext_recall_audit" -> ((s, dir) => {
      val de = Tables.documents(s, dir)
        .join(Tables.embeddings(s, dir), col("doc_id") === col("vec_id"))
        .select(col("doc_id").as("id"), col("lang"), col("embedding"))
        .filter(col("lang") =!= "en" || col("id") < 300)
        .localCheckpoint() // feeds both miners — don't re-run the join twice
      val exact = graft.ops.Bitext.minePairs(de, "id", "lang", "embedding",
          "en", "es", k = 4, marginThreshold = 1.0)
        .select(col("src_id"), col("tgt_id").as("exact_tgt_id"))
      val ann = graft.ops.Bitext.minePairsAnn(de, "id", "lang", "embedding",
          "en", "es", k = 4, marginThreshold = 1.0, lshPlanes = 2, lshBands = 16)
        .select(col("src_id"), col("tgt_id").as("ann_tgt_id"))
      ann.join(exact, Seq("src_id"), "full_outer")
        .agg(
          count(lit(1)).as("n_src"),
          sum(when(col("ann_tgt_id") <=> col("exact_tgt_id"), 1L).otherwise(0L))
            .as("n_agree"))
        .withColumn("agreement", round(col("n_agree") / col("n_src"), 4))
    }),


    // typed Aggregator: per-label embedding centroid (first 4 dims shown)
    "embedding_centroids" -> ((s, dir) => {
      import s.implicits._
      val ds = Tables.embeddings(s, dir)
        .select(col("label"), col("embedding")).as[(Int, Array[Float])]
      graft.ops.Vectors.centroids(ds, 64).toDF("label", "centroid")
        .select(col("label"),
          // + 0.0 collapses IEEE -0.0 (see embedding_dim_stats)
          (round(element_at(col("centroid"), 1), 4) + lit(0.0)).as("c1"),
          (round(element_at(col("centroid"), 2), 4) + lit(0.0)).as("c2"),
          (round(element_at(col("centroid"), 3), 4) + lit(0.0)).as("c3"),
          (round(element_at(col("centroid"), 4), 4) + lit(0.0)).as("c4"))
        .orderBy("label")
    }),


    // per-dimension z-scoring of the embedding column (the whitening
    // pre-pass): dim stats reduce to ONE broadcast row of (mu[], sd[])
    // arrays — no collect, no per-row join — and standardization is a
    // map-side indexed transform over each vector
    // PCA projection: one moment-aggregation pass (d·(d+3)/2-double
    // buffer, map-side combined), driver Jacobi eigensolve of the 64×64
    // covariance, then k native codegen'd dot products per row — the
    // corpus never shuffles. Deterministic via sign-fixed eigenvectors;
    // pinned VALUES oracle (eigensolve is Spark/JVM-side; brute-force
    // eigenpair residual + projection parity asserted in PcaSpec)
    "embedding_pca" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val m = Pca.fit(emb, "embedding", dim = 64, k = 4)
      Pca.project(emb, "embedding", m)
        .select(col("vec_id") +:
          (1 to 4).map(i => round(col(s"pc$i"), 4).as(s"pc$i")): _*)
        .orderBy("vec_id")
    }),


    "embedding_standardize" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val stats = emb.select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("dim").agg(
          avg(col("x").cast("double")).as("mu"),
          stddev_samp(col("x").cast("double")).as("sd"))
      val statsRow = stats.agg(
        transform(array_sort(collect_list(struct(col("dim"), col("mu")))),
          s => s.getField("mu")).as("mus"),
        transform(array_sort(collect_list(struct(col("dim"), col("sd")))),
          s => s.getField("sd")).as("sds"))
      emb.crossJoin(broadcast(statsRow))
        .withColumn("z", transform(col("embedding"), (x, i) =>
          (x.cast("double") - element_at(col("mus"), i + 1)) /
            element_at(col("sds"), i + 1)))
        .select(
          col("vec_id"),
          (round(aggregate(col("z"), lit(0.0d), (a, x) => a + x), 4) + lit(0.0)).as("z_sum"),
          (round(element_at(col("z"), 1), 4) + lit(0.0)).as("z1"))
        .orderBy("vec_id")
    }),


    // Confidence-calibration audit of the language gate (reliability
    // diagram + ECE, Naeini et al. 2015): does "0.8 confident" MEAN 80%
    // right against the recorded lang column? Five equal-width bins, the
    // N-weighted mean |acc − conf| as the promotion-gate scalar. One
    // bin-keyed aggregate over the corpus, nBins-row roll-up, broadcast
    // ECE scalar. Full DuckDB oracle (the langIdHof hit counts).
    "score_calibration" -> ((s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("lang"), TextAnalysis.langIdScored(col("text")).as("s"))
        .select(col("s.confidence").as("confidence"),
          (col("s.lang_pred") === col("lang")).cast("double").as("correct"))
        .filter(col("confidence") > 0)
      graft.ops.Calibration.reliability(scored, "confidence", "correct", nBins = 5)
        .orderBy("bin")
    }),


    // ---- North star: similarity search ----
    "knn_bruteforce" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 100), emb,
        "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("q_id", "rank")
    }),


    // RAG-style retrieval: embedding top-k joined back to document
    // metadata — the serving join is candidate-bounded (k × |Q| rows
    // broadcast against the documents table), never a corpus shuffle
    "doc_retrieval" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val docs = Tables.documents(s, dir)
      val nn = Similarity.bruteForceTopK(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", k = 3)
      docs.select(col("doc_id"), col("lang"), col("source"))
        .join(broadcast(nn.withColumnRenamed("n_id", "doc_id")), Seq("doc_id"))
        .select(col("q_id"), col("rank").cast("bigint").as("rank"),
          col("doc_id"), col("sim"), col("lang"), col("source"))
        .orderBy("q_id", "rank")
    }),


    // Hybrid retrieval: BM25 keyword leg + embedding-cosine leg fused by
    // reciprocal-rank fusion (RRF, Cormack et al. 2009 — the standard
    // hybrid-RAG combiner; rank-based, so the legs' incomparable score
    // scales need no calibration). Both legs are top-10-bounded per
    // query BEFORE fusion, so the fuse touches ≤ 20 candidate rows per
    // query, never a corpus. n_legs carries the agreement signal. Full
    // DuckDB oracle replaying both legs and the fusion.
    "doc_retrieval_hybrid" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "hash"), (1L, "join"), (1L, "dup"),
        (2L, "window"), (2L, "sort"), (2L, "merge")).toDF("q_id", "term")
      val bm25 = TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
          qs, "q_id", "term", k = 10)
        .select(col("q_id"), col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val vec = Similarity.bruteForceTopK(emb.filter(col("vec_id").isin(1L, 2L)), emb,
          "vec_id", "embedding", k = 10)
        .select(col("q_id"), col("n_id").as("doc_id"), col("rank"))
      graft.ops.Retrieval.rrfFuse(Seq(bm25, vec), "q_id", "doc_id", k = 10)
        .orderBy("q_id", "rank")
    }),


    // MMR-diversified retrieval (Carbonell & Goldstein 1998): the
    // embedding top-10 per query re-ranked by maximal marginal relevance
    // (λ=0.7, keep 5) — each pick maximizes query relevance minus
    // redundancy with what's already selected, the diversification step
    // after doc_retrieval/doc_retrieval_hybrid. The greedy runs in a
    // native expression over the ALREADY-BOUNDED candidate array —
    // zero shuffle past the candidate groupBy. Deterministic (rounded
    // scores, lower-id ties, input-order-invariant) → pinned VALUES
    // oracle; driver-side recomputation in MmrSpec.
    "doc_retrieval_mmr" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val nn = Similarity.bruteForceTopK(emb.filter(col("vec_id").isin(1L, 2L)), emb,
        "vec_id", "embedding", k = 10)
      nn.join(emb.select(col("vec_id").as("n_id"), col("embedding").as("vec")), Seq("n_id"))
        .groupBy("q_id")
        .agg(collect_list(struct(col("n_id").cast("bigint").as("id"),
          col("sim").cast("double").as("sim"), col("vec"))).as("cands"))
        .select(col("q_id"),
          posexplode(graft.functions.MmrFunctions.mmr_select(col("cands"), 0.7, 5)))
        .select(col("q_id"), (col("pos") + 1).cast("bigint").as("mmr_rank"),
          col("col.id").as("doc_id"), col("col.mmr").as("mmr"))
        .orderBy("q_id", "mmr_rank")
    }),


    // Persisted-index hybrid serving (the 100 TB deployment shape): the
    // SAME fused ranking as doc_retrieval_hybrid, but both legs served
    // from the artifacts the engine already persists — BM25 postings
    // (term-range-partitioned, query-term literal pushdown) and the
    // IVF-PQ sidecar (ADC probe over the inverted lists + bounded exact
    // rerank) — corpus text is never re-scanned and no leg is a brute
    // cross join. All lists probed with a 16k-candidate exact rerank so
    // the served cosine top-10 is exactly the brute ranking at the
    // correctness scale (approximation risk carried by knn_recall_audit);
    // shares doc_retrieval_hybrid's full DuckDB oracle — identical
    // results from the indexes alone.
    "doc_retrieval_hybrid_indexed" -> ((s, dir) => {
      import s.implicits._
      val bm25Dir = IndexFixture.dir("bm25_2", dir) { tmp =>
        graft.ops.Bm25Index.write(
          graft.ops.Bm25Index.build(Tables.documents(s, dir), "doc_id", "text"), tmp)
      }
      val qs = Seq((1L, "hash"), (1L, "join"), (1L, "dup"),
        (2L, "window"), (2L, "sort"), (2L, "merge")).toDF("q_id", "term")
      val bm25 = graft.ops.Bm25Index.topK(
          graft.ops.Bm25Index.read(s, bm25Dir), qs, "q_id", "term", k = 10)
        .select(col("q_id"), col("id").as("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val ivfDir = IndexFixture.dir("ivfpq2", dir) { tmp =>
        graft.ops.IvfPqIndex.write(
          graft.ops.IvfPqIndex.build(emb, "vec_id", "embedding",
            nlist = 16, numSubspaces = 8, numCodes = 16), tmp)
      }
      val vec = graft.ops.IvfPqIndex.topK(
          graft.ops.IvfPqIndex.read(s, ivfDir),
          emb.filter(col("vec_id").isin(1L, 2L)), emb,
          "vec_id", "embedding", k = 10, nprobe = 16, fetchFactor = 16)
        .select(col("q_id"), col("n_id").as("doc_id"), col("rank"))
      graft.ops.Retrieval.rrfFuse(Seq(bm25, vec), "q_id", "doc_id", k = 10)
        .orderBy("q_id", "rank")
    }),


    // Offline retrieval evaluation (TREC practice: recall@k, MRR, nDCG —
    // Järvelin & Kekäläinen 2002): the hybrid fused run scored against
    // deterministic graded qrels (a doc's grade = how many of the
    // query's terms it contains, 1..3) — the promotion gate for a new
    // index or fusion config. Run and qrels are both query-key-bounded
    // lists; every join is k-rows × judgments. Full DuckDB oracle.
    "retrieval_eval" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "hash"), (1L, "join"), (1L, "dup"),
        (2L, "window"), (2L, "sort"), (2L, "merge")).toDF("q_id", "term")
      val docs = Tables.documents(s, dir)
      val bm25 = TextAnalysis.bm25TopK(docs, "doc_id", "text",
          qs, "q_id", "term", k = 10)
        .select(col("q_id"), col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val vec = Similarity.bruteForceTopK(emb.filter(col("vec_id").isin(1L, 2L)), emb,
          "vec_id", "embedding", k = 10)
        .select(col("q_id"), col("n_id").as("doc_id"), col("rank"))
      val run = graft.ops.Retrieval.rrfFuse(Seq(bm25, vec), "q_id", "doc_id", k = 10)
      val qrels = docs
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
        .join(broadcast(qs), Seq("term"))
        .groupBy("q_id", "doc_id")
        .agg(count(lit(1)).as("grade"))
      graft.ops.RetrievalEval.evaluate(run, qrels, "q_id", "doc_id", "grade", k = 10)
        .orderBy("q_id")
    }),


    // k-NN majority-vote label prediction (weak supervision / topic
    // tagging): exact top-5 neighbors, modal label, smaller label wins
    // ties — deterministic, hence oracle-backed
    "knn_label_vote" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.labelVote(emb.filter(col("vec_id") < 100), emb,
        "vec_id", "embedding", "label", k = 5)
        .orderBy("q_id")
    }),


    // exact top-k over the int8-quantized corpus (4× smaller scan; cosine
    // on quantized vectors — deterministic, hence oracle-backed, unlike
    // the approximate LSH/IVF paths)
    "knn_int8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.int8TopK(emb.filter(col("vec_id") < 100), emb,
        "vec_id", "embedding", k = 5)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("q_id", "rank")
    }),


    // IVF approximate ANN — no oracle (approximate by design): rows-only
    "knn_ivf_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 100), emb,
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4, lloydIters = 1)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("q_id", "rank")
    }),


    // approximate ANN — no oracle (approximate by design): recall vs
    // brute-force asserted at these parameters in SimilaritySpec
    "knn_lsh_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb.filter(col("vec_id") < 100), emb,
        "vec_id", "embedding", k = 5, numPlanes = 4, numBands = 8)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("q_id", "rank")
    }),


    // PQ + ADC + exact rerank: corpus scanned as 8 ints/vector (32x less
    // I/O than float32); approximate -> recall vs brute force asserted in
    // SimilaritySpec at these parameters (no SQL oracle by design)
    "knn_pq_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb.filter(col("vec_id") < 100), emb,
        "vec_id", "embedding", k = 5, numSubspaces = 8, numCodes = 16)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("q_id", "rank")
    }),


    // IVF-PQ composition — the 100 TB serving shape: cluster pruning bounds
    // WHICH rows are scored, residual-PQ ADC bounds WHAT each row costs.
    // Approximate -> no SQL oracle; recall (and residual > raw-code
    // improvement) asserted at these parameters in SimilaritySpec
    "knn_ivfpq_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 100), emb,
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 8,
        numSubspaces = 8, numCodes = 16)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("q_id", "rank")
    }),


    // Index MAINTENANCE serve (the daily-crawl shape IvfPqIndex.append
    // exists for): train IVF+PQ on the 90% base corpus only, append the
    // 10% batch through the FROZEN model (one map-side encode pass, no
    // retraining), then serve from the merged lists — the incremental
    // counterpart of graph_pagerank_incremental for the ANN family.
    // Deterministic (same training, hash-free append) → pinned VALUES
    // oracle; appended-vector retrievability is the planted-clone test
    // in IvfPqIndexSpec.
    "knn_index_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(col("vec_id") % 10 =!= 0)
      val batch = emb.filter(col("vec_id") % 10 === 0)
      val appended = graft.ops.IvfPqIndex.append(
        graft.ops.IvfPqIndex.build(base, "vec_id", "embedding",
          nlist = 16, numSubspaces = 8, numCodes = 16),
        batch, "vec_id", "embedding")
      graft.ops.IvfPqIndex.topK(appended, emb.filter(col("vec_id") < 20), emb,
          "vec_id", "embedding", k = 3, nprobe = 8)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("q_id", "rank")
    }),


    // Per-dimension corpus statistics (mean/std per embedding dimension —
    // the normalization/whitening pre-pass of an embedding pipeline): one
    // posexplode + one 64-key aggregation, map-side partial.
    "embedding_dim_stats" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("dim")
        .agg(
          // + 0.0 collapses IEEE negative zero: round can yield -0.0, whose
          // bit pattern hash-mismatches the oracle's +0.0 for equal values.
          (round(avg(col("x").cast("double")), 4) + lit(0.0)).as("mean_x"),
          (round(stddev_samp(col("x").cast("double")), 4) + lit(0.0)).as("sd_x"))
        .withColumn("dim", col("dim").cast("bigint"))
        .orderBy("dim")),


    // Symmetric int8 quantization of the embedding column (ANN memory
    // compression; exact-reproducible double arithmetic — see
    // Vectors.quantizeInt8). Shuffle-free.
    "embedding_quantize" -> ((s, dir) =>
      graft.ops.Vectors.quantizeInt8(Tables.embeddings(s, dir), "embedding")
        .select(
          col("vec_id"),
          round(col("q_scale"), 4).as("q_scale_r"),
          aggregate(col("q_vec"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(col("q_vec")).as("q_min"),
          array_max(col("q_vec")).as("q_max"))
        .orderBy("vec_id")),


    // Persisted IVF-PQ serving: build + write once (cluster-partitioned
    // lists + model sidecar), then read → ADC probe → exact rerank — the
    // 100 TB ANN deployment shape. Approximate by design → rows-only
    // (recall + write/read equality asserted in IvfPqIndexSpec).
    "knn_ivfpq_persisted" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxDir = IndexFixture.dir("ivfpq2", dir) { tmp =>
        graft.ops.IvfPqIndex.write(
          graft.ops.IvfPqIndex.build(emb, "vec_id", "embedding",
            nlist = 16, numSubspaces = 8, numCodes = 16), tmp)
      }
      graft.ops.IvfPqIndex.topK(
          graft.ops.IvfPqIndex.read(s, idxDir),
          emb.filter(col("vec_id") < 100), emb,
          "vec_id", "embedding", k = 5, nprobe = 8)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("q_id", "rank")
    }),


    // ANN index ERASURE serve (IvfPqIndex.erase — the delete half of the
    // maintenance pair beside knn_index_append): every 10th vector is
    // forgotten in the PERSISTED index (one keys-only list anti-join,
    // model frozen — no retrain, no rebuild; candidates come only from
    // the lists so erased ids can never resurface, and the exact rerank
    // reads the retained corpus). Deterministic serve → pinned VALUES
    // oracle; the planted-clone erasure proof lives in IvfPqIndexSpec.
    "knn_ivfpq_erase" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxDir = IndexFixture.dir("ivfpq2", dir) { tmp =>
        graft.ops.IvfPqIndex.write(
          graft.ops.IvfPqIndex.build(emb, "vec_id", "embedding",
            nlist = 16, numSubspaces = 8, numCodes = 16), tmp)
      }
      graft.ops.IvfPqIndex.topK(
          graft.ops.IvfPqIndex.erase(
            graft.ops.IvfPqIndex.read(s, idxDir),
            emb.filter(col("vec_id") % 10 === 3).select(col("vec_id"))),
          emb.filter(col("vec_id") < 100),
          emb.filter(col("vec_id") % 10 =!= 3),
          "vec_id", "embedding", k = 5, nprobe = 8)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("q_id", "rank")
    }),


    // Measured ANN recall as a DECLARED query — the driver record itself
    // carries the recall evidence for the four no_oracle ANN paths (same
    // parameters as their declared queries), not just a spec assertion.
    // recall@5 = |ANN∩exact| / |exact| over all 100 queries. Exact top-5
    // is localCheckpoint'ed (500 small rows) so brute force runs ONCE for
    // the four comparisons. Every path is deterministic (id-ordered
    // k-means/PQ seeds, hash-based LSH planes, no RNG) → pinned VALUES
    // oracle, valid at sf0.01 like PinnedOracles.
    "knn_recall_audit" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 100)
      val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
        .select(col("q_id"), col("n_id")).localCheckpoint()
      val denom = exact.agg(count(lit(1)).cast("double").as("__n"))
      def recallOf(algo: String, ann: org.apache.spark.sql.DataFrame) =
        ann.select(col("q_id"), col("n_id"))
          .join(exact, Seq("q_id", "n_id"), "left_semi")
          .agg(count(lit(1)).cast("double").as("__hits"))
          .crossJoin(denom)
          .select(lit(algo).as("algo"), round(col("__hits") / col("__n"), 4).as("recall_at_5"))
      // the four ANN paths are independent pipelines whose model TRAINING
      // runs driver-blocking collect rounds (Lloyd passes); building them
      // serially left the executors idle between rounds — overlap them
      // from a small thread pool (guide §2.6: concurrent independent
      // jobs back-fill each other's stragglers). Each leg's result and
      // the final union are unchanged — the legs never share state
      // beyond the already-checkpointed exact ground truth.
      val legs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
        ("ivf", () => Similarity.ivfTopK(q, emb, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 4, lloydIters = 1)),
        ("ivfpq", () => Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 8, numSubspaces = 8, numCodes = 16)),
        ("lsh", () => Similarity.lshTopK(q, emb, "vec_id", "embedding",
          k = 5, numPlanes = 4, numBands = 8)),
        ("pq", () => Similarity.pqTopK(q, emb, "vec_id", "embedding",
          k = 5, numSubspaces = 8, numCodes = 16)))
      graft.ops.Concurrent
        .awaitAll(legs.map { case (n, mk) => () => recallOf(n, mk()) })
        .reduce(_ unionByName _).orderBy("algo")
    }),
  )

  val oracles: Map[String, String] = Map(

    // Lloyd k-means: seed from the first 8 vec_ids, 4 assign+update
    // rounds and a final assignment, all replayed in long (vec_id, dim,
    // val) form — argmin ties break to the lowest cluster id on both
    // sides, empty clusters keep their previous centroid on both sides.
    "embedding_kmeans" ->
      (KmeansReplayCtes +
        " SELECT CAST(cl AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS n_members, " +
        "round(sum(d2), 3) AS inertia FROM a5 GROUP BY cl ORDER BY cluster"),


    // the kmeans fixpoint replay extended with per-cluster p90 cuts —
    // quantiles and comparisons both run on 4-dp-rounded distances so
    // the prune flag is FP-robust cross-engine
    "embedding_prune_outliers" ->
      (KmeansReplayCtes +
        ", d AS (SELECT vec_id, CAST(cl AS INT) AS cluster, round(d2, 4) AS d2r FROM a5)" +
        ", cuts AS (SELECT cluster, round(quantile_cont(d2r, 0.9), 4) AS cut " +
        "FROM d GROUP BY cluster) " +
        "SELECT vec_id, cluster, d2r, (d2r > cut) AS pruned " +
        "FROM d JOIN cuts USING (cluster) ORDER BY vec_id"),


    "bitext_mine" ->
      ("WITH de AS (SELECT d.doc_id AS id, d.lang, CAST(e.embedding AS DOUBLE[]) AS v " +
        "FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id), " +
        "aa AS (SELECT id, v FROM de WHERE lang = 'en'), " +
        "bb AS (SELECT id, v FROM de WHERE lang = 'es'), " +
        "p AS (SELECT aa.id AS src_id, bb.id AS tgt_id, " +
        "round(list_dot_product(aa.v, bb.v) / (sqrt(list_dot_product(aa.v, aa.v)) * " +
        "sqrt(list_dot_product(bb.v, bb.v))), 4) AS sim FROM aa, bb), " +
        "ra AS (SELECT src_id, avg(sim) AS m_a FROM (SELECT src_id, sim, " +
        "row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, tgt_id) AS rn FROM p) t " +
        "WHERE rn <= 4 GROUP BY src_id), " +
        "rb AS (SELECT tgt_id, avg(sim) AS m_b FROM (SELECT tgt_id, sim, " +
        "row_number() OVER (PARTITION BY tgt_id ORDER BY sim DESC, src_id) AS rn FROM p) t " +
        "WHERE rn <= 4 GROUP BY tgt_id), " +
        "m AS (SELECT p.src_id, p.tgt_id, p.sim, " +
        "round(p.sim / ((ra.m_a + rb.m_b) / 2), 4) AS margin " +
        "FROM p JOIN ra ON ra.src_id = p.src_id JOIN rb ON rb.tgt_id = p.tgt_id), " +
        "best AS (SELECT src_id, tgt_id, sim, margin FROM (SELECT m.*, " +
        "row_number() OVER (PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rn FROM m) t " +
        "WHERE rn = 1) " +
        "SELECT src_id, tgt_id, sim, margin FROM best WHERE margin > 1.0 ORDER BY src_id"),


    "embedding_standardize" ->
      ("WITH e AS (SELECT vec_id, CAST(r.i AS BIGINT) AS dim, " +
        "CAST(embedding[CAST(r.i + 1 AS INT)] AS DOUBLE) AS x FROM embeddings, range(64) r(i)), " +
        "s AS (SELECT dim, avg(x) AS mu, stddev_samp(x) AS sd FROM e GROUP BY dim) " +
        "SELECT vec_id, round(sum((x - mu) / sd), 4) + 0.0 AS z_sum, " +
        "round(max(CASE WHEN dim = 0 THEN (x - mu) / sd END), 4) + 0.0 AS z1 " +
        "FROM e JOIN s USING (dim) GROUP BY vec_id ORDER BY vec_id"),


    "embedding_centroids" ->
      ("SELECT label, round(avg(embedding[1]), 4) + 0.0 AS c1, round(avg(embedding[2]), 4) + 0.0 AS c2, " +
        "round(avg(embedding[3]), 4) + 0.0 AS c3, round(avg(embedding[4]), 4) + 0.0 AS c4 " +
        "FROM embeddings GROUP BY label ORDER BY label"),


    // lang_id's hit counts → winning-share confidence (4 dp), correctness
    // vs the recorded lang, 5 equal-width bins, per-bin conf/acc/gap and
    // the N-weighted ECE scalar on every row
    "score_calibration" ->
      ("WITH scores AS (SELECT doc_id, lang, " +
        "len(list_filter(string_split(text, ' '), t -> list_contains(['der','die','das','und','ist','in','den','von','zu','mit'], t))) AS s_de, " +
        "len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS s_en, " +
        "len(list_filter(string_split(text, ' '), t -> list_contains(['el','la','de','que','y','en','un','los','se','no'], t))) AS s_es, " +
        "len(list_filter(string_split(text, ' '), t -> list_contains(['le','la','de','et','un','les','des','en','du','que'], t))) AS s_fr " +
        "FROM documents), " +
        "p AS (SELECT lang, greatest(s_de, s_en, s_es, s_fr) AS best, " +
        "s_de + s_en + s_es + s_fr AS tot, " +
        "CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und' " +
        "WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de' " +
        "WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en' " +
        "WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es' " +
        "ELSE 'fr' END AS pred FROM scores), " +
        "f AS (SELECT round(CAST(best AS DOUBLE) / tot, 4) AS conf, " +
        "CASE WHEN pred = lang THEN 1.0 ELSE 0.0 END AS y FROM p WHERE tot > 0), " +
        "g AS (SELECT greatest(least(CAST(floor(conf * 5) AS BIGINT), 4), 0) + 1 AS bin, " +
        "conf, y FROM f), " +
        "b AS (SELECT bin, count(*) AS n, avg(conf) AS cr, avg(y) AS ar FROM g GROUP BY bin) " +
        "SELECT bin, n, round(cr, 4) AS conf, round(ar, 4) AS acc, " +
        "round(abs(ar - cr), 4) AS gap, " +
        "(SELECT round(sum(n * abs(ar - cr)) / sum(n), 4) FROM b) AS ece " +
        "FROM b ORDER BY bin"),


    "knn_bruteforce" ->
      ("SELECT q_id, n_id, sim, rank FROM (" +
        "SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rank FROM (" +
        "SELECT q.vec_id AS q_id, n.vec_id AS n_id, " +
        "round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) / " +
        "(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) * " +
        "sqrt(list_dot_product(CAST(n.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])))), 4) AS sim " +
        "FROM embeddings q, embeddings n WHERE q.vec_id < 100 AND q.vec_id <> n.vec_id) p) t " +
        "WHERE rank <= 5 ORDER BY q_id, rank"),


    "doc_retrieval" ->
      ("WITH nn AS (SELECT q_id, n_id, sim, rank FROM (" +
        "SELECT q_id, n_id, sim, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank FROM (" +
        "SELECT q.vec_id AS q_id, n.vec_id AS n_id, " +
        "round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) / " +
        "(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) * " +
        "sqrt(list_dot_product(CAST(n.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])))), 4) AS sim " +
        "FROM embeddings q, embeddings n WHERE q.vec_id < 10 AND q.vec_id <> n.vec_id) p) t WHERE rank <= 3) " +
        "SELECT q_id, CAST(rank AS BIGINT) AS rank, n_id AS doc_id, sim, d.lang, d.source " +
        "FROM nn JOIN documents d ON nn.n_id = d.doc_id ORDER BY q_id, rank"),


    // hybrid RRF: both legs replayed to their top-10 ranks (the BM25 CTEs
    // are Bm25OracleSql's; the cosine leg is knn_bruteforce's restricted
    // to queries 1 and 2), fused by 1/(60+rank) and re-ranked. The
    // index-served variant shares it verbatim: persisted-artifact serving
    // must reproduce the brute hybrid ranking exactly.
    "doc_retrieval_hybrid" -> HybridRrfOracleSql,

    "doc_retrieval_hybrid_indexed" -> HybridRrfOracleSql,


    // the hybrid replay (CTEs shared with HybridRrfOracleSql) feeding the
    // TREC metric algebra: term-coverage graded qrels, recall@10, MRR,
    // and nDCG@10 with IDCG over each query's 10 best grades
    "retrieval_eval" ->
      (HybridRrfOracleSql.stripSuffix(
          "SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf, n_legs " +
          "FROM rr WHERE rank <= 10 ORDER BY q_id, rank") +
        ", run AS (SELECT q_id, doc_id, rank FROM rr WHERE rank <= 10), " +
        "dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "qr AS (SELECT q.q_id, dt.doc_id, CAST(count(*) AS DOUBLE) AS g " +
        "FROM dt JOIN q USING (term) GROUP BY 1, 2), " +
        "nrel AS (SELECT q_id, count(*) AS n_rel FROM qr GROUP BY 1), " +
        "ideal AS (SELECT q_id, sum((pow(2, g) - 1) / log2(rn + 1)) AS idcg FROM " +
        "(SELECT q_id, g, row_number() OVER (PARTITION BY q_id ORDER BY g DESC) AS rn FROM qr) z " +
        "WHERE rn <= 10 GROUP BY 1), " +
        "mx AS (SELECT r.q_id, " +
        "CAST(sum(CASE WHEN qr.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit, " +
        "min(CASE WHEN qr.g IS NOT NULL THEN r.rank END) AS first_rel, " +
        "sum(CASE WHEN qr.g IS NOT NULL THEN (pow(2, qr.g) - 1) / log2(r.rank + 1) ELSE 0 END) AS dcg " +
        "FROM run r LEFT JOIN qr ON r.q_id = qr.q_id AND r.doc_id = qr.doc_id GROUP BY 1) " +
        "SELECT n.q_id, CAST(n.n_rel AS BIGINT) AS n_rel, coalesce(s.n_hit, 0) AS n_hit, " +
        "round(coalesce(s.n_hit, 0) / CAST(n.n_rel AS DOUBLE), 4) AS recall_at_10, " +
        "round(coalesce(1.0 / s.first_rel, 0), 4) AS mrr, " +
        "round(coalesce(s.dcg, 0) / i.idcg, 4) AS ndcg_at_10 " +
        "FROM nrel n JOIN ideal i USING (q_id) LEFT JOIN mx s USING (q_id) ORDER BY n.q_id"),


    "knn_label_vote" ->
      ("WITH nn AS (SELECT q_id, n_id FROM (" +
        "SELECT q.vec_id AS q_id, n.vec_id AS n_id, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
        "round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) / " +
        "(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) * " +
        "sqrt(list_dot_product(CAST(n.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])))), 4) DESC, n.vec_id) AS rank " +
        "FROM embeddings q, embeddings n WHERE q.vec_id < 100 AND q.vec_id <> n.vec_id) t WHERE rank <= 5), " +
        "votes AS (SELECT nn.q_id, l.label, count(*) AS votes FROM nn JOIN embeddings l ON nn.n_id = l.vec_id GROUP BY 1, 2) " +
        "SELECT q_id, label AS pred_label, votes FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, label) AS rn FROM votes) w " +
        "WHERE rn = 1 ORDER BY q_id"),


    "knn_int8" ->
      ("WITH qz AS (SELECT vec_id, " +
        "list_transform(embedding, x -> greatest(-127.0, least(127.0, floor(CAST(x AS DOUBLE) * " +
        "(CASE WHEN list_aggregate(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))), 'max') > 0 " +
        "THEN 127.0 / list_aggregate(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))), 'max') ELSE 0.0 END) " +
        "+ 0.5)))) AS qv FROM embeddings) " +
        "SELECT q_id, n_id, sim, rank FROM (" +
        "SELECT q_id, n_id, sim, CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rank FROM (" +
        "SELECT q.vec_id AS q_id, n.vec_id AS n_id, " +
        "round(list_dot_product(q.qv, n.qv) / " +
        "(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(n.qv, n.qv))), 4) AS sim " +
        "FROM qz q, qz n WHERE q.vec_id < 100 AND q.vec_id <> n.vec_id) p) t " +
        "WHERE rank <= 5 ORDER BY q_id, rank"),


    "embedding_dim_stats" ->
      ("SELECT CAST(r.i AS BIGINT) AS dim, " +
        "round(avg(CAST(embedding[CAST(r.i + 1 AS INT)] AS DOUBLE)), 4) + 0.0 AS mean_x, " +
        "round(stddev_samp(CAST(embedding[CAST(r.i + 1 AS INT)] AS DOUBLE)), 4) + 0.0 AS sd_x " +
        "FROM embeddings, range(64) r(i) GROUP BY 1 ORDER BY dim"),


    "embedding_quantize" ->
      ("WITH s AS (SELECT vec_id, embedding, " +
        "CASE WHEN list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') > 0 " +
        "THEN 127.0 / list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') " +
        "ELSE 0.0 END AS scale FROM embeddings), " +
        "qq AS (SELECT vec_id, scale, " +
        "list_transform(embedding, x -> CAST(greatest(-127.0, least(127.0, floor(CAST(x AS DOUBLE) * scale + 0.5))) AS BIGINT)) AS qv " +
        "FROM s) " +
        "SELECT vec_id, round(scale, 4) AS q_scale_r, " +
        "CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum, " +
        "CAST(list_aggregate(qv, 'min') AS INTEGER) AS q_min, " +
        "CAST(list_aggregate(qv, 'max') AS INTEGER) AS q_max " +
        "FROM qq ORDER BY vec_id"),


    // pinned from a verified sf0.01 run (every ANN path is deterministic:
    // id-ordered k-means/PQ seeds, hash-based LSH planes, no RNG); the
    // recall these parameters buy at sf0.01 — the point of the audit is
    // that the driver record carries the measured number
    "knn_recall_audit" ->
      ("SELECT CAST(algo AS VARCHAR) AS algo, CAST(recall_at_5 AS DOUBLE) AS recall_at_5 FROM (VALUES " +
        "('ivf', 0.59), ('ivfpq', 0.528), ('lsh', 0.636), ('pq', 0.474)" +
        ") t(algo, recall_at_5) ORDER BY algo"),
  )
}
