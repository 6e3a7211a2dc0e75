package graft.queries

/** Shared DuckDB-oracle CTE fragments used by more than one registry
  * entry (moved verbatim out of SparkEntry in the r14 registry split).
  */
object OracleCtes {
  /** DuckDB twin of [[graft.ops.Stats.centsMean4]]: the HALF_UP 4-place
    * mean of a cent-valued double from an exact HUGEINT sum of cents
    * (DuckDB 1.0 returns DOUBLE for avg(DECIMAL) and DECIMAL division).
    */
  def centsMean4Sql(c: String): String = {
    val cents = s"sum(CAST(round($c * 100) AS BIGINT))"
    val n = s"count($c)"
    s"CAST(sign($cents) * ((abs($cents) * 200 + $n) // (2 * $n)) AS DOUBLE) / 10000"
  }

  /** Shared DuckDB replay of the `embedding_kmeans` fixpoint (seed from
    * the first 8 vec_ids, 4 assign+update rounds, final assignment in
    * `a5` as (vec_id, cl, d2)) — used by both the kmeans oracle and the
    * centroid-distance outlier-pruning oracle, so the two driver checks
    * provably describe the same clustering.
    */
  val KmeansReplayCtes: String = {
    val head =
      "WITH vl AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim, " +
        "CAST(unnest(embedding) AS DOUBLE) AS val FROM embeddings), " +
      "seed AS (SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl " +
        "FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8) s0), " +
      "c0 AS (SELECT s.cl, v.dim, v.val FROM seed s JOIN vl v ON v.vec_id = s.vec_id)"
    def assignCte(i: Int) =
      s"a$i AS (SELECT vec_id, cl, d2 FROM (SELECT v.vec_id, c.cl, " +
        "sum((v.val - c.val) * (v.val - c.val)) AS d2, " +
        "row_number() OVER (PARTITION BY v.vec_id " +
        "ORDER BY sum((v.val - c.val) * (v.val - c.val)), c.cl) AS rn " +
        s"FROM vl v JOIN c${i - 1} c ON v.dim = c.dim " +
        "GROUP BY v.vec_id, c.cl) t WHERE rn = 1)"
    def updateCte(i: Int) =
      s"c$i AS (SELECT p.cl, p.dim, coalesce(m.val, p.val) AS val " +
        s"FROM c${i - 1} p LEFT JOIN " +
        s"(SELECT a.cl, v.dim, avg(v.val) AS val FROM a$i a " +
        "JOIN vl v ON v.vec_id = a.vec_id GROUP BY a.cl, v.dim) m " +
        "ON m.cl = p.cl AND m.dim = p.dim)"
    val mid = (1 to 4).map(i => assignCte(i) + ", " + updateCte(i))
      .mkString(", ", ", ", "")
    head + mid + ", " + assignCte(5)
  }

  /** DuckDB rendering of [[graft.ops.TextAnalysis.qualityScore]] (already
    * 4-dp rounded) — shared by the corpus-curation oracles; the older
    * dedup_canonical / quality_filter / text_quality oracles carry their
    * own inlined (byte-identical) copies.
    */
  val QualitySql: String =
    "round(" +
      "(CASE WHEN len(string_split(text, ' ')) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.25 END) * 0.3 + " +
      "(CASE WHEN CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) <= 0.2 THEN 1.0 " +
      "ELSE 1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) END) * 0.2 + " +
      "(CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) >= 0.1 THEN 1.0 " +
      "ELSE CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) * 10.0 END) * 0.3 + " +
      "least(CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) * 5.0, 1.0) * 0.2" +
      ", 4)"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for the approximate-by-design
    * queries: the five ANN paths (knn_ivf_ann, knn_lsh_ann, knn_pq_ann,
    * knn_ivfpq_ann, knn_ivfpq_persisted — recall-asserted vs brute force
    * in IvfSpec/SimilaritySpec, persistence equality in IvfPqIndexSpec,
    * and the MEASURED recall of the four ANN algorithms ships in the
    * driver record via the pinned knn_recall_audit declared query)
    * and the sketch profile (corpus_sketch_profile — HLL++/KLL error vs
    * the exact aggregates asserted in TextAnalysisSpec);
    * the deterministic Spark-side-hash queries carry PINNED literal-VALUES
    * oracles ([[PinnedOracles]], valid at sf0.01).
    */
  /** One BM25 oracle, two declared paths: the from-scratch
    * `text_bm25_search` and the index-served `text_bm25_persisted` must
    * produce byte-identical results — sharing the oracle string states
    * that contract in the driver record itself.
    */
  /** Shared CTE prefix of the curation-pipeline oracles: corpus with
    * injected clones → quality metrics (`kept`) → 8-gram decontamination
    * (`clean`) → dedup ranking (`d`, winner at rn = 1). Used by both the
    * row-level `e2e_curation_pipeline` oracle and the per-stage
    * cardinality oracle of `e2e_observed_metrics`, so the two driver
    * checks provably describe the same pipeline.
    */
  val CurationOracleCtes: String =
    "WITH corpus AS (SELECT doc_id, text, lang, source, n_chars FROM documents " +
      "UNION ALL SELECT doc_id + 1000000, text, lang, source, n_chars FROM documents WHERE doc_id < 50), " +
      "m AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, " +
      "round(1.0 - CAST(len(list_distinct(CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
      "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
      "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END)) AS DOUBLE) / " +
      "CAST(len(CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
      "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
      "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS DOUBLE), 4) AS rep, " +
      "round((CASE WHEN len(string_split(text, ' ')) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.25 END) * 0.3 + " +
      "(CASE WHEN CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) <= 0.2 THEN 1.0 " +
      "ELSE 1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) END) * 0.2 + " +
      "(CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) >= 0.1 THEN 1.0 " +
      "ELSE CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) * 10.0 END) * 0.3 + " +
      "least(CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) * 5.0, 1.0) * 0.2, 4) AS q " +
      "FROM corpus), " +
      "kept AS (SELECT c.* FROM corpus c JOIN m USING (doc_id) " +
      "WHERE m.n_tokens >= 20 AND m.rep <= 0.02 AND m.q >= 0.85), " +
      "tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t FROM kept), " +
      "grams AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 7), " +
      "i -> array_to_string(t[i+1:i+8], ' ')))) AS gram FROM tk WHERE len(t) >= 8), " +
      "btk AS (SELECT list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t " +
      "FROM documents WHERE doc_id % 25 = 0), " +
      "bg AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(len(t) - 7), " +
      "i -> array_to_string(t[i+1:i+8], ' ')))) AS gram FROM btk WHERE len(t) >= 8), " +
      "bad AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bg USING (gram)), " +
      "clean AS (SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM bad)), " +
      "d AS (SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM clean) "

  val Bm25OracleSql: String =
    "WITH q(q_id, term) AS (VALUES (1, 'hash'), (1, 'join'), (1, 'dup'), " +
      "(2, 'window'), (2, 'sort'), (2, 'merge')), " +
      "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
      "dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents), " +
      "tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tok " +
      "WHERE term IN (SELECT term FROM q) GROUP BY 1, 2), " +
      "dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1), " +
      "st AS (SELECT CAST(count(*) AS DOUBLE) AS n, " +
      "avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents), " +
      "s AS (SELECT q.q_id, tf.doc_id, " +
      "ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 / " +
      "(tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) AS sc " +
      "FROM tf JOIN q USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st), " +
      "agg AS (SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, round(sum(sc), 4) AS score FROM s GROUP BY 1, 2), " +
      "r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank FROM agg) " +
      "SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, score " +
      "FROM r WHERE rank <= 10 ORDER BY q_id, rank"

  /** Hybrid RRF replay shared by `doc_retrieval_hybrid` (brute legs) and
    * `doc_retrieval_hybrid_indexed` (persisted BM25 + IVF-PQ serving):
    * both must land the IDENTICAL fused ranking — the BM25 CTEs are
    * [[Bm25OracleSql]]'s, the cosine leg is knn_bruteforce's restricted
    * to queries 1 and 2, fused by 1/(60+rank) and re-ranked.
    */
  val HybridRrfOracleSql: String =
    "WITH q(q_id, term) AS (VALUES (1, 'hash'), (1, 'join'), (1, 'dup'), " +
      "(2, 'window'), (2, 'sort'), (2, 'merge')), " +
      "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
      "dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents), " +
      "tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tok " +
      "WHERE term IN (SELECT term FROM q) GROUP BY 1, 2), " +
      "dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1), " +
      "st AS (SELECT CAST(count(*) AS DOUBLE) AS n, " +
      "avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents), " +
      "sc AS (SELECT q.q_id, tf.doc_id, " +
      "ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 / " +
      "(tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) AS s " +
      "FROM tf JOIN q USING (term) JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st), " +
      "bagg AS (SELECT CAST(q_id AS BIGINT) AS q_id, doc_id, round(sum(s), 4) AS score FROM sc GROUP BY 1, 2), " +
      "bm AS (SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS r FROM bagg), " +
      "vp AS (SELECT qe.vec_id AS q_id, n.vec_id AS doc_id, " +
      "round(list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) / " +
      "(sqrt(list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[]))) * " +
      "sqrt(list_dot_product(CAST(n.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])))), 4) AS sim " +
      "FROM embeddings qe, embeddings n WHERE qe.vec_id IN (1, 2) AND qe.vec_id <> n.vec_id), " +
      "vec AS (SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, doc_id) AS r FROM vp), " +
      "contrib AS (SELECT q_id, doc_id, r FROM bm WHERE r <= 10 " +
      "UNION ALL SELECT q_id, doc_id, r FROM vec WHERE r <= 10), " +
      "fused AS (SELECT q_id, doc_id, round(sum(1.0 / (60 + r)), 6) AS rrf, " +
      "CAST(count(*) AS BIGINT) AS n_legs FROM contrib GROUP BY 1, 2), " +
      "rr AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rank FROM fused) " +
      "SELECT q_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf, n_legs " +
      "FROM rr WHERE rank <= 10 ORDER BY q_id, rank"
}
