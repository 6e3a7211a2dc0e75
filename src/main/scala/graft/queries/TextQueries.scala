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

/** text analysis, corpus quality/curation, tokenizers (BPE/WordPiece/
  * Unigram), BM25 retrieval legs and decontamination.
  *
  * One registry slice of [[graft.SparkEntry]] (split r14 — the single
  * 6.6k-line file was the bottleneck): `queries` feeds the driver's
  * Verify/Bench maps, `oracles` the DuckDB compare. Keys and bodies are
  * unchanged from the pre-split registry.
  */
object TextQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Tokenizer-coverage calibration: per-source OOV rate against the
    // corpus vocabulary (the go/no-go metric when pointing a trained
    // tokenizer at a new source mix). Vocabulary broadcasts into the
    // token scan — the corpus shuffles only for the per-source aggregate.
    "vocab_coverage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = TextAnalysis.buildVocab(docs, "text", minCount = 5L, maxVocab = 4096)
      val toks = docs.select(col("source"), explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
      toks.join(broadcast(vocab.select("token").withColumn("__in", lit(1))),
          Seq("token"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate", round(col("n_oov") / col("n_tokens"), 6))
        .orderBy("source")
    }),


    // Persisted tokenizer artifact: train BPE once, write the merges as a
    // parquet sidecar, read them back and encode from the artifact alone —
    // byte-identical to the from-scratch path (shares bpe_encode's pinned
    // oracle), completing the build-once/serve-many family (MinHash, IVFPQ,
    // BM25, now the tokenizer).
    "bpe_persisted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("bpe_1", dir) { tmp =>
        Bpe.writeMerges(s,
          Bpe.train(Bpe.wordCounts(docs, "text"), numMerges = 30, minCount = 2), tmp)
      }
      val merges = Bpe.readMerges(s, idxDir)
      docs.select(col("doc_id"),
          graft.functions.BpeFunctions.bpe_encode(col("text"), merges).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_bpe_tokens"),
          concat_ws(" ", slice(col("toks"), 1, 8)).as("tokens_head"))
        .orderBy("doc_id")
    }),


    // Persisted unigram model: train once, write the (piece, logprob)
    // table as a parquet sidecar, read it back and encode from the
    // artifact alone — byte-identical to the from-scratch path (shares
    // unigram_encode's pinned oracle), extending the
    // build-once/serve-many family to the third tokenizer.
    "unigram_persisted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("unigram_1", dir) { tmp =>
        graft.ops.Unigram.writeModel(
          graft.ops.Unigram.train(Bpe.wordCounts(docs, "text"),
            maxPieceLen = 6, maxVocab = 512, emRounds = 2,
            seedSize = 4096, minCount = 2L), tmp)
      }
      val model = graft.ops.Unigram.readModel(s, idxDir)
      docs.select(col("doc_id"),
          graft.functions.UnigramFunctions.unigram_encode(
            col("text"), model, maxPieceLen = 6).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_ug_tokens"),
          concat_ws(" ", slice(col("toks"), 1, 8)).as("pieces_head"))
        .orderBy("doc_id")
    }),


    // Compressibility quality signal (CCNet/Gopher family): per-doc
    // DEFLATE ratio — repetitive boilerplate compresses low, noise high.
    // Partition-reused zlib state, map-side only. Pinned oracle; the
    // repetitive < prose < random ordering is asserted in the spec.
    "text_compression_ratio" -> ((s, dir) =>
      TextAnalysis.compressionRatio(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),


    // WordPiece vocabulary (frequency-ranked variant): every substring of
    // the distinct-word table, word-initial raw / word-internal
    // ##-prefixed, scored by summed word counts. Corpus touched once
    // (wordCounts); the candidate explosion and ranking window are
    // vocabulary-sized. Full DuckDB oracle.
    "wordpiece_vocab" -> ((s, dir) =>
      graft.ops.WordPiece.buildVocab(
          Bpe.wordCounts(Tables.documents(s, dir), "text"),
          maxPieceLen = 6, maxVocab = 2048, minCount = 5L)
        .orderBy("piece_id")),


    // WordPiece greedy longest-match encoding (BERT inference): native
    // codegen'd expression, vocabulary as a plan-time HashSet reference
    // object, whole-word [UNK] fallback — zero shuffle. Pinned oracle;
    // driver-side greedy recomputation asserted in WordPieceSpec.
    "wordpiece_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = graft.ops.WordPiece.buildVocab(Bpe.wordCounts(docs, "text"),
          maxPieceLen = 6, maxVocab = 2048, minCount = 5L)
        .orderBy("piece_id").collect().map(_.getString(0)).toSeq
      docs.select(col("doc_id"),
          graft.functions.WordPieceFunctions.wordpiece_encode(
            col("text"), vocab, maxPieceLen = 6).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_wp_tokens"),
          concat_ws(" ", slice(col("toks"), 1, 8)).as("pieces_head"))
        .orderBy("doc_id")
    }),


    // Unigram-LM tokenizer training (Kudo 2018 / SentencePiece): seed
    // substring frequencies → 2 count-EM rounds (Viterbi E-step over the
    // DISTINCT-WORD table with the model broadcast, count-normalize
    // M-step) → count-ranked prune with single-char retention. Iterative
    // → pinned VALUES oracle; hand-computed EM + determinism asserted in
    // UnigramSpec. Completes the subword trio (BPE / WordPiece / Unigram)
    "unigram_train" -> ((s, dir) =>
      graft.ops.Unigram.train(
          Bpe.wordCounts(Tables.documents(s, dir), "text"),
          maxPieceLen = 6, maxVocab = 512, emRounds = 2,
          seedSize = 4096, minCount = 2L)
        .orderBy("piece_id")),


    // Unigram Viterbi encoding (SentencePiece inference): native
    // codegen'd expression, model as a plan-time HashMap reference
    // object, longer-final-piece tie rule, whole-word [UNK] fallback —
    // zero shuffle. Pinned oracle; driver-side Viterbi recomputation
    // asserted in UnigramSpec.
    "unigram_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = graft.ops.Unigram.train(Bpe.wordCounts(docs, "text"),
          maxPieceLen = 6, maxVocab = 512, emRounds = 2,
          seedSize = 4096, minCount = 2L)
        .orderBy("piece_id").collect()
        .map(r => r.getString(0) -> r.getDouble(2)).toSeq
      docs.select(col("doc_id"),
          graft.functions.UnigramFunctions.unigram_encode(
            col("text"), model, maxPieceLen = 6).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_ug_tokens"),
          concat_ws(" ", slice(col("toks"), 1, 8)).as("pieces_head"))
        .orderBy("doc_id")
    }),


    // Corpus curation report: per-source doc/token counts, mean quality,
    // exact length percentiles (Spark `percentile` is the exact
    // interpolated aggregate — percentile_approx would not oracle-match).
    // One partial-aggregating shuffle keyed by source.
    "corpus_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("__q", TextAnalysis.qualityScore(col("text")))
        .withColumn("__toks", TextAnalysis.tokenCount(col("text")).cast("long"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("__toks").as("n_tokens"),
          round(avg("__q"), 4).as("avg_quality"),
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50_chars"),
          round(expr("percentile(n_chars, 0.95)"), 4).as("p95_chars"))
        .orderBy("source")),


    // Corpus-health Zipf fit: OLS on (ln rank, ln freq) over the top-1000
    // terms — natural text sits near slope −1 (Zipf 1949); drift flags
    // template spam / broken extraction corpus-wide in one row. Top-N via
    // TakeOrdered (never a full vocabulary sort), regression on the
    // bounded N-row frame; regr_* aggregates exist in both engines →
    // full SQL oracle.
    "corpus_zipf_fit" -> ((s, dir) =>
      TextAnalysis.zipfFit(Tables.documents(s, dir), "text", topN = 1000)
        .select(col("n_terms"),
          round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"),
          round(col("r2"), 6).as("r2"))),


    // Quality gate at a corpus-derived threshold (drop the bottom decile):
    // the cutoff is a 1-row aggregate broadcast against the scan — no
    // window over the whole corpus, no driver round-trip in the plan
    "quality_gate" -> ((s, dir) => {
      val q = Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      val thr = q.agg(expr("percentile(quality, 0.1)").as("__thr"))
      q.crossJoin(broadcast(thr))
        .filter(col("quality") >= col("__thr"))
        .select(col("doc_id"), col("quality"))
        .orderBy("doc_id")
    }),


    // boilerplate audit: word 3-grams ranked by document frequency — how a
    // pipeline finds the runs the substring maxDf cap drops
    "corpus_boilerplate" -> ((s, dir) =>
      Dedup.boilerplateGrams(Tables.documents(s, dir), "text",
        n = 3, minDf = 2L, topN = 20)),


    // benchmark decontamination (Gopher-style 8-gram overlap): bench set =
    // every 25th doc; a corpus doc sharing >=1 distinct word 8-gram with the
    // bench set is contaminated. Bench grams broadcast; corpus streams
    // map-side through explode -> broadcast-join.
    "decontam_hits" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.Decontaminate.contaminationHits(
          docs, docs.filter(col("doc_id") % 25 === 0), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),


    // gram-level contamination forensics: WHICH bench grams each
    // contaminated doc shares (one row per distinct shared gram)
    "decontam_grams" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.Decontaminate.contaminationGrams(
          docs, docs.filter(col("doc_id") % 25 === 0), "doc_id", "text", n = 8)
        .orderBy("doc_id", "gram")
    }),


    // the decontaminated corpus: anti-join on the contaminated-id set
    "decontam_corpus" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.Decontaminate.decontaminate(
          docs, docs.filter(col("doc_id") % 25 === 0), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),


    // Bloom-prefiltered decontamination — same exactness contract as
    // decontam_corpus (prefilter + exact confirm ≡ exact), different
    // bench set (every 20th doc) and gram width (5) so the two queries
    // exercise distinct paths; the oracle is the exact recomputation
    "decontam_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.Decontaminate.bloomDecontaminate(
          docs, docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", n = 5)
        .orderBy("doc_id")
    }),


    // embedding-space decontamination: corpus vectors whose nearest
    // BENCHMARK embedding (suite = every 25th vector re-id'd — exact
    // leaked copies by construction) has cosine >= 0.95, with the argmax
    // bench id as evidence — catches the paraphrase-style leakage exact
    // 8-gram checks miss; suite-sized bench broadcast, corpus scanned
    // once map-side, one id-width argmax shuffle
    "decontam_semantic" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val bench = emb.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + lit(1000000L)).as("bench_id"), col("embedding"))
      graft.ops.Decontaminate.semanticContamination(
          emb, "vec_id", "embedding", bench, "bench_id", "embedding",
          threshold = 0.95)
        .orderBy("vec_id")
    }),


    // closed-form multinomial Naive Bayes language classifier, trained on
    // the 80% doc_id-hash slice (label = lang): the trained state IS the
    // (label, token) count relation — vocabulary-bounded, broadcastable;
    // reported rows pruned to n >= 3 (the conditional stays exact)
    "classify_nb_model" -> ((s, dir) => {
      val train = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
      graft.ops.NaiveBayes.model(train, "lang", "text")
        .filter(col("n") >= 3)
        .select(col("label"), col("token"), col("n"),
          round(col("log_cond"), 4).as("log_cond"))
        .orderBy("label", "token")
    }),


    // NB inference over the held-out 20%: argmax label per doc, scored
    // from broadcast model count rows (no label×vocab dense grid); one
    // (doc, label) hash aggregate + a |labels|-wide frame per doc
    "classify_nb_predict" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.NaiveBayes.predict(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          docs.filter(col("doc_id") % 5 =!= 0), "lang", "text")
        .orderBy("doc_id")
    }),


    // per-source quality-score percentile calibration: percent_rank of
    // the 4-dp quality score WITHIN each source, so one uniform
    // `pct >= cut` keeps the same top fraction of every source
    // (heterogeneous-corpus quantile thresholding); rank decomposed onto
    // the bucketed prefix sum + tie-group min — no whole-source window
    "quality_percentile_by_source" -> ((s, dir) =>
      TextAnalysis.qualityPercentileBySource(
          Tables.documents(s, dir), "doc_id", "text", "source")
        .orderBy("doc_id")),


    // DSIR importance weights (Xie et al. 2023): hashed-bigram log-ratio
    // of target (lang=en) vs raw corpus distributions — B-bounded model
    // broadcast into one scoring scan; md5 buckets keep the oracle a full
    // SQL recomputation
    "quality_dsir" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.Dsir.importanceWeights(
          docs, docs.filter(col("lang") === "en"), "doc_id", "text")
        .orderBy("doc_id")
    }),


    // the curation operators composed END TO END — the LLM-data analogue
    // of e2e_method2_template: clone-injected corpus → quality rule
    // cascade → 8-gram benchmark decontamination → exact dedup
    // (deterministic winner). Each stage is also declared (and oracled)
    // on its own. `kept` is localCheckpoint'ed: decontaminate consumes
    // its corpus TWICE (the gram-probe leg and the final anti-join leg),
    // and without the pin both legs re-evaluate the quality cascade's
    // per-row 3-gram/score expressions over the clone-injected union —
    // the e2e_tokenize_pack shared-frame fix (r16), measured 37→23 s at
    // the ×100 corpus (BASELINE.md §r17).
    "e2e_curation_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
      // KNOWN COST: this pin has no in-plan free hook — the returned lazy
      // frame still references the blocks, so repeated builds in one
      // session (warm bench reruns) each retain one filtered-corpus copy
      // until session end. Accepted: the copy is the post-filter corpus
      // (small), and the bench process exits per run.
      val kept = TextAnalysis.qualityFilter(corpus, "text",
          minTokens = 20, maxRepetition = 0.02, minQuality = 0.85)
        .filter(col("reject_reason") === "kept").drop("reject_reason")
        .localCheckpoint()
      val clean = graft.ops.Decontaminate.decontaminate(
        kept, docs.filter(col("doc_id") % 25 === 0), "doc_id", "text", n = 8)
      Dedup.exact(clean, keys = Seq("text"), keepBy = "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),


    // ---- North star: text analysis ----
    "text_stats" -> ((s, dir) =>
      TextAnalysis.textStats(Tables.documents(s, dir), "text")
        .select("doc_id", "n_tokens", "n_uniq_tokens", "n_chars_obs",
          "uniq_ratio", "mean_token_len")
        .orderBy("doc_id")),


    // token counting: whitespace + BPE-ish sub-tokens
    "text_tokens" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_ws_tokens"),
          TextAnalysis.subTokenCount(col("text")).cast("bigint").as("n_subtokens"))
        .orderBy("doc_id")),


    // within-doc 3-gram repetition (Gopher-style quality signal)
    "text_repetition" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.repetitionRatio(col("text"), 3).as("rep_ratio"))
        .orderBy("doc_id")),


    "text_quality" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),


    // char-distribution Shannon entropy: native per-row expression inside
    // whole-stage codegen — ZERO explode/shuffle (the oracle's formulation
    // shuffles one row per CHARACTER; at 100 TB that intermediate is the
    // corpus itself)
    "text_entropy" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          round(graft.functions.TextFunctions.char_entropy(col("text")), 4)
            .as("char_entropy"))
        .orderBy("doc_id")),


    // C4/Gopher-style rule cascade with per-rule rejection accounting:
    // first failed rule wins (length floor → repetition ceiling → quality
    // floor); thresholds tuned so every branch fires on the fixture
    "quality_filter" -> ((s, dir) =>
      TextAnalysis.qualityFilter(Tables.documents(s, dir), "text",
        minTokens = 20, maxRepetition = 0.02, minQuality = 0.85)
        .groupBy("reject_reason").agg(count(lit(1)).as("n"))
        .orderBy("reject_reason")),


    // Gopher rule panel (Rae et al. 2021 §A1.1, public filter rules):
    // per-rule violation counts over the corpus — the data-quality
    // dashboard row. Expression-only panel, one global aggregation.
    "quality_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(Tables.documents(s, dir), "text",
          coreStopwords = TextAnalysis.StopwordsEn)
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("viol_word_count").cast("long")).as("n_word_count"),
          sum(col("viol_mean_wordlen").cast("long")).as("n_mean_wordlen"),
          sum(col("viol_symbol_ratio").cast("long")).as("n_symbol_ratio"),
          sum(col("viol_alpha_ratio").cast("long")).as("n_alpha_ratio"),
          sum(col("viol_stopwords").cast("long")).as("n_stopwords"),
          sum((!col("viol_word_count") && !col("viol_mean_wordlen") &&
            !col("viol_symbol_ratio") && !col("viol_alpha_ratio") &&
            !col("viol_stopwords")).cast("long")).as("n_clean"))),


    // composed end-to-end curation report: quality cascade, then substring
    // dedup among the kept docs (losers = greater pair member), rolled up
    // per source — the one-page summary a curation run actually publishes
    "curation_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val flagged = TextAnalysis.qualityFilter(docs, "text",
        minTokens = 20, maxRepetition = 0.02, minQuality = 0.85)
      val kept = flagged.filter(col("reject_reason") === "kept")
      val losers = Dedup.substringPairs(kept, "doc_id", "text",
          n = 6, maxDf = 100, minShared = 1L)
        .select(col("id_b").as("doc_id")).distinct()
        .withColumn("is_dup", lit(1))
      flagged.join(losers, Seq("doc_id"), "left")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("reject_reason") =!= "kept", 1L).otherwise(0L)).as("n_quality_rejected"),
          sum(when(col("reject_reason") === "kept" && col("is_dup") === 1, 1L).otherwise(0L)).as("n_dup_removed"),
          sum(when(col("reject_reason") === "kept" && col("is_dup").isNull, 1L).otherwise(0L)).as("n_kept"))
        .orderBy("source")
    }),


    // per-doc top-5 TF-IDF terms: two partial aggs + term join + bounded
    // window; N joins in as a broadcast 1-row aggregate (no collect)
    "text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rank")),


    // BM25 keyword retrieval: corpus explodes once, semi-joined against
    // the broadcast query vocabulary BEFORE its one shuffle; df/N/avgdl
    // broadcast back; pre-rounded scores rank deterministically
    "text_bm25_search" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq((1L, "hash"), (1L, "join"), (1L, "dup"),
        (2L, "window"), (2L, "sort"), (2L, "merge")).toDF("q_id", "term")
      TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
          qs, "q_id", "term", k = 10)
        .orderBy("q_id", "rank")
    }),


    // persisted inverted-index BM25 serving: build + write once
    // (term-range-partitioned postings → parquet footer-stat pruning
    // under the query's term pushdown), read → score the SAME query set
    // as text_bm25_search — identical results from the index alone, the
    // corpus text never re-read (shares text_bm25_search's oracle)
    "text_bm25_persisted" -> ((s, dir) => {
      import s.implicits._
      val idxDir = IndexFixture.dir("bm25_2", dir) { tmp =>
        graft.ops.Bm25Index.write(
          graft.ops.Bm25Index.build(Tables.documents(s, dir), "doc_id", "text"),
          tmp)
      }
      val qs = Seq((1L, "hash"), (1L, "join"), (1L, "dup"),
        (2L, "window"), (2L, "sort"), (2L, "merge")).toDF("q_id", "term")
      graft.ops.Bm25Index.topK(
          graft.ops.Bm25Index.read(s, idxDir), qs, "q_id", "term", k = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy("q_id", "rank")
    }),


    // BM25 index MAINTENANCE serve: build the inverted index on the
    // 6/7 base corpus only, fold the held-out 1/7 in through
    // Bm25Index.append (postings additive, df sums, closed-form
    // (n, avgdl) recombination — O(|Δ|) work), then serve the SAME query
    // set — BM25 append is EXACT, so the result matches a full rebuild
    // and the query shares text_bm25_search's oracle (the incremental
    // counterpart of knn_index_append, without that family's
    // frozen-model approximation).
    "text_bm25_index_append" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val appended = graft.ops.Bm25Index.append(
        graft.ops.Bm25Index.build(
          docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text"),
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
      val qs = Seq((1L, "hash"), (1L, "join"), (1L, "dup"),
        (2L, "window"), (2L, "sort"), (2L, "merge")).toDF("q_id", "term")
      graft.ops.Bm25Index.topK(appended, qs, "q_id", "term", k = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy("q_id", "rank")
    }),


    // BM25 index ERASURE serve (Bm25Index.erase — the delete half of the
    // maintenance pair beside text_bm25_index_append): every 10th doc is
    // forgotten IN THE INDEX (postings anti-join, df subtraction,
    // closed-form (n, avgdl) — O(|victims|), no corpus scan, no rebuild),
    // then the same query set serves from the erased index. Erase is
    // EXACT like append, so the oracle is the full BM25 replay over the
    // RETAINED corpus — right-to-be-forgotten applied to the serving
    // artifact, provably equal to a rebuild.
    "text_bm25_erase" -> ((s, dir) => {
      import s.implicits._
      val idxDir = IndexFixture.dir("bm25_2", dir) { tmp =>
        graft.ops.Bm25Index.write(
          graft.ops.Bm25Index.build(Tables.documents(s, dir), "doc_id", "text"),
          tmp)
      }
      val victims = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(10)) === 3).select(col("doc_id"))
      val qs = Seq((1L, "hash"), (1L, "join"), (1L, "dup"),
        (2L, "window"), (2L, "sort"), (2L, "merge")).toDF("q_id", "term")
      graft.ops.Bm25Index.topK(
          graft.ops.Bm25Index.erase(graft.ops.Bm25Index.read(s, idxDir), victims),
          qs, "q_id", "term", k = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy("q_id", "rank")
    }),


    // CCNet-style perplexity signal: per-doc mean unigram NLL under a
    // model trained on the same corpus (the declared, oracle-exact form;
    // nllScore also takes a frozen reference model + OOV floor)
    "text_perplexity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.nllScore(docs, "doc_id", "text",
          TextAnalysis.unigramModel(docs, "text"))
        .orderBy("doc_id")
    }),


    // interpolated-bigram NLL (one step toward the CCNet n-gram reference
    // filter): bigram MLE with unigram backoff, λ=0.7, self-trained —
    // three model joins over map-side exploded pairs, one per-doc agg
    "text_perplexity_bigram" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.bigramNllScore(docs, "doc_id", "text",
          TextAnalysis.bigramModel(docs, "text"),
          TextAnalysis.unigramModel(docs, "text"))
        .orderBy("doc_id")
    }),


    // sketch-based corpus profile: HyperLogLog++ distinct-text estimate +
    // approximate percentiles per source — the O(1)-state forms of the
    // exact corpus_stats aggregates. Approximate by design → rows-only
    // (error vs exact asserted in TextAnalysisSpec)
    "corpus_sketch_profile" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(
          approx_count_distinct(col("text"), 0.02).as("approx_distinct_texts"),
          percentile_approx(col("n_chars"), array(lit(0.5), lit(0.95)), lit(10000)).as("__pq"))
        .select(col("source"), col("approx_distinct_texts"),
          element_at(col("__pq"), 1).as("p50_chars"),
          element_at(col("__pq"), 2).as("p95_chars"))
        .orderBy("source")),


    // EXACT companion of corpus_sketch_profile with a full DuckDB oracle:
    // exact distinct texts and exact interpolated percentiles per source.
    // The sketch is the 100 TB path (mergeable, KB-sized state); this
    // exact form shuffles the text column for the distinct — declared as
    // the audit anchor the sketch's error is measured against (the
    // knn_recall_audit pattern)
    "corpus_profile_exact" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          count_distinct(col("text")).as("n_distinct_texts"),
          round(element_at(percentile(col("n_chars"), array(lit(0.5), lit(0.95))), 1), 4)
            .as("p50_chars"),
          round(element_at(percentile(col("n_chars"), array(lit(0.5), lit(0.95))), 2), 4)
            .as("p95_chars"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy("source")),


    // Sketch-vs-exact error, carried in the driver record itself: HLL++
    // estimate beside the exact distinct count, relative error per
    // source. HLL register-max merge is order-insensitive → deterministic
    // → pinned VALUES oracle. (The percentile sketch's merge is
    // compression-order-sensitive, so its error stays a spec assertion.)
    "corpus_profile_sketch_error" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy("source")
        .agg(
          count_distinct(col("text")).as("n_distinct_exact"),
          approx_count_distinct(col("text"), 0.02).as("n_distinct_hll"))
        .withColumn("rel_err",
          round(abs(col("n_distinct_hll") - col("n_distinct_exact"))
            / col("n_distinct_exact"), 4))
        .orderBy("source")),


    // canonicalization: lowercase, strip non-alphanumerics, collapse spaces
    "text_normalize" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.normalize(col("text")).as("norm_text"))
        .orderBy("doc_id")),


    // PII scrubbing: fixture text carries no PII, so deterministic
    // addresses/numbers are injected per doc id, then redacted — the
    // oracle recomputes the identical injection + RE2-safe regexes
    "text_scrub" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.scrubPii(concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or +1 (555) 010-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
            lit(" now"))).as("scrubbed"))
        .orderBy("doc_id")),


    // sequence packing (concat-and-chunk): global token offsets via a
    // two-level distributed prefix sum (range buckets + tiny offset
    // window), then fixed 512-token chunk ranges per doc
    "pack_chunks" -> ((s, dir) =>
      graft.ops.Packing.packChunks(Tables.documents(s, dir), "doc_id",
        TextAnalysis.tokenCount(col("text")), chunkTokens = 512, bucketWidth = 100)
        .orderBy("doc_id")),


    // THE training-data pipeline end to end: quality gate → REAL BPE
    // token counts (merges trained on the gated corpus, native codegen'd
    // encode) → per-source token budget (bucketed prefix sum) →
    // 512-token sequence packing. The composition the engine exists
    // for — curate, tokenize, budget, pack. BPE is JVM-iterative →
    // pinned. The two shared frames are localCheckpoint'd: `kept` is
    // consumed by BPE training's two jobs AND the encode scan, and
    // `budgeted` by the pack arm AND the source-recovery join — left
    // lazy, the quality filter re-ran 4× and the encode 2× (measured
    // 150 s → 44 s at the ×100 scale corpus, output identical).
    "e2e_tokenize_pack" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val kept = TextAnalysis.qualityFilter(docs, "text", 20, 0.02, 0.85)
        .filter(col("reject_reason") === "kept")
        .select("doc_id", "source", "text")
        .localCheckpoint()
      val merges = Bpe.train(Bpe.wordCounts(kept, "text"),
        numMerges = 30, minCount = 2)
      val counted = kept.select(col("doc_id"), col("source"),
        size(graft.functions.BpeFunctions.bpe_encode(col("text"), merges))
          .cast("bigint").as("n_bpe"))
      val budgeted = graft.ops.Sampling.tokenBudget(
        counted, col("source"), col("n_bpe"), 20000L, col("doc_id"))
        .localCheckpoint()
      graft.ops.Packing.packChunks(
          budgeted.drop("cum_tokens"), "doc_id", col("n_bpe"),
          chunkTokens = 512, bucketWidth = 100)
        .join(budgeted.select("doc_id", "source"), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("start_tok"), col("chunk_start"), col("chunk_end"))
        .orderBy("doc_id")
    }),


    // Length-bucketed inference batching: global (len, id) rank via the
    // bucketed prefix sum → 32-doc batches of similar-length docs, so
    // each batch pads only to its own max. The record carries per-batch
    // padding waste — the number the trick exists to minimize. Full
    // DuckDB oracle (row_number replay)
    "inference_batches" -> ((s, dir) =>
      graft.ops.Packing.batchByLength(
          Tables.documents(s, dir).select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_tok")),
          "doc_id", col("n_tok"), batchSize = 32)
        .groupBy("batch")
        .agg(count(lit(1)).as("n_docs"),
          min("n_tok").as("min_len"), max("n_tok").as("max_len"),
          (max("n_tok") * count(lit(1)) - sum("n_tok")).as("padding"))
        .orderBy("batch")),


    // KV-cache prefix grouping: prompts sharing their first 2 tokens
    // route to one group; the report carries the prefill tokens a
    // RadixAttention-style cache saves per group ((n−1)·prefix_len).
    // One key-shuffle of (prefix, len) pairs — prompt bodies never move
    "inference_prefix_groups" -> ((s, dir) =>
      graft.ops.Packing.prefixGroups(
        Tables.documents(s, dir), "text", prefixTokens = 2, topK = 20)),


    // the loader-facing inversion: one row per (chunk, doc) overlap with
    // in-chunk spans — bounded explode, no extra shuffle
    "pack_manifest" -> ((s, dir) => {
      val packed = graft.ops.Packing.packChunks(Tables.documents(s, dir), "doc_id",
        TextAnalysis.tokenCount(col("text")), chunkTokens = 512, bucketWidth = 100)
      graft.ops.Packing.chunkManifest(packed, "doc_id", chunkTokens = 512)
        .orderBy("chunk", "doc_id")
    }),


    // RAG-style sliding-window chunking: 64-token windows every 48 tokens
    // (16-token overlap) — bounded map-side generator, no shuffle
    "doc_chunks" -> ((s, dir) =>
      graft.ops.Packing.chunkDocuments(Tables.documents(s, dir), "doc_id", "text",
        maxTokens = 64, overlapTokens = 16)
        .orderBy("doc_id", "chunk_idx")),


    "lang_id" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),


    // frequency-ranked vocabulary (tokenizer-training step): ONE corpus
    // shuffle; the global ranking window runs over the bounded
    // post-minCount vocabulary only
    "vocab_build" -> ((s, dir) =>
      TextAnalysis.buildVocab(Tables.documents(s, dir), "text",
          minCount = 5L, maxVocab = 4096)
        .orderBy("token_id")),


    // token-id encoding against that vocabulary: exploded (id, pos,
    // token_id) rows, OOV -> 0; broadcast join only — the corpus is
    // never shuffled
    "vocab_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = TextAnalysis.buildVocab(docs, "text", minCount = 5L, maxVocab = 4096)
      TextAnalysis.encodeTokens(docs, "doc_id", "text", vocab)
        .orderBy("doc_id", "pos")
    }),


    // BPE tokenizer training (Sennrich 2016): the ONLY corpus-scale pass
    // is the word-count shuffle; the merge loop runs on the vocab-sized
    // frequency table. Deterministic (count-desc/lhs/rhs tie-break) —
    // pinned VALUES oracle (iterative; driver-side path-equality and
    // hand-computed merges in BpeSpec)
    "bpe_train" -> ((s, dir) => {
      import s.implicits._
      Bpe.train(Bpe.wordCounts(Tables.documents(s, dir), "text"),
          numMerges = 30, minCount = 2)
        .toDF("merge_rank", "lhs", "rhs")
        .select(col("merge_rank").cast("bigint").as("merge_rank"),
          col("lhs"), col("rhs"))
        .orderBy("merge_rank")
    }),


    // BPE encoding with the merges trained on the same corpus: native
    // codegen'd expression, one call per doc, zero shuffle — pinned
    // VALUES oracle (train-state reproduction asserted in BpeSpec)
    "bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = Bpe.train(Bpe.wordCounts(docs, "text"),
        numMerges = 30, minCount = 2)
      docs.select(col("doc_id"),
          graft.functions.BpeFunctions.bpe_encode(col("text"), merges).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_bpe_tokens"),
          concat_ws(" ", slice(col("toks"), 1, 8)).as("tokens_head"))
        .orderBy("doc_id")
    }),


    // pinned VALUES oracle (xxhash64 is Spark-side; driver-side chain
    // recomputation in TextAnalysisSpec)
    "text_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint("text").as("fp"))
        .orderBy("doc_id")),


    // winnowing (MOSS) fingerprint selection: count + XOR-fold of each
    // doc's selected local-minimum gram hashes — pinned VALUES oracle
    // (gram hashes are Spark-side; driver-side window-min recomputation
    // in TextAnalysisSpec)
    "text_winnow" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.winnowFingerprints(col("text"), k = 4, window = 5).as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast("bigint").as("n_fp"),
          aggregate(col("fps"), lit(0L), (a, x) => a.bitwiseXOR(x)).as("fp_xor"))
        .orderBy("doc_id")),


    // Flesch / Flesch–Kincaid readability per document (ops/TextAnalysis
    // .readability): codegen'd regexp counts over the corpus scan — the
    // classic curation signal beside the Gopher-rule quality gates.
    "text_readability" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id") +: graft.ops.TextAnalysis.readability(col("text")): _*)
        .orderBy("doc_id")),


    // Chat-corpus assembly: events grouped per user into one ordered
    // conversation document (turn sort INSIDE the aggregate — input order
    // never matters); ONE key shuffle, per-key state = the conversation
    "conversations_assemble" -> ((s, dir) =>
      graft.ops.Packing.assembleConversations(
          Tables.events(s, dir),
          keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
          textCol = "event_type")
        .orderBy("user_id")),
  )

  val oracles: Map[String, String] = Map(
    "corpus_stats" ->
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens, " +
        s"round(avg($QualitySql), 4) AS avg_quality, " +
        "round(quantile_cont(n_chars, 0.5), 4) AS p50_chars, " +
        "round(quantile_cont(n_chars, 0.95), 4) AS p95_chars " +
        "FROM documents GROUP BY source ORDER BY source"),


    // replays zipfFit(): same whitespace tokens, same (freq DESC, token)
    // total order at the top-1000 cut and in the rank numbering, ln-ln
    // OLS via the shared regr_* aggregate definitions
    "corpus_zipf_fit" ->
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), " +
        "vc AS (SELECT token, count(*) AS freq FROM tok WHERE token <> '' GROUP BY 1), " +
        "top AS (SELECT token, freq FROM vc ORDER BY freq DESC, token LIMIT 1000), " +
        "r AS (SELECT freq, CAST(row_number() OVER (ORDER BY freq DESC, token) AS DOUBLE) AS rk FROM top) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_terms, " +
        "round(regr_slope(ln(freq), ln(rk)), 6) AS slope, " +
        "round(regr_intercept(ln(freq), ln(rk)), 6) AS intercept, " +
        "round(regr_r2(ln(freq), ln(rk)), 6) AS r2 FROM r"),


    "quality_gate" ->
      (s"WITH q AS (SELECT doc_id, $QualitySql AS quality FROM documents), " +
        "t AS (SELECT quantile_cont(quality, 0.1) AS thr FROM q) " +
        "SELECT doc_id, quality FROM q, t WHERE quality >= thr ORDER BY doc_id"),


    "vocab_coverage" ->
      ("WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents), " +
        "tk AS (SELECT source, token FROM tok WHERE token <> ''), " +
        "vc AS (SELECT token, count(*) AS n FROM tk GROUP BY token HAVING count(*) >= 5), " +
        "vocab AS (SELECT token FROM (SELECT token, row_number() OVER (ORDER BY n DESC, token) AS rid FROM vc) r WHERE rid <= 4096) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
        "round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS oov_rate " +
        "FROM tk LEFT JOIN vocab v ON v.token = tk.token " +
        "GROUP BY source ORDER BY source"),


    "wordpiece_vocab" ->
      ("WITH wc AS (SELECT word, count(*) AS n FROM (" +
        "SELECT unnest(string_split(text, ' ')) AS word FROM documents) t " +
        "WHERE word <> '' GROUP BY word), " +
        "pos AS (SELECT word, n, unnest(generate_series(1, length(word))) AS p FROM wc), " +
        "pl AS (SELECT word, n, p, unnest(generate_series(1, 6)) AS l FROM pos), " +
        "cand AS (SELECT CASE WHEN p = 1 THEN substr(word, p, l) " +
        "ELSE '##' || substr(word, p, l) END AS piece, n FROM pl " +
        "WHERE p + l - 1 <= length(word)), " +
        "agg AS (SELECT piece, CAST(sum(n) AS BIGINT) AS freq FROM cand " +
        "GROUP BY piece HAVING sum(n) >= 5), " +
        "ranked AS (SELECT piece, CAST(row_number() OVER (ORDER BY freq DESC, piece) AS INT) AS piece_id, freq FROM agg) " +
        "SELECT piece, piece_id, freq FROM ranked WHERE piece_id <= 2048 ORDER BY piece_id"),


    "quality_filter" ->
      ("WITH m AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, " +
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
        "FROM documents) " +
        "SELECT CASE WHEN n_tokens < 20 THEN 'too_short' WHEN rep > 0.02 THEN 'repetitive' " +
        "WHEN q < 0.85 THEN 'low_quality' ELSE 'kept' END AS reject_reason, CAST(count(*) AS BIGINT) AS n " +
        "FROM m GROUP BY 1 ORDER BY 1"),


    "curation_report" ->
      ("WITH m AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, " +
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
        "FROM documents), " +
        "flag AS (SELECT d.doc_id, d.source, CASE WHEN m.n_tokens < 20 THEN 'too_short' " +
        "WHEN m.rep > 0.02 THEN 'repetitive' WHEN m.q < 0.85 THEN 'low_quality' ELSE 'kept' END AS rr " +
        "FROM documents d JOIN m USING (doc_id)), " +
        "kd AS (SELECT doc_id, text FROM documents WHERE doc_id IN (SELECT doc_id FROM flag WHERE rr = 'kept')), " +
        "tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t FROM kd), " +
        "grams AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 5), " +
        "i -> array_to_string(t[i+1:i+6], ' ')))) AS gram FROM tk WHERE len(t) >= 6), " +
        "keep AS (SELECT gram FROM (SELECT gram, count(*) AS c FROM grams GROUP BY gram) WHERE c BETWEEN 2 AND 100), " +
        "losers AS (SELECT DISTINCT b.doc_id FROM grams a JOIN grams b USING (gram) " +
        "JOIN keep USING (gram) WHERE a.doc_id < b.doc_id) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN rr <> 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_rejected, " +
        "CAST(sum(CASE WHEN rr = 'kept' AND doc_id IN (SELECT doc_id FROM losers) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_removed, " +
        "CAST(sum(CASE WHEN rr = 'kept' AND doc_id NOT IN (SELECT doc_id FROM losers) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept " +
        "FROM flag GROUP BY source ORDER BY source"),


    "quality_gopher_rules" ->
      ("WITH m AS (SELECT doc_id, string_split(text, ' ') AS t, text FROM documents), " +
        "r AS (SELECT doc_id, " +
        "NOT (len(t) BETWEEN 20 AND 100000) AS v_wc, " +
        "NOT (round(CAST(length(text) - (len(t) - 1) AS DOUBLE) / greatest(CAST(len(t) AS DOUBLE), 1.0), 4) BETWEEN 3.0 AND 10.0) AS v_ml, " +
        "round(CAST(len(list_filter(t, w -> contains(w, '#') OR contains(w, '…'))) AS DOUBLE) / greatest(CAST(len(t) AS DOUBLE), 1.0), 4) > 0.1 AS v_sr, " +
        "round(CAST(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / greatest(CAST(len(t) AS DOUBLE), 1.0), 4) < 0.8 AS v_ar, " +
        "len(list_filter(['the','a','of','and','to','in','is','it','that','for'], sw -> list_contains(t, sw))) < 2 AS v_sw " +
        "FROM m) " +
        "SELECT count(*) AS n_docs, " +
        "CAST(sum(CASE WHEN v_wc THEN 1 ELSE 0 END) AS BIGINT) AS n_word_count, " +
        "CAST(sum(CASE WHEN v_ml THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_wordlen, " +
        "CAST(sum(CASE WHEN v_sr THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol_ratio, " +
        "CAST(sum(CASE WHEN v_ar THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_ratio, " +
        "CAST(sum(CASE WHEN v_sw THEN 1 ELSE 0 END) AS BIGINT) AS n_stopwords, " +
        "CAST(sum(CASE WHEN NOT v_wc AND NOT v_ml AND NOT v_sr AND NOT v_ar AND NOT v_sw THEN 1 ELSE 0 END) AS BIGINT) AS n_clean " +
        "FROM r"),


    "text_tfidf" ->
      ("WITH tc AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tc GROUP BY 1, 2), " +
        "dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents), " +
        "s AS (SELECT doc_id, term, tf, df, round(tf * ln(CAST(nn AS DOUBLE) / df), 4) AS tfidf " +
        "FROM tf JOIN dfq USING (term) CROSS JOIN n), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank FROM s) " +
        "SELECT doc_id, term, tf, df, tfidf, CAST(rank AS BIGINT) AS rank " +
        "FROM r WHERE rank <= 5 ORDER BY doc_id, rank"),


    // BM25: identical tf/df/dl/avgdl decomposition; rank by the rounded
    // score then doc_id (the cross-engine-stable order)
    "text_bm25_search" -> Bm25OracleSql,

    "text_bm25_persisted" -> Bm25OracleSql,

    // erase is exact (postings anti-join, df subtraction, closed-form
    // stats), so the erased-index serve replays the SAME BM25 oracle
    // restricted to the retained corpus — the three corpus CTEs (tok, dl,
    // st) each gain the retention predicate
    "text_bm25_erase" -> Bm25OracleSql
      .replace("FROM documents)", "FROM documents WHERE doc_id % 10 <> 3)"),


    // append is exact (postings additive, stats closed-form), so the
    // appended-index serve replays the SAME full-corpus BM25 oracle
    "text_bm25_index_append" -> Bm25OracleSql,


    "vocab_build" ->
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), " +
        "vc AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences FROM tok " +
        "WHERE token <> '' GROUP BY 1 HAVING count(*) >= 5), " +
        "ranked AS (SELECT token, CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS INT) AS token_id, " +
        "n_occurrences FROM vc) " +
        "SELECT token, token_id, n_occurrences FROM ranked WHERE token_id <= 4096 ORDER BY token_id"),


    "vocab_encode" ->
      ("WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents), " +
        "vc AS (SELECT token, count(*) AS c FROM tok WHERE token <> '' GROUP BY 1 HAVING count(*) >= 5), " +
        "ranked AS (SELECT token, CAST(row_number() OVER (ORDER BY c DESC, token) AS INT) AS token_id FROM vc " +
        "QUALIFY token_id <= 4096), " +
        "lists AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents), " +
        "p AS (SELECT doc_id, CAST(unnest(range(len(l))) AS INT) AS pos, l FROM lists), " +
        "e AS (SELECT doc_id, pos, l[pos + 1] AS token FROM p) " +
        "SELECT e.doc_id, e.pos, coalesce(r.token_id, 0) AS token_id " +
        "FROM e LEFT JOIN ranked r USING (token) ORDER BY doc_id, pos"),


    "text_perplexity" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents), " +
        "freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token), " +
        "tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq) " +
        "SELECT doc_id, round(avg(-ln(c / n)), 4) AS nll " +
        "FROM tok JOIN freq USING (token), tot GROUP BY doc_id ORDER BY doc_id"),


    "text_perplexity_bigram" ->
      ("WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
        "pairs AS (SELECT doc_id, t[CAST(i+1 AS INT)] AS w1, t[CAST(i+2 AS INT)] AS w2 FROM " +
        "(SELECT doc_id, t, unnest(range(len(t) - 1)) AS i FROM tok WHERE len(t) >= 2) x), " +
        "bg AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2), " +
        "ctx AS (SELECT w1, sum(c12) AS c1 FROM bg GROUP BY 1), " +
        "uc AS (SELECT token, count(*) AS c FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS token FROM documents) u GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uc) " +
        "SELECT doc_id, round(avg(-ln(" +
        "0.7 * (CAST(coalesce(b.c12, 0) AS DOUBLE) / greatest(CAST(coalesce(x.c1, 0) AS DOUBLE), 1.0)) + " +
        "0.3 * (CAST(coalesce(u.c, 1) AS DOUBLE) / n))), 4) AS nll2 " +
        "FROM pairs p LEFT JOIN bg b USING (w1, w2) LEFT JOIN ctx x USING (w1) " +
        "LEFT JOIN uc u ON u.token = p.w2, tot " +
        "GROUP BY doc_id ORDER BY doc_id"),


    // exact profile: Spark `percentile` and DuckDB `quantile_cont` share
    // the linear-interpolation definition (p·(n−1) rank)
    "corpus_profile_exact" ->
      ("SELECT source, count(*) AS n_docs, " +
        "count(DISTINCT text) AS n_distinct_texts, " +
        "round(quantile_cont(n_chars, 0.5), 4) AS p50_chars, " +
        "round(quantile_cont(n_chars, 0.95), 4) AS p95_chars, " +
        "round(avg(n_chars), 4) AS avg_chars " +
        "FROM documents GROUP BY source ORDER BY source"),


    "text_normalize" ->
      ("SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), " +
        "'[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')) AS norm_text " +
        "FROM documents ORDER BY doc_id"),


    "text_scrub" ->
      ("SELECT doc_id, regexp_replace(regexp_replace(" +
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1 (555) 010-' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now', " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\+?[0-9][0-9()\\s-]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed " +
        "FROM documents ORDER BY doc_id"),


    "pack_chunks" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, n_tokens, CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok FROM t) " +
        "SELECT doc_id, n_tokens, start_tok, CAST(start_tok // 512 AS BIGINT) AS chunk_start, " +
        "CAST((start_tok + n_tokens - 1) // 512 AS BIGINT) AS chunk_end FROM c ORDER BY doc_id"),


    "inference_batches" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
        "r AS (SELECT doc_id, n_tok, row_number() OVER (ORDER BY n_tok, doc_id) AS rk FROM t), " +
        "b AS (SELECT n_tok, CAST((rk - 1) // 32 AS BIGINT) AS batch FROM r) " +
        "SELECT batch, count(*) AS n_docs, min(n_tok) AS min_len, max(n_tok) AS max_len, " +
        "CAST(max(n_tok) * count(*) - sum(n_tok) AS BIGINT) AS padding " +
        "FROM b GROUP BY batch ORDER BY batch"),


    "pack_manifest" ->
      ("WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
        "c AS (SELECT doc_id, n_tokens, CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok FROM t), " +
        "p AS (SELECT doc_id, n_tokens, start_tok, start_tok // 512 AS cs, " +
        "(start_tok + n_tokens - 1) // 512 AS ce FROM c), " +
        "e AS (SELECT doc_id, n_tokens, start_tok, unnest(range(cs, ce + 1)) AS chunk FROM p) " +
        "SELECT CAST(chunk AS BIGINT) AS chunk, doc_id, " +
        "CAST(greatest(start_tok, chunk * 512) - start_tok AS BIGINT) AS doc_from, " +
        "CAST(least(start_tok + n_tokens, (chunk + 1) * 512) - start_tok AS BIGINT) AS doc_to, " +
        "CAST(greatest(start_tok, chunk * 512) - chunk * 512 AS BIGINT) AS chunk_offset " +
        "FROM e ORDER BY chunk, doc_id"),


    "doc_chunks" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
        "e AS (SELECT doc_id, tk, unnest(range(0, greatest(len(tk) - 16 - 1, 0) + 1, 48)) AS s FROM t) " +
        "SELECT doc_id, CAST(s // 48 AS BIGINT) AS chunk_idx, " +
        "array_to_string(tk[s+1:s+64], ' ') AS chunk_text, " +
        "CAST(len(tk[s+1:s+64]) AS BIGINT) AS n_chunk_tokens " +
        "FROM e ORDER BY doc_id, chunk_idx"),


    // replays the prefix routing: first-2-token key (string_split keeps
    // empties exactly like Spark split), group mins/sums, the
    // (n_docs−1)·prefix_len savings formula, top-20 by savings
    "inference_prefix_groups" ->
      ("WITH t AS (SELECT array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ') AS prefix, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS l FROM documents), " +
        "g AS (SELECT prefix, count(*) AS n_docs, least(min(l), 2) AS prefix_len, " +
        "CAST(sum(l) AS BIGINT) AS total_tokens FROM t GROUP BY prefix) " +
        "SELECT prefix, n_docs, CAST(prefix_len AS BIGINT) AS prefix_len, total_tokens, " +
        "CAST((n_docs - 1) * prefix_len AS BIGINT) AS saved_tokens " +
        "FROM g ORDER BY saved_tokens DESC, prefix LIMIT 20"),


    "decontam_grams" ->
      ("WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t FROM documents), " +
        "grams AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 7), " +
        "i -> array_to_string(t[i+1:i+8], ' ')))) AS gram FROM tk WHERE len(t) >= 8), " +
        "bg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 25 = 0) " +
        "SELECT g.doc_id, g.gram FROM grams g JOIN bg USING (gram) ORDER BY doc_id, gram"),


    "corpus_boilerplate" ->
      ("WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t FROM documents), " +
        "grams AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 2), " +
        "i -> array_to_string(t[i+1:i+3], ' ')))) AS gram FROM tk WHERE len(t) >= 3) " +
        "SELECT gram, count(*) AS df FROM grams GROUP BY gram HAVING count(*) >= 2 " +
        "ORDER BY df DESC, gram LIMIT 20"),


    "decontam_hits" ->
      ("WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t FROM documents), " +
        "grams AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 7), " +
        "i -> array_to_string(t[i+1:i+8], ' ')))) AS gram FROM tk WHERE len(t) >= 8), " +
        "bg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 25 = 0) " +
        "SELECT g.doc_id, count(*) AS n_hits FROM grams g JOIN bg USING (gram) " +
        "GROUP BY 1 ORDER BY doc_id"),


    "decontam_corpus" ->
      ("WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t FROM documents), " +
        "grams AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 7), " +
        "i -> array_to_string(t[i+1:i+8], ' ')))) AS gram FROM tk WHERE len(t) >= 8), " +
        "bg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 25 = 0), " +
        "bad AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bg USING (gram)) " +
        "SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY doc_id"),


    "decontam_bloom" ->
      ("WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t FROM documents), " +
        "grams AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 4), " +
        "i -> array_to_string(t[i+1:i+5], ' ')))) AS gram FROM tk WHERE len(t) >= 5), " +
        "bg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0), " +
        "bad AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bg USING (gram)) " +
        "SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY doc_id"),


    "e2e_curation_pipeline" ->
      (CurationOracleCtes +
        "SELECT doc_id, lang, source, n_chars FROM d WHERE rn = 1 ORDER BY doc_id"),


    "decontam_semantic" ->
      ("WITH bench AS (SELECT vec_id + 1000000 AS bench_id, embedding " +
        "FROM embeddings WHERE vec_id % 25 = 0), " +
        "p AS (SELECT e.vec_id, b.bench_id, " +
        "round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) / " +
        "(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) * " +
        "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS cosine " +
        "FROM embeddings e CROSS JOIN bench b), " +
        "f AS (SELECT * FROM p WHERE cosine >= 0.95), " +
        "r AS (SELECT vec_id, bench_id, cosine, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, bench_id) AS rk FROM f) " +
        "SELECT vec_id, bench_id, cosine FROM r WHERE rk = 1 ORDER BY vec_id"),


    "classify_nb_model" ->
      ("WITH tok AS (SELECT lang AS label, unnest(string_split(text, ' ')) AS token " +
        "FROM documents WHERE doc_id % 5 <> 0), " +
        "cnt AS (SELECT label, token, CAST(count(*) AS BIGINT) AS n FROM tok " +
        "WHERE token <> '' GROUP BY 1, 2), " +
        "voc AS (SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v FROM cnt), " +
        "lt AS (SELECT label, CAST(sum(n) AS DOUBLE) AS t FROM cnt GROUP BY 1) " +
        "SELECT label, token, n, round(ln(CAST(n AS DOUBLE) + 1.0) - ln(t + v), 4) AS log_cond " +
        "FROM cnt JOIN lt USING (label), voc WHERE n >= 3 ORDER BY label, token"),


    "classify_nb_predict" ->
      ("WITH tok AS (SELECT lang AS label, unnest(string_split(text, ' ')) AS token " +
        "FROM documents WHERE doc_id % 5 <> 0), " +
        "cnt AS (SELECT label, token, CAST(count(*) AS BIGINT) AS n FROM tok " +
        "WHERE token <> '' GROUP BY 1, 2), " +
        "voc AS (SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v FROM cnt), " +
        "lt AS (SELECT label, CAST(sum(n) AS DOUBLE) AS t FROM cnt GROUP BY 1), " +
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents WHERE doc_id % 5 <> 0), " +
        "dc AS (SELECT lang AS label, CAST(count(*) AS DOUBLE) AS nd FROM documents " +
        "WHERE doc_id % 5 <> 0 GROUP BY 1), " +
        "ls AS (SELECT label, ln(nd / n) AS log_prior, ln(t + v) AS log_denom " +
        "FROM lt JOIN dc USING (label), voc, nn), " +
        "test AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token " +
        "FROM documents WHERE doc_id % 5 = 0), " +
        "test2 AS (SELECT * FROM test WHERE token <> ''), " +
        "nv AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS nv FROM test2 " +
        "WHERE token IN (SELECT DISTINCT token FROM cnt) GROUP BY 1), " +
        "hs AS (SELECT t.doc_id, c.label, sum(ln(CAST(c.n AS DOUBLE) + 1.0)) AS hit " +
        "FROM test2 t JOIN cnt c USING (token) GROUP BY 1, 2), " +
        "frame AS (SELECT d.doc_id, ls.label, " +
        "ls.log_prior + coalesce(hs.hit, 0) - coalesce(nv.nv, 0) * ls.log_denom AS score " +
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d CROSS JOIN ls " +
        "LEFT JOIN hs ON hs.doc_id = d.doc_id AND hs.label = ls.label " +
        "LEFT JOIN nv ON nv.doc_id = d.doc_id), " +
        "r AS (SELECT doc_id, label, round(score, 4) AS score, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY round(score, 4) DESC, label) AS rk FROM frame) " +
        "SELECT doc_id, label AS pred_label, score FROM r WHERE rk = 1 ORDER BY doc_id"),


    "quality_dsir" ->
      ("WITH tk AS (SELECT doc_id, lang, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t FROM documents), " +
        "g AS (SELECT doc_id, lang, unnest(list_transform(range(len(t) - 1), " +
        "i -> array_to_string(t[i+1:i+2], ' '))) AS gram FROM tk WHERE len(t) >= 2), " +
        "b AS (SELECT doc_id, lang, substr(md5(gram), 1, 2) AS bucket FROM g), " +
        "raw AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS rc FROM b GROUP BY 1), " +
        "tgt AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS tc FROM b WHERE lang = 'en' GROUP BY 1), " +
        "tot AS (SELECT (SELECT sum(rc) FROM raw) AS rn, (SELECT COALESCE(sum(tc), 0) FROM tgt) AS tn), " +
        "d AS (SELECT raw.bucket, ln((COALESCE(tc, 0) + 1) / (tn + 256)) - ln((rc + 1) / (rn + 256)) AS delta " +
        "FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot) " +
        "SELECT b.doc_id, round(sum(delta), 4) + 0.0 AS log_w FROM b JOIN d USING (bucket) " +
        "GROUP BY 1 ORDER BY doc_id"),


    "quality_percentile_by_source" ->
      ("WITH m AS (SELECT doc_id, source, " +
        "round((CASE WHEN len(string_split(text, ' ')) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.25 END) * 0.3 + " +
        "(CASE WHEN CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) <= 0.2 THEN 1.0 " +
        "ELSE 1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) END) * 0.2 + " +
        "(CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) >= 0.1 THEN 1.0 " +
        "ELSE CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) * 10.0 END) * 0.3 + " +
        "least(CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) * 5.0, 1.0) * 0.2, 4) AS q " +
        "FROM documents) " +
        "SELECT doc_id, source, q, " +
        "round(percent_rank() OVER (PARTITION BY source ORDER BY q), 4) AS pct " +
        "FROM m ORDER BY doc_id"),


    "text_tokens" ->
      ("SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_subtokens " +
        "FROM documents ORDER BY doc_id"),


    "text_stats" ->
      ("SELECT doc_id, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens, " +
        "CAST(length(text) AS BIGINT) AS n_chars_obs, " +
        "round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS uniq_ratio, " +
        "round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS mean_token_len " +
        "FROM documents ORDER BY doc_id"),


    "text_repetition" ->
      ("SELECT doc_id, round(1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / CAST(len(g) AS DOUBLE), 4) AS rep_ratio FROM (" +
        "SELECT doc_id, CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
        "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
        "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END AS g " +
        "FROM documents) t ORDER BY doc_id"),


    "text_quality" ->
      ("SELECT doc_id, round(" +
        "(CASE WHEN len(string_split(text, ' ')) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.25 END) * 0.3 + " +
        "(CASE WHEN CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) <= 0.2 THEN 1.0 " +
        "ELSE 1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) END) * 0.2 + " +
        "(CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) >= 0.1 THEN 1.0 " +
        "ELSE CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) * 10.0 END) * 0.3 + " +
        "least(CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS DOUBLE) / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) * 5.0, 1.0) * 0.2" +
        ", 4) AS quality FROM documents ORDER BY doc_id"),


    // entropy oracle: lateral-unnest one row per character, then the
    // -Σ p·ln p aggregate; LEFT JOIN keeps zero-length docs at 0.0
    "text_entropy" ->
      ("WITH ch AS (SELECT doc_id, substring(text, CAST(i AS INT), 1) AS ch " +
        "FROM documents, unnest(generate_series(1, len(text))) AS t(i)), " +
        "cc AS (SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c FROM ch GROUP BY 1, 2), " +
        "nn AS (SELECT doc_id, sum(c) AS n FROM cc GROUP BY 1), " +
        "e AS (SELECT cc.doc_id, round(-sum((c / n) * ln(c / n)), 4) AS char_entropy " +
        "FROM cc JOIN nn USING (doc_id) GROUP BY 1) " +
        "SELECT d.doc_id, d.n_chars, coalesce(e.char_entropy, 0.0) AS char_entropy " +
        "FROM documents d LEFT JOIN e USING (doc_id) ORDER BY d.doc_id"),


    "lang_id" ->
      ("WITH scores AS (SELECT doc_id, " +
        "len(list_filter(string_split(text, ' '), t -> list_contains(['der','die','das','und','ist','in','den','von','zu','mit'], t))) AS s_de, " +
        "len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS s_en, " +
        "len(list_filter(string_split(text, ' '), t -> list_contains(['el','la','de','que','y','en','un','los','se','no'], t))) AS s_es, " +
        "len(list_filter(string_split(text, ' '), t -> list_contains(['le','la','de','et','un','les','des','en','du','que'], t))) AS s_fr " +
        "FROM documents) " +
        "SELECT doc_id, CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und' " +
        "WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de' " +
        "WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en' " +
        "WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es' " +
        "ELSE 'fr' END AS lang_pred FROM scores ORDER BY doc_id"),


    // the index-served encode must be byte-identical to the from-scratch
    // path — share bpe_encode's pinned oracle
    "bpe_persisted" -> PinnedOracles.sql("bpe_encode"),

    // index-served ≡ from-scratch: sharing the oracle string states the
    // artifact-parity contract in the driver record itself
    "unigram_persisted" -> PinnedOracles.sql("unigram_encode"),


    // string_agg with an explicit ORDER BY mirrors the in-aggregate struct
    // sort ((ts, event_id) is unique, so the order is total on both sides)
    "conversations_assemble" ->
      ("SELECT user_id, count(*) AS n_turns, min(ts) AS first_ts, max(ts) AS last_ts, " +
        "string_agg(event_type, chr(10) ORDER BY ts, event_id) AS conversation " +
        "FROM events GROUP BY user_id ORDER BY user_id"),


    // replays readability(): same word/sentence/vowel-group proxies —
    // the regexes use only classes and + (identical Java/RE2 semantics)
    "text_readability" ->
      ("WITH m AS (SELECT doc_id, " +
        "CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS DOUBLE) AS w, " +
        "CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE) AS s, " +
        "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) AS y FROM documents) " +
        "SELECT doc_id, CAST(w AS BIGINT) AS n_words, CAST(s AS BIGINT) AS n_sentences, " +
        "CAST(y AS BIGINT) AS n_syllables, " +
        "round(206.835 - 1.015 * (w / s) - 84.6 * (y / greatest(w, 1)), 4) AS flesch, " +
        "round(0.39 * (w / s) + 11.8 * (y / greatest(w, 1)) - 15.59, 4) AS fk_grade " +
        "FROM m ORDER BY doc_id"),
  )
}
