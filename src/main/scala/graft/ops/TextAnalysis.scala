package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (north-star surface,
  * BASELINE.json): token counting, quality scoring, language ID,
  * fingerprinting. Everything is built-in Column expressions — no UDFs, so
  * the whole surface stays inside whole-stage codegen and scales linearly
  * with input splits (no shuffle at all for the per-document operators).
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(split(text, " "))

  /** BPE-ish sub-token count: alphanumeric runs and individual
    * non-space punctuation each count as one token (a cheap deterministic
    * approximation of byte-pair tokenizer output size). RE2-compatible
    * pattern (no lookarounds) so the DuckDB oracle computes the identical
    * value.
    */
  val SubTokenPattern = "[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"
  def subTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(SubTokenPattern), lit(0)))

  /** Per-document text statistics block: token/char counts, distinct-token
    * ratio, mean token length. All single-pass, shuffle-free.
    */
  def textStats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val tokens = split(t, " ")
    df.withColumn("n_tokens", size(tokens).cast("bigint"))
      .withColumn("n_uniq_tokens", size(array_distinct(tokens)).cast("bigint"))
      .withColumn("n_chars_obs", length(t).cast("bigint"))
      .withColumn("uniq_ratio",
        round(size(array_distinct(tokens)).cast("double") / size(tokens).cast("double"), 4))
      .withColumn("mean_token_len",
        round((length(t) - (size(tokens) - 1)).cast("double") / size(tokens).cast("double"), 4))
  }

  /** Per-document top-k terms by TF-IDF (raw term frequency ×
    * ln(N / document frequency) — the textbook weighting): the standard
    * keyword/salience signal for corpus exploration and topic-balanced
    * sampling.
    *
    * Scale shape: two partial-aggregated shuffles and one term-keyed join —
    * (1) explode tokens → count per (doc, term); (2) document frequencies
    * fall out of a second aggregate over those ALREADY-UNIQUE (doc, term)
    * rows (never a `countDistinct` over raw tokens); (3) the corpus size N
    * joins in as a broadcast 1-row aggregate, NOT a driver-side collect —
    * the whole plan stays lazy/declarative. Top-k per doc is a bounded
    * window (k rows survive per doc).
    *
    * Determinism across engines: the selection orders by the 4-dp-ROUNDED
    * score (then term) so a 1-ulp `ln` difference between engines cannot
    * reorder near-ties; the reported score is the same rounded value.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val termCounts = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val docFreq = termCounts.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("__n"))
    val scored = termCounts
      .join(docFreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf").cast("double") *
          log(col("__n").cast("double") / col("df").cast("double")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("tfidf").desc, col("term").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rank").cast("bigint").as("rank"))
  }

  /** BM25 keyword retrieval (Robertson–Spärck Jones probabilistic
    * ranking, the Okapi BM25 form): top-k documents per query, where a
    * query is a bag of terms and a document's score is
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with
    * idf = ln(1 + (N−df+0.5)/(df+0.5)). The keyword complement of the
    * embedding-based retrieval join (`doc_retrieval`).
    *
    * Scale: the corpus explodes ONCE and is semi-joined against the
    * (broadcast) query vocabulary BEFORE its one shuffle — only postings
    * of query terms ever leave the map side; doc length rides along with
    * the posting rows, so no second corpus join. df/N/avgdl are
    * vocabulary- and 1-row-sized aggregates, broadcast back. Top-k per
    * query is a window over candidate docs only.
    *
    * Determinism across engines: ranking orders by the 4-dp-ROUNDED score
    * (then doc id) — same convention as [[tfidfTopTerms]].
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      qIdCol: String,
      qTermCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(k1 > 0 && b >= 0 && b <= 1, s"bad BM25 params: k1=$k1 b=$b")
    val toks = split(col(textCol), " ")
    val qTerms = queries.select(col(qTermCol).as("term")).distinct()
    val tf = docs
      .select(col(idCol), size(toks).cast("double").as("__dl"),
        explode(toks).as("term"))
      .join(broadcast(qTerms), Seq("term"), "left_semi")
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"), first(col("__dl")).as("dl"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val stats = docs.agg(count(lit(1)).cast("double").as("__n"),
      avg(size(toks)).as("__avgdl"))
    val scored = tf
      .join(broadcast(docFreq), Seq("term"))
      .join(broadcast(queries.select(col(qIdCol).as("q_id"), col(qTermCol).as("term"))),
        Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("__sc",
        col("__idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
      .groupBy(col("q_id"), col(idCol))
      .agg(round(sum(col("__sc")), 4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("score").desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("bigint").as("rank"),
        col(idCol), col("score"))
  }

  /** Unigram language-model token frequencies trained on a corpus: one
    * (token, c) row per distinct space-separated token. The model for
    * [[nllScore]] — the CCNet-style "perplexity filter" signal (public
    * practice scores web text against a reference LM and drops the
    * worst tail; a unigram model is its cheapest deterministic form).
    * One explode + ONE count shuffle over tokens; vocab-sized output.
    */
  def unigramModel(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))

  /** Mean per-token negative log-likelihood of each document under a
    * unigram `model` (from [[unigramModel]], possibly trained on a
    * DIFFERENT reference corpus): lower = more like the reference.
    * Out-of-vocabulary tokens score as count `oovCount` (default 1 —
    * add-one floor) so scoring a new batch against a frozen model is
    * total. Perplexity is `exp(nll)` if wanted; the monotone nll is
    * returned to keep the oracle in exact-roundable arithmetic.
    *
    * Scale: explode is map-side; the token→model join hash-shuffles
    * tokens UNLESS the vocab broadcasts (it usually does — vocab grows
    * sublinearly in corpus size), which also removes the stopword-skew
    * hot keys; one final per-doc agg. Nothing driver-side.
    */
  def nllScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame,
      oovCount: Long = 1L): DataFrame = {
    val n = model.agg(sum("c").cast("double").as("__n"))
    df.select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .join(model, Seq("token"), "left")
      .crossJoin(broadcast(n))
      .withColumn("__nll",
        -log(coalesce(col("c"), lit(oovCount)).cast("double") / col("__n")))
      .groupBy(idCol)
      .agg(round(avg("__nll"), 4).as("nll"))
  }

  /** Bigram language model trained on a corpus: one (w1, w2, c12) row per
    * distinct adjacent space-separated token pair. Pair generation is one
    * map-side zip of the token array with its own tail (no self-join);
    * ONE count shuffle keyed by the pair; bigram-vocab-sized output.
    * Single-token documents contribute nothing.
    */
  def bigramModel(df: DataFrame, textCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    val m = greatest(size(toks) - 1, lit(0))
    df.select(explode(zip_with(
        slice(toks, lit(1), m), slice(toks, lit(2), m),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
  }

  /** Interpolated-bigram NLL (the step up from [[nllScore]] toward the
    * CCNet 5-gram reference filter): each adjacent pair scores
    * `-ln(λ·P(w2|w1) + (1−λ)·P(w2))` where `P(w2|w1) = c12/c1` uses the
    * bigram model's own context totals (`c1 = Σ_w c(w1,w)`) and `P(w2)`
    * backs off to the unigram model; a document's score is the mean over
    * its pairs. The unigram floor keeps scoring total when the models
    * are FROZEN reference models (OOV pairs back off; fully-OOV tokens
    * take the add-one unigram floor). Documents with fewer than two
    * tokens have no pairs and are absent from the output.
    *
    * Scale: pair explode is map-side; three model joins (bigram, context,
    * unigram) hash-shuffle pairs unless the models broadcast (they
    * usually do — model size grows sublinearly in corpus size); one
    * per-doc agg. Nothing driver-side.
    */
  def bigramNllScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bigrams: DataFrame,
      unigrams: DataFrame,
      lambda: Double = 0.7): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1]: $lambda")
    val ctx = bigrams.groupBy("w1").agg(sum("c12").as("c1"))
    val n = unigrams.agg(sum("c").cast("double").as("__n"))
    val toks = split(col(textCol), " ")
    val m = greatest(size(toks) - 1, lit(0))
    val pairs = df.select(col(idCol), explode(zip_with(
        slice(toks, lit(1), m), slice(toks, lit(2), m),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    pairs
      .join(bigrams, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(unigrams.select(col("token").as("w2"), col("c")), Seq("w2"), "left")
      .crossJoin(broadcast(n))
      .withColumn("__p",
        lit(lambda) * (coalesce(col("c12"), lit(0L)).cast("double") /
          greatest(coalesce(col("c1"), lit(0L)).cast("double"), lit(1.0))) +
        lit(1.0 - lambda) * (coalesce(col("c"), lit(1L)).cast("double") / col("__n")))
      .withColumn("__nll", -log(col("__p")))
      .groupBy(idCol)
      .agg(round(avg("__nll"), 4).as("nll2"))
  }

  /** Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken, SIGMOD
    * 2003 — the MOSS local-fingerprinting algorithm): hash every word
    * k-gram (native [[graft.functions.ShingleHash]]), slide a window of
    * `window` consecutive gram hashes, keep each window's MINIMUM, and
    * distinct the kept values. The winnowing guarantee: two documents
    * sharing a verbatim run of at least `window + k - 1` tokens share at
    * least one fingerprint, at a selection density of ~2/(window+1) —
    * position-robust where [[fingerprint]]'s whole-document hash is not.
    * Expression-only and shuffle-free — the selection is the native
    * codegen'd [[graft.functions.WinnowSelect]] (one pass, no per-window
    * allocation; the HOF reference form [[winnowFingerprintsHof]] is the
    * bit-equality cross-check in TextAnalysisSpec). Documents shorter
    * than k tokens fingerprint their whole text (the
    * [[graft.ops.Dedup.shingleHashes]] convention).
    */
  def winnowFingerprints(text: Column, k: Int = 4, window: Int = 5): Column = {
    require(k >= 1, s"k must be >= 1: $k")
    require(window >= 1, s"window must be >= 1: $window")
    graft.functions.TextFunctions.winnow_select(
      graft.functions.TextFunctions.shingle_hash(split(text, " "), k), window)
  }

  /** Interpreted-HOF reference formulation of [[winnowFingerprints]] —
    * kept as the cross-check oracle for the native expression (they must
    * agree exactly; see TextAnalysisSpec).
    */
  def winnowFingerprintsHof(text: Column, k: Int = 4, window: Int = 5): Column = {
    val grams = graft.functions.TextFunctions.shingle_hash(split(text, " "), k)
    array_distinct(transform(
      sequence(lit(0), greatest(size(grams) - window, lit(0))),
      i => array_min(slice(grams, i + 1, lit(window)))))
  }

  /** Quality score in [0,1]: composite of length band, punctuation ratio,
    * stopword presence, and token diversity — the standard cheap pre-filter
    * heuristics for web-scale corpora (cf. C4/Gopher-style rules, public
    * literature). Deterministic, expression-only.
    */
  def qualityScore(text: Column): Column =
    qualityScoreOf(text, split(text, " "))

  /** [[qualityScore]] against a CALLER-SUPPLIED token array — the
    * shared-subexpression form [[qualityFilter]] uses so one `split` per
    * row feeds every cascade branch (CASE-branch subexpressions are
    * excluded from codegen CSE, so without the shared column each branch
    * re-split the text; the ×100 probe measured the cascade costing more
    * than the sum of its legs from exactly that — BASELINE.md §r17). The
    * punctuation leg is the native byte-scan
    * [[graft.functions.NonAlnumSpaceCount]], value-identical to the old
    * `length(regexp_replace(text, "[a-zA-Z0-9 ]", ""))`.
    */
  private def qualityScoreOf(text: Column, tokens: Column): Column = {
    val nTok = size(tokens).cast("double")
    val nonAlnum =
      graft.functions.TextFunctions.non_alnum_space_count(text).cast("double")
    val punctRatio = nonAlnum / greatest(length(text).cast("double"), lit(1.0))
    val uniqRatio = size(array_distinct(tokens)).cast("double") / greatest(nTok, lit(1.0))
    val stopHits =
      graft.functions.TextFunctions.stopword_count(tokens, StopwordsEn).cast("double")
    val stopRatio = stopHits / greatest(nTok, lit(1.0))
    val lengthOk = when(nTok.between(10, 100000), lit(1.0)).otherwise(lit(0.25))
    val punctOk = when(punctRatio <= 0.2, lit(1.0)).otherwise(lit(1.0) - punctRatio)
    val diversityOk = when(uniqRatio >= 0.1, lit(1.0)).otherwise(uniqRatio * 10.0)
    val stopOk = least(stopRatio * lit(5.0), lit(1.0))
    round((lengthOk * 0.3 + punctOk * 0.2 + diversityOk * 0.3 + stopOk * 0.2), 4)
  }

  /** Composed corpus quality filter (the C4/Gopher-style rule cascade):
    * tag every document with the FIRST rule it fails — length floor, then
    * within-doc repetition ceiling, then composite quality floor — or
    * 'kept'. Returning the reason (instead of silently dropping) is what
    * real pipelines need: per-rule rejection rates are the primary
    * data-quality dashboard, and audits need the rejected rows.
    * Thresholds compare the same 4-dp-rounded values the individual metric
    * queries report, so the decision is reproducible cross-engine.
    * Expression-only: one map-side pass, no shuffle.
    */
  def qualityFilter(
      df: DataFrame,
      textCol: String,
      minTokens: Int,
      maxRepetition: Double,
      minQuality: Double): DataFrame = {
    val t = col(textCol)
    require(!df.columns.contains("__graft_toks"),
      "input already has the internal column __graft_toks")
    // the token array is projected ONCE and shared by every branch:
    // CASE-branch subexpressions are excluded from codegen CSE, so the
    // inline form re-split the text per branch (measured at ×100 as the
    // cascade costing more than the sum of its legs; BASELINE.md §r17)
    df.withColumn("__graft_toks", split(t, " "))
      .withColumn("reject_reason",
        when(size(col("__graft_toks")) < minTokens, lit("too_short"))
          .when(repetitionRatioOf(col("__graft_toks"), 3) > maxRepetition,
            lit("repetitive"))
          .when(qualityScoreOf(t, col("__graft_toks")) < minQuality,
            lit("low_quality"))
          .otherwise(lit("kept")))
      .drop("__graft_toks")
  }

  /** Per-source quality-score percentile calibration: each document's
    * [[qualityScore]] re-expressed as its percent_rank WITHIN its source
    * — the standard fix for heterogeneous corpora where one absolute
    * quality threshold over-prunes clean sources and under-prunes noisy
    * ones (public practice: per-domain quantile cuts in C4/RefinedWeb
    * descendants). A downstream `pct >= cut` filter then keeps the same
    * top fraction of EVERY source.
    *
    * Output: (idCol, srcCol, q, pct) — q is the 4-dp-rounded score,
    * pct its percent_rank in the source (ties share a rank; ranking on
    * the ROUNDED score makes tie groups identical cross-engine).
    *
    * Scale shape: score is expression-only map-side; the rank is
    * [[Sampling.rankInStratum]]'s bucketed two-level prefix sum over
    * (q, id) — no window partition ever spans a whole source, so one
    * giant source percentiles in parallel across range buckets (the old
    * `Window.partitionBy(source)` form pushed every row of a source
    * through ONE task). percent_rank decomposes exactly:
    * `rank() = min(row_number)` over the tie group (a hash aggregate on
    * (source, q) + a (source, q)-keyed join back — AQE splits a skewed
    * tie group), and the denominator `N - 1` rides a broadcast
    * source-count aggregate. Only id+score wide, never text.
    */
  def qualityPercentileBySource(
      df: DataFrame,
      idCol: String,
      textCol: String,
      srcCol: String): DataFrame = {
    val base = df.select(col(idCol), col(srcCol), qualityScore(col(textCol)).as("q"))
    // total-order row number per source (id tiebreak), distributed
    val rn = Sampling.rankInStratum(base, col(srcCol), 0, col("q"), col(idCol))
    // rank() = min row_number within the (source, q) tie group — ties
    // share a rank, identical to percent_rank's numerator
    val tieRank = rn.groupBy(col(srcCol).as("__ts"), col("q").as("__tq"))
      .agg(min(col("stratum_rank")).as("__rank"))
    val counts = base.groupBy(col(srcCol).as("__cs"))
      .agg(count(lit(1)).as("__n"))
    rn.join(tieRank, col(srcCol) === col("__ts") && col("q") === col("__tq"))
      .join(broadcast(counts), col(srcCol) === col("__cs"))
      .withColumn("pct",
        round(when(col("__n") > 1,
          (col("__rank") - 1).cast("double") / (col("__n") - 1).cast("double"))
          .otherwise(lit(0.0)), 4))
      .select(col(idCol), col(srcCol), col("q"), col("pct"))
  }

  /** Gopher-style quality rule panel (Rae et al. 2021, §A1.1 — the
    * publicly documented web-text filter rules, thresholds
    * parameterized): one boolean column per rule, TRUE = violation.
    *
    *   - `viol_word_count`   — token count outside [minWords, maxWords]
    *   - `viol_mean_wordlen` — mean token length outside [3, 10]
    *   - `viol_symbol_ratio` — '#'/'…' symbol-to-token ratio > 0.1
    *   - `viol_alpha_ratio`  — fraction of tokens containing a letter
    *                           < minAlphaRatio
    *   - `viol_stopwords`    — fewer than 2 DISTINCT core stopwords
    *
    * All rules compare 4-dp-rounded ratios (cross-engine reproducible);
    * expression-only, one map-side pass, no shuffle. Compose with a
    * filter on `!viol_*` to drop, or aggregate the booleans for the
    * per-rule violation-rate dashboard (`quality_gopher_rules`).
    */
  def gopherRules(
      df: DataFrame,
      textCol: String,
      minWords: Int = 20,
      maxWords: Int = 100000,
      minAlphaRatio: Double = 0.8,
      coreStopwords: Seq[String] = GopherStopwords): DataFrame = {
    val t = col(textCol)
    val tokens = split(t, " ")
    val nTok = size(tokens).cast("double")
    val meanLen =
      round((length(t) - (size(tokens) - 1)).cast("double") / greatest(nTok, lit(1.0)), 4)
    val symbolCount = size(filter(tokens, w => w.contains("#") || w.contains("…")))
    val alphaCount = size(filter(tokens, w => w.rlike("[A-Za-z]")))
    // filter the (tiny) stopword list against the tokens — each stopword
    // counted once, a formulation both engines evaluate identically
    val distinctStops = size(filter(array(coreStopwords.map(lit): _*),
      sw => array_contains(tokens, sw)))
    df.withColumn("viol_word_count", !size(tokens).between(minWords, maxWords))
      .withColumn("viol_mean_wordlen", !meanLen.between(3.0, 10.0))
      .withColumn("viol_symbol_ratio",
        round(symbolCount.cast("double") / greatest(nTok, lit(1.0)), 4) > 0.1)
      .withColumn("viol_alpha_ratio",
        round(alphaCount.cast("double") / greatest(nTok, lit(1.0)), 4) < minAlphaRatio)
      .withColumn("viol_stopwords", distinctStops < 2)
  }

  /** The Gopher paper’s own "must contain 2 of" stopword list (Rae et
    * al. 2021 §A1.1) — the [[gopherRules]] default; corpora in other
    * domains/languages pass their own list.
    */
  val GopherStopwords = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  // Tiny public stopword lists (frequency-top function words; public
  // knowledge). Used for quality scoring and the language-ID heuristic.
  val StopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
  val StopwordsEs = Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no")
  val StopwordsFr = Seq("le", "la", "de", "et", "un", "les", "des", "en", "du", "que")
  val StopwordsDe = Seq("der", "die", "das", "und", "ist", "in", "den", "von", "zu", "mit")

  /** Text normalization for dedup/canonicalization pipelines: lowercase,
    * strip non-alphanumerics to spaces, collapse whitespace, trim.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9]+", " "), " +", " "))

  /** PII scrubbing for training corpora: replace e-mail addresses, then
    * phone-number-shaped digit runs, with typed placeholder tokens. The
    * patterns are deliberately RE2-safe (no lookarounds, no backrefs) so
    * the exact same regexes run under Java regex and RE2-class engines —
    * scrub order is fixed (e-mail first, so a phone-like digit run inside
    * an address never half-matches). Pure per-row expression: at any scale
    * this is map-side work fused into the document scan.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][0-9()\\s-]{6,}[0-9]"

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Within-document 3-gram repetition ratio (Gopher-style repetition
    * signal): 1 − |distinct 3-grams| / |3-grams|. 0 = no repetition.
    */
  def repetitionRatio(text: Column, k: Int = 3): Column =
    repetitionRatioOf(split(text, " "), k)

  /** [[repetitionRatio]] against a caller-supplied token array (the
    * [[qualityFilter]] shared-subexpression form).
    */
  private def repetitionRatioOf(tokens: Column, k: Int): Column = {
    val grams = graft.functions.TextFunctions.shingle_hash(tokens, k)
    round(lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams).cast("double"), 4)
  }

  /** The four (code → list) pairs, sorted by code — the [[langId]] scoring
    * table and its tie-break order.
    */
  val LangTable: Seq[(String, Seq[String])] = Seq(
    "de" -> StopwordsDe,
    "en" -> StopwordsEn,
    "es" -> StopwordsEs,
    "fr" -> StopwordsFr)

  /** Language-ID heuristic: score = stopword hits per language; winner by
    * max score with deterministic alphabetical tie-break; 'und'
    * (undetermined) when no list scores at all. A real system uses
    * char-n-gram models; the Spark-side shape (per-doc expression-only
    * scoring, no shuffle) is identical.
    *
    * Native single-pass codegen'd expression
    * ([[graft.functions.LangIdExpr]]); [[langIdHof]] is the composed-Column
    * reference form it must agree with (cross-checked in TextAnalysisSpec).
    */
  def langId(text: Column): Column =
    graft.functions.TextFunctions.lang_id(split(text, " "), LangTable)

  /** Composed-Column reference formulation of [[langId]] — 4 languages × 2
    * interpreted `filter`-HOF evaluations per document; kept ONLY as the
    * semantic cross-check oracle for the native expression.
    */
  def langIdHof(text: Column): Column = {
    def hofHits(words: Seq[String]): Column =
      size(filter(split(text, " "), t => t.isin(words.map(lit): _*)))
    val scores = LangTable.map { case (name, words) => name -> hofHits(words) }
    val best = greatest(scores.map(_._2): _*)
    // alphabetical order of the seq gives the deterministic tie-break
    scores.foldRight(lit("und")) { case ((langName, score), elseCol) =>
      when(best > 0 && score === best, lit(langName)).otherwise(elseCol)
    }
  }

  /** [[langId]] with its CONFIDENCE exposed: a struct (lang_pred,
    * confidence) where confidence = winning-language stopword hits /
    * total stopword hits across all languages (rounded 4 dp; 0.0 for
    * 'und' documents with no hits at all). The score every calibration
    * audit of the language gate consumes ([[Calibration.reliability]]) —
    * the same hit counts as [[langIdHof]], so a DuckDB oracle replays it
    * with the same list_filter counts.
    */
  def langIdScored(text: Column): Column = {
    def hofHits(words: Seq[String]): Column =
      size(filter(split(text, " "), t => t.isin(words.map(lit): _*)))
    val scores = LangTable.map { case (name, words) => name -> hofHits(words) }
    val best = greatest(scores.map(_._2): _*)
    val total = scores.map(_._2).reduce(_ + _)
    val pred = scores.foldRight(lit("und")) { case ((langName, score), elseCol) =>
      when(best > 0 && score === best, lit(langName)).otherwise(elseCol)
    }
    struct(pred.as("lang_pred"),
      when(total > 0, round(best.cast("double") / total, 4))
        .otherwise(lit(0.0)).as("confidence"))
  }

  /** Order-sensitive document fingerprint: left-fold hash chain over the
    * token sequence (`acc_{i+1} = xxhash64(acc_i, token_i)`). Two documents
    * with the same tokens in different order fingerprint differently —
    * complements order-insensitive MinHash. Hash-chaining instead of a
    * polynomial rolling hash because Spark 4's ANSI mode makes wrapping
    * 64-bit multiply an error.
    */
  def fingerprint(textColName: String): Column = expr(
    s"""
    aggregate(
      split($textColName, ' '),
      cast(0 as bigint),
      (acc, t) -> xxhash64(acc, t))
    """)

  /** Frequency-ranked vocabulary over a corpus: tokens occurring at least
    * `minCount` times, ids 1..maxVocab assigned by (count desc, token asc)
    * — id 0 is reserved for out-of-vocabulary. The tokenizer-training step
    * of an LLM data pipeline (word-level stand-in for BPE merges).
    *
    * Scale: the corpus sees exactly ONE shuffle (token count aggregate,
    * map-side partial). The ranking window is global-ordered and therefore
    * single-partition — but it runs over the POST-minCount vocabulary, not
    * the corpus: bounded by the distinct-token count above threshold
    * (≈ 10^6-10^7 even at 100 TB, Heaps' law), which one task sorts in
    * memory. Empty tokens (split artifacts) are dropped.
    */
  def buildVocab(
      df: DataFrame,
      textCol: String,
      minCount: Long,
      maxVocab: Int): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    require(maxVocab >= 1, s"maxVocab must be >= 1: $maxVocab")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("token"))
    df.select(explode(split(coalesce(col(textCol), lit("")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)
      .withColumn("token_id", row_number().over(w))
      .filter(col("token_id") <= maxVocab)
      .select("token", "token_id", "n_occurrences")
  }

  /** Token-id encoding of a corpus against a [[buildVocab]] vocabulary:
    * one output row per token position `(id, pos, token_id)`, OOV → 0.
    * The exploded (rather than array-valued) shape keeps the operator
    * join-only: positions come from `posexplode`, ids from a BROADCAST
    * left join against the bounded vocabulary — the corpus is never
    * shuffled and never aggregated. Downstream packing
    * ([[Packing.packChunks]]) re-assembles sequences when arrays are
    * needed.
    */
  def encodeTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame): DataFrame =
    df.select(col(idCol),
        posexplode(split(coalesce(col(textCol), lit("")), " ")).as(Seq("pos", "token")))
      .join(broadcast(vocab.select("token", "token_id")), Seq("token"), "left")
      .select(col(idCol), col("pos"),
        coalesce(col("token_id"), lit(0)).as("token_id"))

  /** Compressibility quality signal: per-document DEFLATE ratio
    * (compressed ÷ raw UTF-8 bytes). Highly repetitive/boilerplate text
    * compresses far below normal prose, and random noise compresses above
    * it — the compression-ratio filter of the CCNet/Gopher-family quality
    * panels (Rae et al. 2021 repetition analyses; public method).
    *
    * mapPartitions with ONE reused `java.util.zip.Deflater` per partition
    * (the [[Multimodal.decodeFeatures]] decoder-state pattern — per-row
    * allocation of native zlib state is the naive cost here). Map-side
    * only, no shuffle. Deterministic for a fixed zlib/JVM build (pinned
    * at sf0.01; the ORDERING property — repetitive < prose < random — is
    * the spec's cross-check and is build-independent).
    *
    * Returns (id, n_bytes, deflate_bytes, compress_ratio·4dp); NULL text
    * → 0 bytes, ratio NULL.
    */
  def compressionRatio(
      df: DataFrame,
      idCol: String,
      textCol: String,
      level: Int = 6): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val outSchema = StructType(df.select(idCol).schema.fields ++ Seq(
      StructField("n_bytes", LongType),
      StructField("deflate_bytes", LongType),
      StructField("compress_ratio", DoubleType)))
    val idIdx = df.schema.fieldIndex(idCol)
    val txtIdx = df.schema.fieldIndex(textCol)
    df.mapPartitions { rows =>
      val deflater = new java.util.zip.Deflater(level)
      // native zlib state is off-heap: without an explicit end() it is
      // only reclaimed at finalization, and a long-lived executor running
      // many tasks accumulates it — release at task completion
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
      val buf = new Array[Byte](1 << 16)
      rows.map { r =>
        val id = r.get(idIdx)
        if (r.isNullAt(txtIdx)) Row(id, 0L, 0L, null)
        else {
          val bytes = r.getString(txtIdx).getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(bytes)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          val ratio =
            if (bytes.length == 0) null
            else java.lang.Double.valueOf(
              math.round(n.toDouble / bytes.length * 10000).toDouble / 10000)
          Row(id, bytes.length.toLong, n, ratio)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Zipf power-law fit over the corpus term-frequency distribution — the
    * one-row corpus-health gate: natural text follows `freq ∝ rank^s`
    * with s ≈ −1 (Zipf 1949), and a corpus whose fitted slope or r²
    * drifts from that is flagging boilerplate flooding, template spam, or
    * a broken extraction pipeline long before per-document quality scores
    * move. Fits ordinary least squares on (ln rank, ln freq) over the
    * `topN` most frequent terms and returns
    * `(n_terms, slope, intercept, r2)`.
    *
    * Scale: term counting is one hash aggregate with map-side combine;
    * the top-N cut is `orderBy(…).limit(topN)` — Spark's TakeOrdered
    * keeps only N rows per partition and never sorts the full vocabulary
    * — and the rank window + regression aggregates then run on the
    * N-row frame (bounded, the vocab-sized-window convention). Ties at
    * the cut break on the term string, so the selected set is
    * deterministic in any engine with the same total order.
    */
  def zipfFit(
      df: DataFrame,
      textCol: String,
      topN: Int = 1000): DataFrame = {
    require(topN >= 2, s"topN must be >= 2 for a regression: $topN")
    val top = df
      .select(explode(split(coalesce(col(textCol), lit("")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(topN)
    val w = Window.orderBy(col("freq").desc, col("token"))
    top.withColumn("__rank", row_number().over(w).cast("double"))
      .agg(
        count(lit(1)).as("n_terms"),
        regr_slope(log(col("freq")), log(col("__rank"))).as("slope"),
        regr_intercept(log(col("freq")), log(col("__rank"))).as("intercept"),
        regr_r2(log(col("freq")), log(col("__rank"))).as("r2"))
  }

  /** Flesch reading-ease and Flesch–Kincaid grade per document (Flesch
    * 1948; Kincaid et al. 1975) with the standard automated proxies:
    * words = non-empty whitespace tokens, sentences = runs of `.!?`
    * (min 1), syllables = vowel-group runs `[aeiouy]+` in the lowercased
    * text (vowel runs cannot cross a space, so the per-word and
    * whole-text counts agree). A quality-filter feature beside
    * [[corpusQuality]]: readability scoring is the classic curation
    * signal the Gopher/C4 rule sets cite.
    *
    * Per-row codegen'd built-ins only (regexp_count / size / filter —
    * no UDF, no shuffle): the plan is a projection over the corpus scan.
    */
  def readability(text: Column): Seq[Column] = {
    val words = size(filter(split(text, " "), t => t =!= lit("")))
      .cast("double")
    // denominator guard: an empty/whitespace-only document has 0 words,
    // and an unguarded syllables/words would go NaN (Spark) vs a
    // divide-by-zero NULL/error (DuckDB) — engines diverge on the
    // degenerate row. greatest(·,1) mirrors the sentences guard and the
    // oracle applies the identical clamp.
    val wordsSafe = greatest(words, lit(1.0))
    val sentences = greatest(regexp_count(text, lit("[.!?]+")), lit(1))
      .cast("double")
    val syllables = regexp_count(lower(text), lit("[aeiouy]+")).cast("double")
    val flesch =
      lit(206.835) - lit(1.015) * (words / sentences) -
        lit(84.6) * (syllables / wordsSafe)
    val grade =
      lit(0.39) * (words / sentences) + lit(11.8) * (syllables / wordsSafe) -
        lit(15.59)
    Seq(words.cast("long").as("n_words"),
      sentences.cast("long").as("n_sentences"),
      syllables.cast("long").as("n_syllables"),
      round(flesch, 4).as("flesch"),
      round(grade, 4).as("fk_grade"))
  }
}
