package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** Unigram-LM subword tokenizer (Kudo 2018, "Subword Regularization" —
  * the SentencePiece unigram model; public method). Completes the
  * subword trio: [[Bpe]] replays ranked merges, [[WordPiece]] greedily
  * longest-matches a vocabulary, Unigram segments by VITERBI under a
  * piece log-probability model trained with EM.
  *
  * Training here is the deterministic count-EM variant: seed pieces are
  * substring frequencies of the distinct-word table; each E-step
  * Viterbi-segments every distinct word under the current piece
  * log-probs (weighted by word frequency) and the M-step re-normalizes
  * piece counts into probabilities; after the final round the vocabulary
  * prunes to `maxVocab` by (count desc, piece asc) — single characters
  * are always retained, so every trainable word stays segmentable (the
  * original paper prunes by likelihood loss; count pruning is the
  * deterministic simplification, and changes scores, not the shape).
  * Viterbi ties break toward the LONGER final piece (equal-score
  * AND equal-final-length alternatives resolve by the DP recursion
  * order — deterministic, since the scan order is fixed), so trained
  * models and encodings are pinnable oracle values.
  *
  * Scale shape: the corpus is touched ONCE ([[Bpe.wordCounts]]); every
  * EM pass runs over the DISTINCT-WORD table (vocabulary-sized, not
  * corpus-sized) with the piece model BROADCAST (bounded by `seedSize`,
  * the model-state collect family); piece-count aggregation shuffles
  * (piece, count) pairs only. Encoding is the corpus-scale hot path and
  * lives in the native codegen'd
  * [[graft.functions.UnigramEncodeText]] — zero shuffle.
  */
object Unigram {

  val Unk = "[UNK]"

  /** Viterbi segmentation of one word under a piece → logprob model.
    * Returns null when some position is uncoverable (no piece matches —
    * only possible for characters absent from the model). Ties prefer
    * the longer final piece (deterministic, recomputable anywhere).
    */
  def viterbi(
      word: String,
      logp: java.util.HashMap[String, java.lang.Double],
      maxPieceLen: Int): Array[String] = {
    val n = word.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val bestLen = new Array[Int](n + 1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = 1
      val lMax = math.min(maxPieceLen, i)
      while (l <= lMax) {
        if (best(i - l) != Double.NegativeInfinity) {
          val lp = logp.get(word.substring(i - l, i))
          if (lp != null) {
            val cand = best(i - l) + lp.doubleValue()
            // strict > keeps the LARGEST l seen so far on ties because we
            // scan l ascending — use >= so later (longer) l wins ties
            if (cand >= best(i)) { best(i) = cand; bestLen(i) = l }
          }
        }
        l += 1
      }
      i += 1
    }
    if (best(n) == Double.NegativeInfinity) null
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var p = n
      while (p > 0) { out += word.substring(p - bestLen(p), p); p -= bestLen(p) }
      out.reverseIterator.toArray
    }
  }

  /** Seed piece frequencies: every substring (1..`maxPieceLen` chars) of
    * every distinct word, scored by the summed count of containing words
    * (once per position, the [[WordPiece.buildVocab]] explosion — the
    * candidate table is vocabulary-sized). Single characters are always
    * kept regardless of `minCount` (coverage guarantee); multi-char
    * pieces below `minCount` drop and the top `seedSize` by (freq desc,
    * piece asc) survive.
    */
  def seedVocab(
      words: DataFrame,
      maxPieceLen: Int = 6,
      seedSize: Int = 8192,
      minCount: Long = 2L): DataFrame = {
    require(maxPieceLen >= 1 && seedSize >= 1)
    val cand = words
      .select(col("word"), col("n"),
        explode(sequence(lit(1), length(col("word")))).as("p"))
      .select(col("word"), col("n"), col("p"),
        explode(sequence(lit(1), lit(maxPieceLen))).as("l"))
      .filter(col("p") + col("l") - 1 <= length(col("word")))
      .select(expr("substr(word, p, l)").as("piece"), col("n"))
    cand.groupBy("piece").agg(sum("n").as("freq"))
      .filter(length(col("piece")) === 1 || col("freq") >= minCount)
      .withColumn("__rk",
        row_number().over(Window.orderBy(col("freq").desc, col("piece"))))
      .filter(length(col("piece")) === 1 || col("__rk") <= seedSize)
      .select("piece", "freq")
  }

  /** EM-train the unigram model over a (word, n) frequency table.
    * Returns (piece, piece_id, logprob·6dp) ranked by final count —
    * single characters always retained through the `maxVocab` prune.
    */
  def train(
      words: DataFrame,
      maxPieceLen: Int = 6,
      maxVocab: Int = 2048,
      emRounds: Int = 2,
      seedSize: Int = 8192,
      minCount: Long = 2L): DataFrame = {
    require(emRounds >= 1 && maxVocab >= 1)
    val spark = words.sparkSession
    val sc = spark.sparkContext
    import spark.implicits._

    // seed model: normalized substring frequencies (seedSize-bounded
    // collect — the model-state family, like the BPE merge table)
    var model: Seq[(String, Double)] = {
      val seed = seedVocab(words, maxPieceLen, seedSize, minCount)
        .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toSeq
      val total = seed.map(_._2).sum
      seed.map { case (p, c) => p -> math.log(c / total) }
    }

    val wordDs = words.select(col("word"), col("n").cast("long").as("n"))
      .as[(String, Long)]
    var round = 0
    while (round < emRounds) {
      val bc = sc.broadcast {
        val m = new java.util.HashMap[String, java.lang.Double](model.size * 2)
        model.foreach { case (p, lp) => m.put(p, lp) }
        m
      }
      // E: Viterbi-segment every distinct word in parallel, emit weighted
      // piece counts; M: normalize. Only (piece, count) pairs shuffle.
      val counts = wordDs.flatMap { case (w, n) =>
        val seg = viterbi(w, bc.value, maxPieceLen)
        if (seg == null) Iterator.empty
        else seg.iterator.map(p => (p, n))
      }(Encoders.product[(String, Long)])
        .groupByKey(_._1)(Encoders.STRING)
        .mapValues(_._2)(Encoders.scalaLong)
        .reduceGroups(_ + _)
        .collect() // piece-bounded (<= seedSize rows)
      bc.destroy()
      val total = counts.map(_._2).sum.toDouble
      val used = counts.map { case (p, c) => p -> math.log(c / total) }.toMap
      // zero-count single chars stay at a floor for open-set coverage;
      // zero-count multi-char pieces drop (standard EM pruning)
      val floor = math.log(0.5 / total)
      model = (used.toSeq ++
        model.collect { case (p, _) if p.length == 1 && !used.contains(p) => p -> floor })
        .sortBy(_._1)
      round += 1
    }

    // final prune: top maxVocab by (prob desc, piece asc), chars always in
    val ranked = model.sortBy { case (p, lp) => (-lp, p) }
    val kept = (ranked.take(maxVocab) ++
      ranked.drop(maxVocab).filter(_._1.length == 1))
      .sortBy { case (p, lp) => (-lp, p) }
    kept.zipWithIndex.map { case ((p, lp), i) =>
      (p, i + 1, math.round(lp * 1e6) / 1e6)
    }.toDF("piece", "piece_id", "logprob")
  }

  /** Persist a trained model as a parquet sidecar — the
    * build-once/serve-many artifact family (MinHash, IVF-PQ, BM25, BPE,
    * now Unigram). */
  def writeModel(model: DataFrame, path: String): Unit =
    model.select("piece", "piece_id", "logprob")
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a persisted model ready for
    * [[graft.functions.UnigramFunctions.unigram_encode]]. Bounded driver
    * collect (the piece table IS the model). */
  def readModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, Double)] =
    Parquet.read(spark, path).orderBy("piece_id").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toSeq
}
