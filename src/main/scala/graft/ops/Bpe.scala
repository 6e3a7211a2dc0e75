package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** Byte-pair-encoding tokenizer TRAINING (Sennrich, Haddow & Birch, ACL
  * 2016 — the standard subword vocabulary algorithm of the GPT/Llama
  * tokenizer family; public method). Complements [[TextAnalysis.buildVocab]]
  * (word-level) with the subword model a real LLM pipeline trains.
  *
  * Two-stage shape, sized for 100 TB:
  *
  *  1. [[wordCounts]] — the ONLY corpus-scale pass: tokenize + one
  *     groupBy(word) shuffle with map-side partial aggregation. Output is
  *     the distinct-word frequency table, which is vocabulary-sized
  *     (millions–hundreds of millions of rows) regardless of corpus bytes.
  *  2. [[train]] — the iterative merge loop runs on that aggregated table
  *     only; the corpus is never touched again. Below `collectThreshold`
  *     distinct words the loop runs on the driver (the in-memory shape every
  *     production BPE trainer uses once counts are aggregated); above it,
  *     the SAME algorithm runs as Spark jobs — per iteration one
  *     vocabulary-sized pair-count aggregation and a single-row argmax
  *     collect (the algorithm's inherent sequential dependency), with
  *     lineage truncated by `localCheckpoint` every `checkpointEvery`
  *     merges so the plan stays flat across hundreds of iterations.
  *
  * Both paths are bit-identical (same greedy left-to-right merge, same
  * count-desc/lhs-asc/rhs-asc tie-break — asserted against each other in
  * BpeSpec), so the threshold is purely a latency knob.
  *
  * Encoding with the trained merges is the corpus-scale hot path and lives
  * in the native codegen'd expression [[graft.functions.BpeEncodeText]].
  */
object Bpe {

  /** Learned merge rule: at step `rank`, adjacent symbol pair (lhs, rhs)
    * was most frequent and fused into the new symbol `lhs + rhs`. */
  case class Merge(rank: Int, lhs: String, rhs: String)

  /** End-of-word sentinel (Sennrich's `</w>`): makes word-final subwords
    * distinct symbols so decoding can re-insert word boundaries. */
  val EndOfWord = "</w>"

  /** Distinct-word frequency table of a corpus: (word, n), one shuffle.
    * Tokens are single-space splits — the repo-wide tokenizer contract. */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Initial symbol sequence of a word: its characters, plus the
    * end-of-word sentinel when `endOfWord` is non-empty. */
  private def initSymbols(word: Column, endOfWord: String): Column = {
    val chars = filter(split(word, ""), c => length(c) > 0)
    if (endOfWord.isEmpty) chars else concat(chars, array(lit(endOfWord)))
  }

  /** One greedy left-to-right merge application as a fold: the pair fuses
    * wherever the accumulator's last symbol is `lhs` and the next is `rhs`
    * (non-overlapping by construction — a fused symbol is `lhs+rhs`, never
    * `lhs`). Equivalent to the driver path's index scan. */
  private def applyMergeHof(symbols: Column, lhs: String, rhs: String): Column =
    aggregate(symbols, typedLit(Seq.empty[String]), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(lhs) && x === lit(rhs),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(lhs + rhs))))
        .otherwise(concat(acc, array(x))))

  /** Greedy left-to-right merge application, driver form. */
  private[ops] def applyMerge(s: Array[String], lhs: String, rhs: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == lhs && s(i + 1) == rhs) {
        out += lhs + rhs; i += 2
      } else { out += s(i); i += 1 }
    }
    out.toArray
  }

  /** `true` iff (cntA, lhsA, rhsA) beats b under the deterministic
    * selection order: count DESC, then lhs ASC, rhs ASC. */
  private def beats(a: (String, String, Long), b: (String, String, Long)): Boolean =
    a._3 > b._3 || (a._3 == b._3 &&
      (a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)))

  /** Train `numMerges` BPE merges on a (word, n) frequency table. Stops
    * early when no adjacent pair reaches `minCount`. See object doc for
    * the driver/distributed split; results are path-independent.
    */
  def train(
      words: DataFrame,
      numMerges: Int,
      minCount: Long = 2,
      endOfWord: String = EndOfWord,
      collectThreshold: Long = 2000000,
      checkpointEvery: Int = 4): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be >= 1: $numMerges")
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val init = words.select(initSymbols(col("word"), endOfWord).as("symbols"),
      col("n").cast("long").as("n"))
    if (words.limit((collectThreshold + 1).toInt).count() <= collectThreshold)
      trainDriver(init, numMerges, minCount)
    else trainDistributed(init, numMerges, minCount, checkpointEvery)
  }

  private def trainDriver(
      init: DataFrame, numMerges: Int, minCount: Long): Seq[Merge] = {
    var syms = init.collect().map { r =>
      (r.getSeq[String](0).toArray, r.getLong(1))
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      syms.foreach { case (s, n) =>
        var i = 0
        while (i + 1 < s.length) {
          val k = (s(i), s(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + n)
          i += 1
        }
      }
      val best = counts.foldLeft(Option.empty[(String, String, Long)]) {
        case (acc, ((l, r), c)) =>
          val cand = (l, r, c)
          if (acc.forall(beats(cand, _))) Some(cand) else acc
      }
      best match {
        case Some((l, r, c)) if c >= minCount =>
          merges += Merge(rank, l, r)
          syms = syms.map { case (s, n) => (applyMerge(s, l, r), n) }
          rank += 1
        case _ => done = true
      }
    }
    merges.toSeq
  }

  private def trainDistributed(
      init: DataFrame, numMerges: Int, minCount: Long,
      checkpointEvery: Int): Seq[Merge] = {
    var cur = init.localCheckpoint(true)
    var lastCkpt = cur // freed when the next checkpoint supersedes it
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      // vocabulary-sized pair-count aggregation; argmax via a 1-row
      // collect (the loop's inherent sequential dependency)
      val best = cur
        .select(col("n"), explode(zip_with(
          slice(col("symbols"), lit(1), greatest(size(col("symbols")) - 1, lit(0))),
          slice(col("symbols"), lit(2), greatest(size(col("symbols")) - 1, lit(0))),
          (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      best.headOption.map(r => (r.getString(0), r.getString(1), r.getLong(2))) match {
        case Some((l, r, c)) if c >= minCount =>
          merges += Merge(rank, l, r)
          cur = cur.withColumn("symbols", applyMergeHof(col("symbols"), l, r))
          rank += 1
          if (rank % checkpointEvery == 0) {
            cur = cur.localCheckpoint(true)
            Checkpoints.free(lastCkpt) // superseded round's blocks
            lastCkpt = cur
          }
        case _ => done = true
      }
    }
    // the merge table (driver-side) is the result — no frame outlives this
    Checkpoints.free(lastCkpt)
    merges.toSeq
  }

  /** Persist trained merges as a (merge_rank, lhs, rhs) parquet — the
    * build-once/serve-many tokenizer artifact (train on the corpus once,
    * ship the merges to every encode job). Spark's committer makes the
    * write object-store-safe; the artifact is vocabulary-sized (KBs).
    */
  def writeMerges(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[Merge], path: String): Unit = {
    import spark.implicits._
    merges.map(m => (m.rank.toLong, m.lhs, m.rhs))
      .toDF("merge_rank", "lhs", "rhs")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load persisted merges in training order, ready for
    * [[graft.functions.BpeFunctions.bpe_encode]]. Bounded driver collect
    * (the merge list IS the model). */
  def readMerges(spark: org.apache.spark.sql.SparkSession, path: String): Seq[Merge] =
    Parquet.read(spark, path).orderBy("merge_rank").collect()
      .map(r => Merge(r.getLong(0).toInt, r.getString(1), r.getString(2))).toSeq
}
