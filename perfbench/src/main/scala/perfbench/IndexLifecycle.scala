package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.ops.Bm25Index
import graft.streaming.Incremental

/** A maintained BM25 root under a fixed mix of serves and writes. Each
  * cycle of [[IndexLifecycle.Cycle]] maintains one fresh micro-batch
  * (compacting when the tail is stale), erases as many of the oldest live
  * documents, and serves query batches in between, so the live corpus
  * stays at ~5,000 documents and serves outnumber writes three to one.
  */
final class IndexLifecycle(ctx: Ctx) extends Workload {
  import IndexLifecycle._
  private val spark = ctx.spark
  private val gen = ctx.gen
  import spark.implicits._
  def primary: String = "serve"
  def cycle: Int = Cycle.length
  /** An erase, which brings the corpus set-up built down to its live size,
    * and a serve. Set-up already ran the maintain path.
    */
  def warm(): Unit = Seq("erase", "serve").foreach(op(_, -1).run())

  private var dir: Path = _
  /** The generator's record of the live corpus, oldest first. */
  private val live = mutable.Queue.empty[Long]
  private var nextDoc = 0L
  private var step = 0
  private var batch = 0
  private val rootSeen = mutable.ArrayBuffer.empty[(Int, Int, Long)]

  private def src = dir.resolve("src").toString
  private def root = dir.resolve("index").toString

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(dir)
    live.clear()
    nextDoc = 0L
    step = 0
    batch = 0
    writeBatch(LiveDocs + BatchDocs)
    Incremental.streamBm25Maintain(spark, src, root, "doc_id", "text")
    Incremental.compactBm25Maintained(spark, root)
  }

  /** Publish `n` fresh documents as one source micro-batch file. */
  private def writeBatch(n: Int): Unit = {
    val docs = (nextDoc until nextDoc + n).map(gen.document)
    nextDoc += n
    batch += 1
    publish(docs.toDF(), f"batch-$batch%06d")
    live ++= docs.map(_.doc_id)
  }

  /** Write `df` as one parquet file `src/<name>.parquet`: the streaming
    * source sees a new file appear whole.
    */
  private def publish(df: DataFrame, name: String): Unit = {
    val staging = dir.resolve(s"staging/$name")
    df.coalesce(1).write.parquet(staging.toString)
    val part = staging.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(dir.resolve("src"))
    Files.move(part.toPath, dir.resolve(s"src/$name.parquet"))
  }

  /** A batch of queries of 2-4 vocabulary terms each. Every batch holds
    * the same number of distinct terms, so every serve reads about as many
    * postings and the seed moves which terms, not how much work.
    */
  private def queries(r: java.util.SplittableRandom): DataFrame = {
    val terms = Gen.Vocabulary.map(t => (r.nextLong(), t)).sortBy(_._1).map(_._2)
    val sizes = TermsPerQuery.map(n => (r.nextLong(), n)).sortBy(_._1).map(_._2)
    sizes.scanLeft(0)(_ + _).zip(sizes).zipWithIndex.flatMap { case ((from, n), q) =>
      terms.slice(from, from + n).map(t => ((q + 1).toLong, t))
    }.toDF("q_id", "term")
  }

  def next(): Op = {
    val kind = Cycle(step % Cycle.length)
    step += 1
    op(kind, step)
  }

  private def op(kind: String, i: Int): Op =
    kind match {
      case "maintain" =>
        writeBatch(BatchDocs)
        Op("maintain", () => {
          ctx.tracer.span("streaming.maintain")(Incremental.streamBm25Maintain(spark, src, root, "doc_id", "text"))
          ctx.tracer.span("streaming.compact")(
            Incremental.compactIfStale(spark, root, MaxTailBatches)(Incremental.compactBm25Maintained(spark, root)))
        })
      case "erase" =>
        val victims = (1 to BatchDocs).map(_ => live.dequeue())
        Op("erase", () =>
          ctx.tracer.span("streaming.erase")(Incremental.eraseBm25Maintained(spark, root, victims.toDF("doc_id")).collect()))
      case _ =>
        val qs = queries(gen.rng("serve", i))
        Op("serve", () => serve(qs), inspect = () => {
          val (files, bytes) = Fs.totals(dir.resolve("index"))
          val tail = Option(dir.resolve("index/postings").toFile.list()).getOrElse(Array.empty[String])
            .count(_.startsWith("batch_"))
          rootSeen += ((tail, files, bytes))
        })
    }

  private def serve(qs: DataFrame): Array[Row] = {
    val index = ctx.tracer.span("streaming.read")(Incremental.readBm25Maintained(spark, root))
    ctx.tracer.span("ops.bm25_topk")(Bm25Index.topK(index, qs, "q_id", "term", K).collect())
  }

  /** The maintained root must serve exactly what a from-scratch index over
    * the live documents serves.
    */
  def verify(): Unit = {
    val qs = queries(gen.rng("gate", 0))
    val served = serve(qs).map(_.toString).sorted.toSeq
    val corpus = live.toSeq.map(gen.document).toDF()
    val rebuilt = Bm25Index.topK(Bm25Index.build(corpus, "doc_id", "text"), qs, "q_id", "term", K)
      .collect().map(_.toString).sorted.toSeq
    if (served != rebuilt)
      throw new IllegalStateException(
        s"maintained root serves ${served.size} rows that differ from the rebuilt index's ${rebuilt.size}: " +
          served.diff(rebuilt).take(3).mkString(", "))
  }

  /** Plants a document the generator's record does not hold, one that
    * ranks first for every query, for the gate's own tests.
    */
  private[perfbench] def corrupt(): Unit = {
    val stray = Doc(nextDoc + 1000000L, Seq.fill(3)(Gen.Vocabulary.mkString(" ")).mkString(" "))
    publish(Seq(stray).toDF(), "stray")
    Incremental.streamBm25Maintain(spark, src, root, "doc_id", "text")
  }

  override def layerCounts(ops: Seq[(Long, Long)]): Map[String, Double] = {
    val n = math.max(1, rootSeen.size).toDouble
    Map(
      "streaming.tail_batches" -> rootSeen.map(_._1).sum / n,
      "streaming.root_files" -> rootSeen.map(_._2).sum / n,
      "streaming.root_bytes" -> rootSeen.map(_._3.toDouble).sum / n,
      "ops.postings_rows_scanned" -> Layers.recordsPerCall(ctx.tracer, "ops.bm25_topk"))
  }
}

object IndexLifecycle {
  val LiveDocs = 5000
  val BatchDocs = 500
  /** Terms of each query in a serve batch. */
  val TermsPerQuery: Seq[Int] = Seq(2, 3, 3, 4)
  val K = 10
  /** Compact once two micro-batches sit uncompacted. */
  val MaxTailBatches = 1
  val Cycle: IndexedSeq[String] =
    ("maintain" +: IndexedSeq.fill(3)("serve")) ++ ("erase" +: IndexedSeq.fill(3)("serve"))
}
