package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSpark, JobCount}
import graft.etl.Tables

/** Per-step Spark job budget of the four stream-maintained index roots
  * through maintain p0 → maintain p1 → erase → compact → maintain p2 →
  * erase → read, over sf0.001 documents (embeddings for ivfpq) split in
  * thirds, one source file per maintain; each erase counts one `count()`
  * of its returned ledger. The budget is each step's count before the
  * maintained indexes moved onto one codec each; every step must run
  * exactly its budget less the jobs a step is known to save, so a
  * refactor that adds or drops an action shows here as a changed count.
  * The savings: the fresh BM25 erase reads its committed journal
  * directly and reuses the victim keys, the bearing legs and the target
  * generation it already holds (5 jobs); the IVF-PQ erase chooses a
  * leg's plain empty write from the probe's counts instead of an
  * `isEmpty` job per victim-bearing leg (3 legs in the first erase, 2 in
  * the second); every erase deduplicates its local key batch on the
  * driver instead of a distinct and a checkpoint (2 jobs); every erase
  * writes each victim-bearing member leg's retained rows into a staging
  * dir instead of checkpointing them before an overwrite of the leg (one
  * job per rewritten member leg: BM25 2 = 2 legs × 1 member, MinHash and
  * SimJoin 4 = 2 legs × 2 members, IVF-PQ 3 and 2 legs × 1 member).
  */
class MaintainedJobBudgetSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private val Steps =
    Seq("maintain p0", "maintain p1", "erase", "compact", "maintain p2", "erase", "read")

  private def stage(src: String, df: DataFrame, name: String): Unit = {
    val scratch = Files.createTempDirectory("graft_jbarrive").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$scratch/$name")
    val part = new File(s"$scratch/$name").listFiles
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(s"$src/$name.parquet").toPath)
  }

  private def keys(col: String, ids: Long*) =
    spark.createDataFrame(ids.map(Tuple1(_))).toDF(col)

  /** Runs the seven steps, each under its own job group, and compares
    * the counts to `budget`.
    */
  private def budgeted(root: String, budget: Seq[Int], saved: Seq[Int] = Seq.fill(7)(0))(
      maintain: Int => Unit, erase: Int => Unit, compact: () => Unit,
      read: () => Unit): Unit = {
    val bodies: Seq[() => Unit] = Seq(() => maintain(0), () => maintain(1),
      () => erase(0), compact, () => maintain(2), () => erase(1), read)
    val counts = bodies.zipWithIndex.map { case (body, i) =>
      JobCount.of(s"budget-$root-$i")(body())
    }
    val expected = budget.zip(saved).map { case (b, s) => b - s }
    assert(counts == expected,
      s"$root per-step jobs (${Steps.mkString(" / ")}): ${counts.mkString("/")}, " +
        s"expected ${expected.mkString("/")} (budget ${budget.mkString("/")})")
  }

  private def thirds(df: DataFrame, idCol: String, i: Int) =
    df.filter(col(idCol) % 3 === i)

  private def textRoot(prefix: String) = {
    val tmp = Files.createTempDirectory(prefix).toString
    new File(s"$tmp/src").mkdirs()
    (tmp, s"$tmp/src", s"$tmp/index")
  }

  test("bm25 maintained root runs its per-step job budget") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val (tmp, src, idx) = textRoot("graft_jbbm25")
    budgeted("bm25", Seq(10, 12, 28, 3, 12, 28, 0), saved = Seq(0, 0, 9, 0, 0, 9, 0))(
      i => {
        stage(src, thirds(docs, "doc_id", i), s"p$i")
        Incremental.streamBm25Maintain(spark, src, idx, "doc_id", "text",
          checkpointPath = s"$tmp/ckpt", maxFilesPerTrigger = 1)
      },
      i => Incremental.eraseBm25Maintained(spark, idx,
        keys("doc_id", Seq(Seq(3L, 4L), Seq(6L, 5L))(i): _*)).count(),
      () => Incremental.compactBm25Maintained(spark, idx),
      () => Incremental.readBm25Maintained(spark, idx))
  }

  test("minhash maintained root runs its per-step job budget") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val (tmp, src, idx) = textRoot("graft_jbmh")
    budgeted("minhash", Seq(3, 3, 19, 4, 3, 19, 0), saved = Seq(0, 0, 6, 0, 0, 6, 0))(
      i => {
        stage(src, thirds(docs, "doc_id", i), s"p$i")
        Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
          shingleK = 3, bands = 8, rowsPerBand = 2,
          checkpointPath = s"$tmp/ckpt", maxFilesPerTrigger = 1)
      },
      i => Incremental.eraseMinHashMaintained(spark, idx,
        keys("doc_id", Seq(Seq(3L, 4L), Seq(6L, 5L))(i): _*)).count(),
      () => Incremental.compactMinHashMaintained(spark, idx),
      () => Incremental.readMinHashMaintained(spark, idx))
  }

  test("simjoin maintained root runs its per-step job budget") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val (tmp, src, idx) = textRoot("graft_jbsj")
    budgeted("simjoin", Seq(9, 6, 19, 4, 6, 19, 0), saved = Seq(0, 0, 6, 0, 0, 6, 0))(
      i => {
        stage(src, thirds(docs, "doc_id", i), s"p$i")
        Incremental.streamSimJoinMaintain(spark, src, idx, "doc_id", "text",
          shingleK = 3, threshold = 0.5,
          checkpointPath = s"$tmp/ckpt", maxFilesPerTrigger = 1)
      },
      i => Incremental.eraseSimJoinMaintained(spark, idx,
        keys("doc_id", Seq(Seq(3L, 4L), Seq(6L, 5L))(i): _*)).count(),
      () => Incremental.compactSimJoinMaintained(spark, idx),
      () => Incremental.readSimJoinMaintained(spark, idx))
  }

  test("ivfpq maintained root runs its per-step job budget") {
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    val (tmp, src, idx) = textRoot("graft_jbivf")
    graft.ops.IvfPqIndex.write(graft.ops.IvfPqIndex.build(
      emb.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
      nlist = 4, numSubspaces = 8, numCodes = 16), idx)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    budgeted("ivfpq", Seq(3, 3, 22, 2, 3, 17, 0), saved = Seq(0, 0, 8, 0, 0, 6, 0))(
      i => {
        stage(src, thirds(delta, "vec_id", i), s"p$i")
        Incremental.streamIvfPqMaintain(spark, src, idx, "vec_id", "embedding",
          checkpointPath = s"$tmp/ckpt", maxFilesPerTrigger = 1)
      },
      i => Incremental.eraseIvfPqMaintained(spark, idx,
        keys("vec_id", Seq(Seq(6L, 30L, 40L), Seq(12L, 20L))(i): _*)).count(),
      () => Incremental.compactIvfPqMaintained(spark, idx),
      () => Incremental.readIvfPqMaintained(spark, idx))
  }
}
