package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{FaultyFs, GraftSpark}
import graft.etl.Tables

/** Pins the full on-disk layout of the four maintained index roots
  * (bm25, minhash, simjoin, ivfpq) through one lifecycle: maintain (one
  * source file) → maintain (a second file) → erase → compact → maintain
  * (a third file) → erase, the ivfpq root over a written index. A written
  * root of each index is pinned too, through write → erase → maintain →
  * compact. After every step the root's sorted listing —
  * every directory and every `_`-marker name, part files collapsed to one
  * "has data files" flag (` *`) per directory, `cluster=<n>` partition
  * dirs collapsed to `cluster=*` — must equal the golden list below, and
  * no hidden directory (a staged swap's leftover) may exist anywhere
  * under the root.
  * The streaming checkpoint lives outside the root, so only the root's
  * own artifacts are pinned.
  */
class MaintainedLayoutSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def stage(src: String, df: DataFrame, name: String): Unit = {
    val scratch = Files.createTempDirectory("graft_larrive").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$scratch/$name")
    val part = new File(s"$scratch/$name").listFiles
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(s"$src/$name.parquet").toPath)
  }

  /** Sorted relative listing of `root`: `dir/` (plus ` *` when it holds
    * data files) and every `_`-prefixed file; hidden files are skipped.
    */
  private def listing(root: File): Seq[String] = {
    def rel(f: File) = root.toPath.relativize(f.toPath).toString
      .replace('\\', '/').replaceAll("cluster=[^/]+", "cluster=*")
    def walk(d: File): Seq[String] = {
      val kids = d.listFiles.toSeq.filterNot(_.getName.startsWith("."))
      val hasData = kids.exists(f => f.isFile && !f.getName.startsWith("_"))
      val self = if (d == root) Nil else Seq(rel(d) + "/" + (if (hasData) " *" else ""))
      self ++ kids.filter(f => f.isFile && f.getName.startsWith("_")).map(rel) ++
        kids.filter(_.isDirectory).flatMap(walk)
    }
    walk(root).distinct.sorted
  }

  /** Runs `steps` in order and compares each step's listing to `golden`;
    * on mismatch the failure prints every step's actual listing.
    */
  private def pin(idx: String, golden: Seq[(String, String)])(
      steps: (String, () => Unit)*): Unit = {
    val actual = steps.map { case (name, run) =>
      run()
      assert(FaultyFs.hiddenDirs(new File(idx)) == Nil, name)
      name -> listing(new File(idx)).mkString("\n")
    }
    def show(xs: Seq[(String, String)]) =
      xs.map { case (n, l) => s"--- $n\n$l" }.mkString("\n")
    assert(actual == golden.map { case (n, l) => n -> l.stripMargin.trim },
      s"maintained-root layout changed; actual listing:\n${show(actual)}")
  }

  private def thirds(df: DataFrame, idCol: String, i: Int) =
    df.filter(col(idCol) % 3 === i)

  private def keys(c: String, ids: Long*) = spark.createDataFrame(ids.map(Tuple1(_))).toDF(c)

  /** A written root's lifecycle: `write` of the first third, an `erase`
    * whose ledger must name only the written generation (`leg`), the
    * maintainer over one more source file, then a compaction.
    */
  private def written(prefix: String, golden: Seq[(String, String)], leg: Any)(
      write: String => Unit, erase: String => DataFrame,
      maintain: (String, String, String) => Unit, compact: String => Any): Unit = {
    val tmp = Files.createTempDirectory(prefix).toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"
    new File(src).mkdirs()
    pin(idx, golden)(
      "write" -> (() => write(idx)),
      "erase" -> (() => {
        val ids = erase(idx).collect().map(_.get(0)).toSeq
        assert(ids == Seq(leg), s"erase ledger legs $ids")
      }),
      "maintain p1" -> (() => maintain(src, idx, s"$tmp/ckpt")),
      "compact" -> (() => { compact(idx); () }))
  }

  test("written bm25 root layout through write → erase → maintain → compact") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    written("graft_lwbm25", WrittenBm25Golden, -1L)(
      graft.ops.Bm25Index.write(
        graft.ops.Bm25Index.build(thirds(docs, "doc_id", 0), "doc_id", "text"), _),
      Incremental.eraseBm25Maintained(spark, _, keys("doc_id", 3L, 6L)),
      (src, idx, ckpt) => {
        stage(src, thirds(docs, "doc_id", 1), "p1")
        Incremental.streamBm25Maintain(spark, src, idx, "doc_id", "text", checkpointPath = ckpt)
      },
      Incremental.compactBm25Maintained(spark, _))
  }

  test("written minhash root layout through write → erase → maintain → compact") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    written("graft_lwmh", WrittenMinHashGolden, -1L)(
      graft.ops.MinHashIndex.write(
        graft.ops.MinHashIndex.build(thirds(docs, "doc_id", 0), "doc_id", "text", 3, 8, 2), _),
      Incremental.eraseMinHashMaintained(spark, _, keys("doc_id", 3L, 6L)),
      (src, idx, ckpt) => {
        stage(src, thirds(docs, "doc_id", 1), "p1")
        Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
          shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = ckpt)
      },
      Incremental.compactMinHashMaintained(spark, _))
  }

  test("written simjoin root layout through write → erase → maintain → compact") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    written("graft_lwsj", WrittenSimJoinGolden, -1L)(
      graft.ops.SimJoinIndex.write(graft.ops.SimJoinIndex.build(
        thirds(docs, "doc_id", 0), "doc_id", "text", shingleK = 3, threshold = 0.5), _),
      Incremental.eraseSimJoinMaintained(spark, _, keys("doc_id", 3L, 6L)),
      (src, idx, ckpt) => {
        stage(src, thirds(docs, "doc_id", 1), "p1")
        Incremental.streamSimJoinMaintain(spark, src, idx, "doc_id", "text",
          shingleK = 3, threshold = 0.5, checkpointPath = ckpt)
      },
      Incremental.compactSimJoinMaintained(spark, _))
  }

  test("written ivfpq root layout through write → erase → maintain → compact") {
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    written("graft_lwivf", WrittenIvfPqGolden, "lists_compact_-1")(
      graft.ops.IvfPqIndex.write(graft.ops.IvfPqIndex.build(thirds(emb, "vec_id", 0),
        "vec_id", "embedding", nlist = 4, numSubspaces = 8, numCodes = 16), _),
      Incremental.eraseIvfPqMaintained(spark, _, keys("vec_id", 3L, 6L)),
      (src, idx, ckpt) => {
        stage(src, thirds(emb, "vec_id", 1), "p1")
        Incremental.streamIvfPqMaintain(spark, src, idx, "vec_id", "embedding",
          checkpointPath = ckpt)
      },
      Incremental.compactIvfPqMaintained(spark, _))
  }

  test("bm25 root layout through maintain → erase → compact → maintain → erase") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_lbm25").toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"
    new File(src).mkdirs()
    def maintain(i: Int)() = {
      stage(src, thirds(docs, "doc_id", i), s"p$i")
      Incremental.streamBm25Maintain(spark, src, idx, "doc_id", "text",
        checkpointPath = s"$tmp/ckpt", maxFilesPerTrigger = 1)
      ()
    }
    def erase(ids: Long*)() = {
      Incremental.eraseBm25Maintained(spark, idx,
        spark.createDataFrame(ids.map(Tuple1(_))).toDF("doc_id")).count()
      ()
    }
    pin(idx, Bm25Golden)(
      "maintain p0" -> maintain(0) _,
      "maintain p1" -> maintain(1) _,
      "erase" -> erase(3L, 4L) _,
      "compact" -> (() => { Incremental.compactBm25Maintained(spark, idx); () }),
      "maintain p2" -> maintain(2) _,
      "erase" -> erase(6L, 5L) _)
  }

  test("minhash root layout through maintain → erase → compact → maintain → erase") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_lmh").toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"
    new File(src).mkdirs()
    def maintain(i: Int)() = {
      stage(src, thirds(docs, "doc_id", i), s"p$i")
      Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
        shingleK = 3, bands = 8, rowsPerBand = 2,
        checkpointPath = s"$tmp/ckpt", maxFilesPerTrigger = 1)
      ()
    }
    def erase(ids: Long*)() = {
      Incremental.eraseMinHashMaintained(spark, idx,
        spark.createDataFrame(ids.map(Tuple1(_))).toDF("doc_id")).count()
      ()
    }
    pin(idx, MinHashGolden)(
      "maintain p0" -> maintain(0) _,
      "maintain p1" -> maintain(1) _,
      "erase" -> erase(3L, 4L) _,
      "compact" -> (() => { Incremental.compactMinHashMaintained(spark, idx); () }),
      "maintain p2" -> maintain(2) _,
      "erase" -> erase(6L, 5L) _)
  }

  test("simjoin root layout through maintain → erase → compact → maintain → erase") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_lsj").toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"
    new File(src).mkdirs()
    def maintain(i: Int)() = {
      stage(src, thirds(docs, "doc_id", i), s"p$i")
      Incremental.streamSimJoinMaintain(spark, src, idx, "doc_id", "text",
        shingleK = 3, threshold = 0.5,
        checkpointPath = s"$tmp/ckpt", maxFilesPerTrigger = 1)
      ()
    }
    def erase(ids: Long*)() = {
      Incremental.eraseSimJoinMaintained(spark, idx,
        spark.createDataFrame(ids.map(Tuple1(_))).toDF("doc_id")).count()
      ()
    }
    pin(idx, SimJoinGolden)(
      "maintain p0" -> maintain(0) _,
      "maintain p1" -> maintain(1) _,
      "erase" -> erase(3L, 4L) _,
      "compact" -> (() => { Incremental.compactSimJoinMaintained(spark, idx); () }),
      "maintain p2" -> maintain(2) _,
      "erase" -> erase(6L, 5L) _)
  }

  test("ivfpq root layout through maintain → erase → compact → maintain → erase") {
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_livf").toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"
    new File(src).mkdirs()
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    def maintain(i: Int)() = {
      stage(src, thirds(delta, "vec_id", i), s"p$i")
      Incremental.streamIvfPqMaintain(spark, src, idx, "vec_id", "embedding",
        checkpointPath = s"$tmp/ckpt", maxFilesPerTrigger = 1)
      ()
    }
    // victims on both sides: the base lists (6, 12) and the streamed legs
    // (30 lands in batch 0, 40 in batch 1, 20 in batch 2)
    def erase(ids: Long*)() = {
      Incremental.eraseIvfPqMaintained(spark, idx,
        spark.createDataFrame(ids.map(Tuple1(_))).toDF("vec_id")).count()
      ()
    }
    pin(idx, IvfPqGolden)(
      "write base" -> (() => graft.ops.IvfPqIndex.write(
        graft.ops.IvfPqIndex.build(base, "vec_id", "embedding",
          nlist = 4, numSubspaces = 8, numCodes = 16), idx)),
      "maintain p0" -> maintain(0) _,
      "maintain p1" -> maintain(1) _,
      "erase" -> erase(6L, 30L, 40L) _,
      "compact" -> (() => { Incremental.compactIvfPqMaintained(spark, idx); () }),
      "maintain p2" -> maintain(2) _,
      "erase" -> erase(12L, 20L) _)
  }

  private val WrittenBm25Golden: Seq[(String, String)] = Seq(
    "write" -> """
      |_committed_-1
      |_compacted_-1
      |postings/
      |postings/compact_-1/ *
      |postings/compact_-1/_SUCCESS
      |stats_snap_-1/ *
      |stats_snap_-1/_SUCCESS
      |terms_snap_-1/ *
      |terms_snap_-1/_SUCCESS""",
    "erase" -> """
      |_committed_-1
      |_compacted_-1
      |postings/
      |postings/compact_-1/ *
      |postings/compact_-1/_SUCCESS
      |stats_snap_-1/ *
      |stats_snap_-1/_SUCCESS
      |stats_snap_-1_e1/ *
      |stats_snap_-1_e1/_SUCCESS
      |terms_snap_-1/ *
      |terms_snap_-1/_SUCCESS
      |terms_snap_-1_e1/ *
      |terms_snap_-1_e1/_SUCCESS""",
    "maintain p1" -> """
      |_committed_-1
      |_committed_0
      |_compacted_-1
      |_graft_query_id
      |postings/
      |postings/batch_0/ *
      |postings/batch_0/_SUCCESS
      |postings/compact_-1/ *
      |postings/compact_-1/_SUCCESS
      |stats_snap_-1/ *
      |stats_snap_-1/_SUCCESS
      |stats_snap_-1_e1/ *
      |stats_snap_-1_e1/_SUCCESS
      |stats_snap_0/ *
      |stats_snap_0/_SUCCESS
      |terms_snap_-1/ *
      |terms_snap_-1/_SUCCESS
      |terms_snap_-1_e1/ *
      |terms_snap_-1_e1/_SUCCESS
      |terms_snap_0/ *
      |terms_snap_0/_SUCCESS""",
    "compact" -> """
      |_committed_-1
      |_committed_0
      |_compacted_0
      |_graft_query_id
      |postings/
      |postings/compact_0/ *
      |postings/compact_0/_SUCCESS
      |stats_snap_-1/ *
      |stats_snap_-1/_SUCCESS
      |stats_snap_-1_e1/ *
      |stats_snap_-1_e1/_SUCCESS
      |stats_snap_0/ *
      |stats_snap_0/_SUCCESS
      |terms_snap_-1/ *
      |terms_snap_-1/_SUCCESS
      |terms_snap_-1_e1/ *
      |terms_snap_-1_e1/_SUCCESS
      |terms_snap_0/ *
      |terms_snap_0/_SUCCESS""")

  private val WrittenMinHashGolden: Seq[(String, String)] = Seq(
    "write" -> """
      |_committed_-1
      |_compacted_-1
      |_graft_index.json
      |buckets/
      |buckets/compact_-1/ *
      |buckets/compact_-1/_SUCCESS
      |sets/
      |sets/compact_-1/ *
      |sets/compact_-1/_SUCCESS""",
    "erase" -> """
      |_committed_-1
      |_compacted_-1
      |_graft_index.json
      |buckets/
      |buckets/compact_-1/ *
      |buckets/compact_-1/_SUCCESS
      |sets/
      |sets/compact_-1/ *
      |sets/compact_-1/_SUCCESS""",
    "maintain p1" -> """
      |_committed_-1
      |_committed_0
      |_compacted_-1
      |_graft_index.json
      |_graft_query_id
      |buckets/
      |buckets/batch_0/ *
      |buckets/batch_0/_SUCCESS
      |buckets/compact_-1/ *
      |buckets/compact_-1/_SUCCESS
      |sets/
      |sets/batch_0/ *
      |sets/batch_0/_SUCCESS
      |sets/compact_-1/ *
      |sets/compact_-1/_SUCCESS""",
    "compact" -> """
      |_committed_-1
      |_committed_0
      |_compacted_0
      |_graft_index.json
      |_graft_query_id
      |buckets/
      |buckets/compact_0/ *
      |buckets/compact_0/_SUCCESS
      |sets/
      |sets/compact_0/ *
      |sets/compact_0/_SUCCESS""")

  private val WrittenSimJoinGolden: Seq[(String, String)] = Seq(
    "write" -> """
      |_committed_-1
      |_compacted_-1
      |_graft_index.json
      |freq/ *
      |freq/_SUCCESS
      |prefixes/
      |prefixes/compact_-1/ *
      |prefixes/compact_-1/_SUCCESS
      |sets/
      |sets/compact_-1/ *
      |sets/compact_-1/_SUCCESS""",
    "erase" -> """
      |_committed_-1
      |_compacted_-1
      |_graft_index.json
      |freq/ *
      |freq/_SUCCESS
      |prefixes/
      |prefixes/compact_-1/ *
      |prefixes/compact_-1/_SUCCESS
      |sets/
      |sets/compact_-1/ *
      |sets/compact_-1/_SUCCESS""",
    "maintain p1" -> """
      |_committed_-1
      |_committed_0
      |_compacted_-1
      |_graft_index.json
      |_graft_query_id
      |freq/ *
      |freq/_SUCCESS
      |prefixes/
      |prefixes/batch_0/ *
      |prefixes/batch_0/_SUCCESS
      |prefixes/compact_-1/ *
      |prefixes/compact_-1/_SUCCESS
      |sets/
      |sets/batch_0/ *
      |sets/batch_0/_SUCCESS
      |sets/compact_-1/ *
      |sets/compact_-1/_SUCCESS""",
    "compact" -> """
      |_committed_-1
      |_committed_0
      |_compacted_0
      |_graft_index.json
      |_graft_query_id
      |freq/ *
      |freq/_SUCCESS
      |prefixes/
      |prefixes/compact_0/ *
      |prefixes/compact_0/_SUCCESS
      |sets/
      |sets/compact_0/ *
      |sets/compact_0/_SUCCESS""")

  private val WrittenIvfPqGolden: Seq[(String, String)] = Seq(
    "write" -> """
      |_committed_-1
      |_compacted_-1
      |_graft_index.json
      |lists_compact_-1/
      |lists_compact_-1/_SUCCESS
      |lists_compact_-1/cluster=*/ *""",
    "erase" -> """
      |_committed_-1
      |_compacted_-1
      |_graft_index.json
      |lists_compact_-1/
      |lists_compact_-1/_SUCCESS
      |lists_compact_-1/cluster=*/ *""",
    "maintain p1" -> """
      |_committed_-1
      |_committed_0
      |_compacted_-1
      |_graft_index.json
      |_graft_model_gen
      |_graft_query_id
      |lists_batch_0/
      |lists_batch_0/_SUCCESS
      |lists_batch_0/cluster=*/ *
      |lists_compact_-1/
      |lists_compact_-1/_SUCCESS
      |lists_compact_-1/cluster=*/ *""",
    "compact" -> """
      |_committed_-1
      |_committed_0
      |_compacted_0
      |_graft_index.json
      |_graft_model_gen
      |_graft_query_id
      |lists_compact_0/
      |lists_compact_0/_SUCCESS
      |lists_compact_0/cluster=*/ *""")

  // the golden listings: the layout every change must keep
  private val Bm25Golden: Seq[(String, String)] = Seq(
    "maintain p0" -> """
      |_committed_0
      |_graft_query_id
      |postings/
      |postings/batch_0/ *
      |postings/batch_0/_SUCCESS
      |stats_snap_0/ *
      |stats_snap_0/_SUCCESS
      |terms_snap_0/ *
      |terms_snap_0/_SUCCESS""",
    "maintain p1" -> """
      |_committed_0
      |_committed_1
      |_graft_query_id
      |postings/
      |postings/batch_0/ *
      |postings/batch_0/_SUCCESS
      |postings/batch_1/ *
      |postings/batch_1/_SUCCESS
      |stats_snap_0/ *
      |stats_snap_0/_SUCCESS
      |stats_snap_1/ *
      |stats_snap_1/_SUCCESS
      |terms_snap_0/ *
      |terms_snap_0/_SUCCESS
      |terms_snap_1/ *
      |terms_snap_1/_SUCCESS""",
    "erase" -> """
      |_committed_0
      |_committed_1
      |_graft_query_id
      |postings/
      |postings/batch_0/ *
      |postings/batch_0/_SUCCESS
      |postings/batch_1/ *
      |postings/batch_1/_SUCCESS
      |stats_snap_0/ *
      |stats_snap_0/_SUCCESS
      |stats_snap_1/ *
      |stats_snap_1/_SUCCESS
      |stats_snap_1_e1/ *
      |stats_snap_1_e1/_SUCCESS
      |terms_snap_0/ *
      |terms_snap_0/_SUCCESS
      |terms_snap_1/ *
      |terms_snap_1/_SUCCESS
      |terms_snap_1_e1/ *
      |terms_snap_1_e1/_SUCCESS""",
    "compact" -> """
      |_committed_0
      |_committed_1
      |_compacted_1
      |_graft_query_id
      |postings/
      |postings/compact_1/ *
      |postings/compact_1/_SUCCESS
      |stats_snap_0/ *
      |stats_snap_0/_SUCCESS
      |stats_snap_1/ *
      |stats_snap_1/_SUCCESS
      |stats_snap_1_e1/ *
      |stats_snap_1_e1/_SUCCESS
      |terms_snap_0/ *
      |terms_snap_0/_SUCCESS
      |terms_snap_1/ *
      |terms_snap_1/_SUCCESS
      |terms_snap_1_e1/ *
      |terms_snap_1_e1/_SUCCESS""",
    "maintain p2" -> """
      |_committed_0
      |_committed_1
      |_committed_2
      |_compacted_1
      |_graft_query_id
      |postings/
      |postings/batch_2/ *
      |postings/batch_2/_SUCCESS
      |postings/compact_1/ *
      |postings/compact_1/_SUCCESS
      |stats_snap_1/ *
      |stats_snap_1/_SUCCESS
      |stats_snap_1_e1/ *
      |stats_snap_1_e1/_SUCCESS
      |stats_snap_2/ *
      |stats_snap_2/_SUCCESS
      |terms_snap_1/ *
      |terms_snap_1/_SUCCESS
      |terms_snap_1_e1/ *
      |terms_snap_1_e1/_SUCCESS
      |terms_snap_2/ *
      |terms_snap_2/_SUCCESS""",
    "erase" -> """
      |_committed_0
      |_committed_1
      |_committed_2
      |_compacted_1
      |_graft_query_id
      |postings/
      |postings/batch_2/ *
      |postings/batch_2/_SUCCESS
      |postings/compact_1/ *
      |postings/compact_1/_SUCCESS
      |stats_snap_1/ *
      |stats_snap_1/_SUCCESS
      |stats_snap_1_e1/ *
      |stats_snap_1_e1/_SUCCESS
      |stats_snap_2/ *
      |stats_snap_2/_SUCCESS
      |stats_snap_2_e1/ *
      |stats_snap_2_e1/_SUCCESS
      |terms_snap_1/ *
      |terms_snap_1/_SUCCESS
      |terms_snap_1_e1/ *
      |terms_snap_1_e1/_SUCCESS
      |terms_snap_2/ *
      |terms_snap_2/_SUCCESS
      |terms_snap_2_e1/ *
      |terms_snap_2_e1/_SUCCESS""")

  private val MinHashGolden: Seq[(String, String)] = Seq(
    "maintain p0" -> """
      |_committed_0
      |_graft_index.json
      |_graft_query_id
      |buckets/
      |buckets/batch_0/ *
      |buckets/batch_0/_SUCCESS
      |sets/
      |sets/batch_0/ *
      |sets/batch_0/_SUCCESS""",
    "maintain p1" -> """
      |_committed_0
      |_committed_1
      |_graft_index.json
      |_graft_query_id
      |buckets/
      |buckets/batch_0/ *
      |buckets/batch_0/_SUCCESS
      |buckets/batch_1/ *
      |buckets/batch_1/_SUCCESS
      |sets/
      |sets/batch_0/ *
      |sets/batch_0/_SUCCESS
      |sets/batch_1/ *
      |sets/batch_1/_SUCCESS""",
    "erase" -> """
      |_committed_0
      |_committed_1
      |_graft_index.json
      |_graft_query_id
      |buckets/
      |buckets/batch_0/ *
      |buckets/batch_0/_SUCCESS
      |buckets/batch_1/ *
      |buckets/batch_1/_SUCCESS
      |sets/
      |sets/batch_0/ *
      |sets/batch_0/_SUCCESS
      |sets/batch_1/ *
      |sets/batch_1/_SUCCESS""",
    "compact" -> """
      |_committed_0
      |_committed_1
      |_compacted_1
      |_graft_index.json
      |_graft_query_id
      |buckets/
      |buckets/compact_1/ *
      |buckets/compact_1/_SUCCESS
      |sets/
      |sets/compact_1/ *
      |sets/compact_1/_SUCCESS""",
    "maintain p2" -> """
      |_committed_0
      |_committed_1
      |_committed_2
      |_compacted_1
      |_graft_index.json
      |_graft_query_id
      |buckets/
      |buckets/batch_2/ *
      |buckets/batch_2/_SUCCESS
      |buckets/compact_1/ *
      |buckets/compact_1/_SUCCESS
      |sets/
      |sets/batch_2/ *
      |sets/batch_2/_SUCCESS
      |sets/compact_1/ *
      |sets/compact_1/_SUCCESS""",
    "erase" -> """
      |_committed_0
      |_committed_1
      |_committed_2
      |_compacted_1
      |_graft_index.json
      |_graft_query_id
      |buckets/
      |buckets/batch_2/ *
      |buckets/batch_2/_SUCCESS
      |buckets/compact_1/ *
      |buckets/compact_1/_SUCCESS
      |sets/
      |sets/batch_2/ *
      |sets/batch_2/_SUCCESS
      |sets/compact_1/ *
      |sets/compact_1/_SUCCESS""")

  private val SimJoinGolden: Seq[(String, String)] = Seq(
    "maintain p0" -> """
      |_committed_0
      |_graft_index.json
      |_graft_query_id
      |freq/ *
      |freq/_SUCCESS
      |prefixes/
      |prefixes/batch_0/ *
      |prefixes/batch_0/_SUCCESS
      |sets/
      |sets/batch_0/ *
      |sets/batch_0/_SUCCESS""",
    "maintain p1" -> """
      |_committed_0
      |_committed_1
      |_graft_index.json
      |_graft_query_id
      |freq/ *
      |freq/_SUCCESS
      |prefixes/
      |prefixes/batch_0/ *
      |prefixes/batch_0/_SUCCESS
      |prefixes/batch_1/ *
      |prefixes/batch_1/_SUCCESS
      |sets/
      |sets/batch_0/ *
      |sets/batch_0/_SUCCESS
      |sets/batch_1/ *
      |sets/batch_1/_SUCCESS""",
    "erase" -> """
      |_committed_0
      |_committed_1
      |_graft_index.json
      |_graft_query_id
      |freq/ *
      |freq/_SUCCESS
      |prefixes/
      |prefixes/batch_0/ *
      |prefixes/batch_0/_SUCCESS
      |prefixes/batch_1/ *
      |prefixes/batch_1/_SUCCESS
      |sets/
      |sets/batch_0/ *
      |sets/batch_0/_SUCCESS
      |sets/batch_1/ *
      |sets/batch_1/_SUCCESS""",
    "compact" -> """
      |_committed_0
      |_committed_1
      |_compacted_1
      |_graft_index.json
      |_graft_query_id
      |freq/ *
      |freq/_SUCCESS
      |prefixes/
      |prefixes/compact_1/ *
      |prefixes/compact_1/_SUCCESS
      |sets/
      |sets/compact_1/ *
      |sets/compact_1/_SUCCESS""",
    "maintain p2" -> """
      |_committed_0
      |_committed_1
      |_committed_2
      |_compacted_1
      |_graft_index.json
      |_graft_query_id
      |freq/ *
      |freq/_SUCCESS
      |prefixes/
      |prefixes/batch_2/ *
      |prefixes/batch_2/_SUCCESS
      |prefixes/compact_1/ *
      |prefixes/compact_1/_SUCCESS
      |sets/
      |sets/batch_2/ *
      |sets/batch_2/_SUCCESS
      |sets/compact_1/ *
      |sets/compact_1/_SUCCESS""",
    "erase" -> """
      |_committed_0
      |_committed_1
      |_committed_2
      |_compacted_1
      |_graft_index.json
      |_graft_query_id
      |freq/ *
      |freq/_SUCCESS
      |prefixes/
      |prefixes/batch_2/ *
      |prefixes/batch_2/_SUCCESS
      |prefixes/compact_1/ *
      |prefixes/compact_1/_SUCCESS
      |sets/
      |sets/batch_2/ *
      |sets/batch_2/_SUCCESS
      |sets/compact_1/ *
      |sets/compact_1/_SUCCESS""")

  private val IvfPqGolden: Seq[(String, String)] = Seq(
    "write base" -> """
      |_committed_-1
      |_compacted_-1
      |_graft_index.json
      |lists_compact_-1/
      |lists_compact_-1/_SUCCESS
      |lists_compact_-1/cluster=*/ *""",
    "maintain p0" -> """
      |_committed_-1
      |_committed_0
      |_compacted_-1
      |_graft_index.json
      |_graft_model_gen
      |_graft_query_id
      |lists_batch_0/
      |lists_batch_0/_SUCCESS
      |lists_batch_0/cluster=*/ *
      |lists_compact_-1/
      |lists_compact_-1/_SUCCESS
      |lists_compact_-1/cluster=*/ *""",
    "maintain p1" -> """
      |_committed_-1
      |_committed_0
      |_committed_1
      |_compacted_-1
      |_graft_index.json
      |_graft_model_gen
      |_graft_query_id
      |lists_batch_0/
      |lists_batch_0/_SUCCESS
      |lists_batch_0/cluster=*/ *
      |lists_batch_1/
      |lists_batch_1/_SUCCESS
      |lists_batch_1/cluster=*/ *
      |lists_compact_-1/
      |lists_compact_-1/_SUCCESS
      |lists_compact_-1/cluster=*/ *""",
    "erase" -> """
      |_committed_-1
      |_committed_0
      |_committed_1
      |_compacted_-1
      |_graft_index.json
      |_graft_model_gen
      |_graft_query_id
      |lists_batch_0/
      |lists_batch_0/_SUCCESS
      |lists_batch_0/cluster=*/ *
      |lists_batch_1/
      |lists_batch_1/_SUCCESS
      |lists_batch_1/cluster=*/ *
      |lists_compact_-1/
      |lists_compact_-1/_SUCCESS
      |lists_compact_-1/cluster=*/ *""",
    "compact" -> """
      |_committed_-1
      |_committed_0
      |_committed_1
      |_compacted_1
      |_graft_index.json
      |_graft_model_gen
      |_graft_query_id
      |lists_compact_1/
      |lists_compact_1/_SUCCESS
      |lists_compact_1/cluster=*/ *""",
    "maintain p2" -> """
      |_committed_-1
      |_committed_0
      |_committed_1
      |_committed_2
      |_compacted_1
      |_graft_index.json
      |_graft_model_gen
      |_graft_query_id
      |lists_batch_2/
      |lists_batch_2/_SUCCESS
      |lists_batch_2/cluster=*/ *
      |lists_compact_1/
      |lists_compact_1/_SUCCESS
      |lists_compact_1/cluster=*/ *""",
    "erase" -> """
      |_committed_-1
      |_committed_0
      |_committed_1
      |_committed_2
      |_compacted_1
      |_graft_index.json
      |_graft_model_gen
      |_graft_query_id
      |lists_batch_2/
      |lists_batch_2/_SUCCESS
      |lists_batch_2/cluster=*/ *
      |lists_compact_1/
      |lists_compact_1/_SUCCESS
      |lists_compact_1/cluster=*/ *""")

}
