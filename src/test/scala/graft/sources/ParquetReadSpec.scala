package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSpark, JobCount}
import graft.etl.{FileLoads, Tables}
import graft.streaming.Incremental

/** [[Parquet.read]] must build exactly the DataFrame schema Spark's own
  * inference builds, raise the same errors, and launch no Spark job while
  * doing it: over the fixture tables, the p_date lake, and every
  * directory of the four maintained index roots after maintain → erase →
  * compact, alone and as multi-leg reads.
  */
class ParquetReadSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  /** The schema a read builds, or the class of what it threw. */
  private def outcome(read: => DataFrame): Either[Class[_], StructType] =
    try Right(read.schema) catch { case e: Exception => Left(e.getClass) }

  private def assertSame(paths: String*): Unit = {
    val inferred = outcome(spark.read.parquet(paths: _*))
    assert(outcome(Parquet.read(spark, paths: _*)) == inferred, s"read of ${paths.mkString(", ")}")
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private val Fixtures = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  test("fixture tables: the footer schema equals Spark's inferred schema, with no job") {
    val paths = Fixtures.map(t => s"${GraftSpark.Sf0001}/$t.parquet")
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      paths.foreach(assertSame(_))
      assert(JobCount.of("parquet-fixtures")(paths.foreach(Parquet.read(spark, _))) == 0)
    }
    // without the legacy flag the nanos column either reads natively or
    // fails the same way under both paths
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      assertSame(s"${GraftSpark.Sf0001}/events.parquet")
    }
  }

  test("p_date lake: p_date stays DateType, partition filters still prune, no job") {
    val path = Files.createTempDirectory("graft_pq_lake").toString + "/events"
    FileLoads.append(Tables.events(spark, GraftSpark.Sf0001), "ts", path)
    assertSame(path)
    assert(Parquet.read(spark, path).schema("p_date").dataType == DateType)
    assert(JobCount.of("parquet-lake")(Parquet.read(spark, path)) == 0)
    val df = FileLoads.readWindow(spark, path, "2024-01-02")
    val scans = df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      s"the window read must prune at listing:\n${df.queryExecution.sparkPlan}")
  }

  test("missing paths and empty directories raise what Spark raises") {
    val tmp = Files.createTempDirectory("graft_pq_err").toString
    new File(s"$tmp/empty").mkdirs()
    for (paths <- Seq(Seq(s"$tmp/missing"), Seq(s"$tmp/empty"),
        Seq(s"${GraftSpark.Sf0001}/nation.parquet", s"$tmp/missing"))) {
      val inferred = outcome(spark.read.parquet(paths: _*))
      assert(inferred.isLeft, s"expected Spark to reject ${paths.mkString(", ")}")
      assert(outcome(Parquet.read(spark, paths: _*)) == inferred)
    }
  }

  test("footer choice: files of differing schemas read as Spark's inference reads them") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_pq_choice").toString
    def one(df: DataFrame, to: String): Unit = {
      val scratch = Files.createTempDirectory("graft_pq_one").toString + "/d"
      df.coalesce(1).write.parquet(scratch)
      val part = new File(scratch).listFiles.filter(_.getName.endsWith(".parquet")).head
      new File(to).getParentFile.mkdirs()
      Files.move(part.toPath, new File(to).toPath)
    }
    val ab = Seq((1L, "x")).toDF("a", "b")
    val ac = Seq((2L, 3.0)).toDF("a", "c")
    // one directory: the first full path wins, whichever file is newer
    one(ac, s"$tmp/flat/part-1.parquet")
    one(ab, s"$tmp/flat/part-0.parquet")
    // two roots: the sort runs over every root's files, not argument order
    one(ab, s"$tmp/legs/b/part-0.parquet")
    one(ac, s"$tmp/legs/a/part-0.parquet")
    // k=v partitions: the first partition's file
    one(ac, s"$tmp/parts/k=1/part-0.parquet")
    one(ab, s"$tmp/parts/k=2/part-0.parquet")
    // a summary file outranks every data file
    one(ab, s"$tmp/summary/part-0.parquet")
    one(ac, s"$tmp/summary/_common_metadata")
    for (paths <- Seq(Seq(s"$tmp/flat"), Seq(s"$tmp/legs/b", s"$tmp/legs/a"),
        Seq(s"$tmp/parts"), Seq(s"$tmp/summary")))
      assertSame(paths: _*)
    assert(Parquet.read(spark, s"$tmp/flat").columns.toSeq == Seq("a", "b"))
    assert(Parquet.read(spark, s"$tmp/summary").columns.toSeq == Seq("a", "c"))
  }

  /** Every non-hidden directory under `dir`, parents first. */
  private def dirsUnder(dir: File): Seq[File] =
    dir.listFiles().toSeq.filter(f => f.isDirectory && !f.getName.startsWith("_") &&
      !f.getName.startsWith(".")).sortBy(_.getName).flatMap(d => d +: dirsUnder(d))

  private def stage(src: String, df: DataFrame, name: String): Unit = {
    val scratch = Files.createTempDirectory("graft_pq_stage").toString
    df.coalesce(1).write.parquet(s"$scratch/$name")
    val part = new File(s"$scratch/$name").listFiles.filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(s"$src/$name.parquet").toPath)
  }

  test("maintained roots after maintain → erase → compact: every directory and " +
      "every multi-leg read match Spark's inference, with no job") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_pq_roots").toString
    // two source files before the erase and compaction, one after: each
    // member then holds a compacted leg and a tail leg
    def textSrc(name: String, part: Int): String = {
      val src = s"$tmp/$name-src"
      new File(src).mkdirs()
      stage(src, docs.filter(col("doc_id") % 3 === part), s"p$part")
      if (part == 0) stage(src, docs.filter(col("doc_id") % 3 === 1), "p1")
      src
    }
    val victims = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
    val bm25 = s"$tmp/bm25"
    def bm25Maintain(part: Int) = Incremental.streamBm25Maintain(spark,
      textSrc("bm25", part), bm25, "doc_id", "text", maxFilesPerTrigger = 1)
    bm25Maintain(0)
    Incremental.eraseBm25Maintained(spark, bm25, victims).collect()
    Incremental.compactBm25Maintained(spark, bm25)
    bm25Maintain(2)
    val minhash = s"$tmp/minhash"
    def minhashMaintain(part: Int) = Incremental.streamMinHashMaintain(spark,
      textSrc("minhash", part), minhash, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, maxFilesPerTrigger = 1)
    minhashMaintain(0)
    Incremental.eraseMinHashMaintained(spark, minhash, victims).collect()
    Incremental.compactMinHashMaintained(spark, minhash)
    minhashMaintain(2)
    val simjoin = s"$tmp/simjoin"
    def simjoinMaintain(part: Int) = Incremental.streamSimJoinMaintain(spark,
      textSrc("simjoin", part), simjoin, "doc_id", "text",
      shingleK = 3, threshold = 0.5, maxFilesPerTrigger = 1)
    simjoinMaintain(0)
    Incremental.eraseSimJoinMaintained(spark, simjoin, victims).collect()
    Incremental.compactSimJoinMaintained(spark, simjoin)
    simjoinMaintain(2)
    val ivfpq = s"$tmp/ivfpq"
    graft.ops.IvfPqIndex.write(graft.ops.IvfPqIndex.build(emb.filter(col("vec_id") % 10 =!= 0),
      "vec_id", "embedding", nlist = 16, numSubspaces = 8, numCodes = 16), ivfpq)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    def ivfpqMaintain(part: Int) = {
      stage(s"$tmp/ivf-src", delta.filter(col("vec_id") % 3 === part), s"p$part")
      Incremental.streamIvfPqMaintain(spark, s"$tmp/ivf-src", ivfpq, "vec_id", "embedding",
        maxFilesPerTrigger = 1)
    }
    new File(s"$tmp/ivf-src").mkdirs()
    stage(s"$tmp/ivf-src", delta.filter(col("vec_id") % 3 === 1), "p1")
    ivfpqMaintain(0)
    Incremental.eraseIvfPqMaintained(spark, ivfpq,
      emb.filter(col("vec_id") % 6 === 0).select("vec_id")).collect()
    Incremental.compactIvfPqMaintained(spark, ivfpq)
    ivfpqMaintain(2)

    for (root <- Seq(bm25, minhash, simjoin, ivfpq)) {
      val dirs = dirsUnder(new File(root)).map(_.getPath)
      assert(dirs.nonEmpty, s"no member directories under $root")
      dirs.foreach(assertSame(_))
      // multi-leg reads, all legs at once: the non-partition subdirectories
      // of each directory (`buckets/{compact_1,batch_3}`), and root-level
      // siblings of one name stem (`lists`, `lists_compact_1`, ...)
      val all = dirsUnder(new File(root))
      val siblings = all.groupBy(_.getParentFile.getPath).values.map(_.filterNot(_.getName.contains("=")))
      val stems = all.filter(_.getParentFile.getPath == root).groupBy(_.getName.takeWhile(_ != '_')).values
      val legs = (siblings ++ stems).map(_.map(_.getPath).sorted).filter(_.size > 1).toSeq.distinct
      assert(legs.nonEmpty, s"no multi-leg member under $root: ${dirs.mkString(", ")}")
      legs.foreach(l => assertSame(l: _*))
      val readable = dirs.filter(d => outcome(spark.read.parquet(d)).isRight)
      assert(JobCount.of(s"parquet-root-${new File(root).getName}")(
        readable.foreach(Parquet.read(spark, _))) == 0)
    }
    // and the maintained serves still read what they did
    assert(Incremental.readBm25Maintained(spark, bm25).postings.count() > 0)
  }
}
