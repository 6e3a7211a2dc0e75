package graft.etl

import java.net.URI
import java.nio.file.Files
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSpark, JobCount}

/** A local file system that crashes at its `crashAt`-th `rename` or
  * `delete` call and at every later one, as a process that died there
  * makes no further change. Registered as `fs.faulty.impl`, the seam
  * `LeaseSpec`'s `MockObjectStoreFs` uses. Its statuses carry default
  * permissions: the local ones load theirs through a `file:` URI.
  */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")

  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] = super.listStatus(f).map(plain)

  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, 1, s.getBlockSize, s.getModificationTime, s.getPath)

  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.step(); super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultyFs.step(); super.delete(p, recursive)
  }
}

object FaultyFs {
  val calls = new AtomicInteger
  @volatile var crashAt: Int = Int.MaxValue

  private def step(): Unit = {
    val n = calls.incrementAndGet()
    if (n >= crashAt) throw new java.io.IOException(s"injected crash at call $n")
  }
}

class FileLoadsSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private val ref = LocalDate.parse("2001-11-04")
  private def li = Tables.lineitem(spark, GraftSpark.Sf0001)

  test("L5 file-level: dynamic partition overwrite touches only incoming partitions; idempotent") {
    val path = Files.createTempDirectory("graft_fl").toString + "/t"
    FileLoads.overwriteAll(li, "l_shipdate", path)
    val before = spark.read.parquet(path).count()

    val window = li.filter(Windows.inWindow(col("l_shipdate"), ref, 30))
    val historyBefore = spark.read.parquet(path)
      .filter(col("p_date") < "2001-10-05").count()

    FileLoads.refreshWindow(spark, window, "l_shipdate", path)
    val after = spark.read.parquet(path)
    assert(after.count() == before) // same data: refresh replaced its own partitions
    assert(after.filter(col("p_date") < "2001-10-05").count() == historyBefore) // history untouched

    FileLoads.refreshWindow(spark, window, "l_shipdate", path) // re-run: no duplication
    assert(spark.read.parquet(path).count() == before)
  }

  test("partition pruning: date-window read scans only matching partitions") {
    val path = Files.createTempDirectory("graft_fl2").toString + "/t"
    FileLoads.overwriteAll(li, "l_shipdate", path)
    val df = FileLoads.readWindow(spark, path, "2001-10-05")
    val expected = li.filter(col("l_shipdate") >= lit("2001-10-05").cast("timestamp")).count()
    assert(df.count() == expected)
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PartitionFilters") || scan.contains("p_date"), "pruning should appear in the scan")
  }

  test("l9 canary: the one-week read-back scan carries NON-EMPTY partitionFilters " +
      "(pruned at listing, not post-scan)") {
    val path = Files.createTempDirectory("graft_fl_l9").toString + "/events"
    val ev = Tables.events(spark, GraftSpark.Sf0001)
    FileLoads.append(ev, "ts", path)
    val df = spark.read.parquet(path)
      .filter(col("p_date") >= "2024-01-10" && col("p_date") < "2024-01-17")
      .groupBy(col("p_date").cast("string").as("p_date"))
      .agg(count(lit(1)).as("n_events"))
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in the plan")
    scans.foreach(f => assert(f.partitionFilters.nonEmpty,
      s"scan lists ALL partitions — prune lost:\n$f"))
    // and the pruned result is right
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = ev.filter(date_format(col("ts"), "yyyy-MM-dd").between("2024-01-10", "2024-01-16"))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("Pipeline composes lazily and notifies success count") {
    var notified = -1L
    val n = new graft.notify.Notifier {
      def success(p: String, records: Long): Unit = notified = records
      def failure(p: String, e: Throwable): Unit = ()
    }
    val out = Files.createTempDirectory("graft_pl").toString + "/out"
    val count = Pipeline(
      name = "li_window",
      extract = () => li,
      notifier = n)
      .transform(df => df.filter(Windows.inWindow(col("l_shipdate"), ref, 30)))
      .transform(Sanitize.sanitizeInf)
      .run(df => df.write.mode("overwrite").parquet(out))
    assert(count > 0 && notified == count)
    assert(spark.read.parquet(out).count() == count)
  }

  test("erasePartitioned rewrites only affected partitions; fully-victim partitions vanish") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_erase").toString + "/t"
    // 3 days: d1 has victim 7 among others, d2 has NO victims, d3 is
    // ENTIRELY victim 9's rows (the dynamic-overwrite blind spot)
    val rows = Seq(
      (7L, "2024-01-01 01:00:00"), (1L, "2024-01-01 02:00:00"), (2L, "2024-01-01 03:00:00"),
      (3L, "2024-01-02 01:00:00"), (4L, "2024-01-02 02:00:00"),
      (9L, "2024-01-03 01:00:00"), (9L, "2024-01-03 02:00:00")
    ).toDF("user_id", "ts").withColumn("ts", col("ts").cast("timestamp"))
    FileLoads.overwriteAll(rows, "ts", dir)
    val untouchedFiles = partFiles(dir).filter(_._1.contains("2024-01-02"))
    val ledger = FileLoads.erasePartitioned(spark, dir, "user_id",
        Seq(7L, 9L).toDF("k"))
      .orderBy("p_date").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ledger.toSeq == Seq(
      ("2024-01-01", 3L, 2L, 1L),
      ("2024-01-03", 2L, 0L, 2L)))
    val back = spark.read.parquet(dir)
    assert(back.count() == 4) // d1: 2 retained, d2: 2 untouched, d3: gone
    assert(back.filter(col("user_id").isin(7L, 9L)).isEmpty, "victims survived")
    assert(!new java.io.File(dir, "p_date=2024-01-03").exists,
      "fully-victim partition directory must be deleted")
    // d2 was never rewritten: same file listing
    assert(partFiles(dir).filter(_._1.contains("2024-01-02")) == untouchedFiles)
    // no victims anywhere → empty ledger, target untouched
    assert(FileLoads.erasePartitioned(spark, dir, "user_id",
      Seq(999L).toDF("k")).isEmpty)
    assert(spark.read.parquet(dir).count() == 4)
    intercept[IllegalArgumentException] {
      FileLoads.erasePartitioned(spark, dir, "user_id", rows)
    }
    // erase-EVERYTHING: every remaining row is a victim — all partition
    // dirs vanish and the ledger still reports n_after = 0 (a parquet
    // read of the now-empty target would fail schema inference)
    val wipe = FileLoads.erasePartitioned(spark, dir, "user_id",
        Seq(1L, 2L, 3L, 4L).toDF("k"))
      .orderBy("p_date").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(wipe.toSeq == Seq(
      ("2024-01-01", 2L, 0L, 2L),
      ("2024-01-02", 2L, 0L, 2L)))
    assert(!new java.io.File(dir, "p_date=2024-01-01").exists)
    assert(!new java.io.File(dir, "p_date=2024-01-02").exists)
  }

  test("compact merges small files per partition, preserves data, skips healthy partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val li = Tables.lineitem(spark, GraftSpark.Sf0001).limit(2000)
    // simulate small-file accretion: 10 appends of 200 rows each
    (0 until 10).foreach { i =>
      FileLoads.append(li.filter(col("l_orderkey") % 10 === i), "l_shipdate", dir)
    }
    val beforeRows = spark.read.parquet(dir).collect().toSet
    val beforeFiles = partFiles(dir)
    assert(beforeFiles.values.exists(_ > 1), "fixture must start fragmented")

    // the fixture's files hold about one row each and are mostly footer
    // (about 3.1 KB), so a 4,000-byte target plans want = 4 for the two
    // partitions of 5 files and leaves every other partition healthy
    val small = 4000L
    var splitPlan = Map.empty[String, (Int, Int)]
    val t0 = System.nanoTime
    val splitJobs = JobCount.of("compact_small") {
      splitPlan = FileLoads.compact(spark, dir, targetFileBytes = small)
    }
    info(f"${splitPlan.size} partitions compacted in ${(System.nanoTime - t0) / 1e9}%.2f s")
    assert(splitPlan.values.exists(_._2 >= 2), s"no partition plans want >= 2: $splitPlan")
    val splitFiles = partFiles(dir)
    splitPlan.foreach { case (part, (nBefore, want)) =>
      assert(splitFiles(part) <= want && want < nBefore, s"$part: ${splitFiles(part)} files")
    }
    assert(FileLoads.compact(spark, dir, targetFileBytes = small).isEmpty)

    var plan = Map.empty[String, (Int, Int)]
    val jobs = JobCount.of("compact") {
      plan = FileLoads.compact(spark, dir, targetFileBytes = 1024L * 1024 * 1024)
    }
    assert(plan.size > splitPlan.size)
    // the shuffle and the write, however many partitions are fragmented
    // (one write per partition ran 444 jobs here); Spark lists only the
    // dirs it reads, and lists more than 32 (`parallelPartitionDiscovery.
    // threshold`) in one more job: 2 dirs serially, 442 in parallel
    assert(splitJobs == 2 && jobs == 3, s"jobs: ${splitPlan.size} partitions $splitJobs, " +
      s"${plan.size} partitions $jobs")
    val afterFiles = partFiles(dir)
    plan.foreach { case (part, (nBefore, want)) =>
      assert(afterFiles(part) == want && want < nBefore)
    }
    // untouched partitions keep their file layout
    (splitFiles.keySet -- plan.keySet).foreach { p =>
      assert(afterFiles(p) == splitFiles(p))
    }
    assert(spark.read.parquet(dir).collect().toSet == beforeRows)
    // idempotent: a second pass finds nothing to do
    assert(FileLoads.compact(spark, dir, targetFileBytes = 1024L * 1024 * 1024).isEmpty)
  }

  private def partFiles(dir: String): Map[String, Int] =
    new java.io.File(dir).listFiles().filter(f => f.isDirectory && f.getName.startsWith("p_date="))
      .map(p => p.getName -> p.listFiles().count(_.getName.endsWith(".parquet"))).toMap

  /** Rows of `day` (null: a null date) appended as one file. */
  private def appendDay(dir: String, day: String, keys: Long*): Unit = {
    import spark.implicits._
    FileLoads.append(keys.map(k => (k, Option(day).map(_ + " 01:00:00").orNull)).toDF("k", "ts")
      .withColumn("ts", col("ts").cast("timestamp")).coalesce(1), "ts", dir)
  }

  private def keysOf(dir: String): Seq[Long] =
    spark.read.parquet(dir).collect().map(_.getLong(0)).sorted.toSeq

  test("compact deletes a backup left beside its published partition") {
    // a crash after the publish rename, before or during the backup's
    // delete, leaves the backup beside a live partition
    val dir = Files.createTempDirectory("graft_stale").toString
    appendDay(dir, "2024-01-01", 1L, 2L)
    appendDay(dir, "2024-01-01", 3L, 4L)
    val live = new java.io.File(dir, "p_date=2024-01-01")
    val bak = new java.io.File(dir, ".compact_old_p_date=2024-01-01")
    val f = live.listFiles().filter(_.getName.endsWith(".parquet")).head
    bak.mkdirs()
    Files.copy(f.toPath, new java.io.File(bak, f.getName).toPath)
    assert(FileLoads.compact(spark, dir) == Map("p_date=2024-01-01" -> (2, 1)))
    assert(!bak.exists, "stale backup left behind")
    assert(partFiles(dir) == Map("p_date=2024-01-01" -> 1))
    assert(keysOf(dir) == Seq(1L, 2L, 3L, 4L))
  }

  private val NullDate = "__HIVE_DEFAULT_PARTITION__"

  test("compact: a crash at any rename or delete of its run, then a clean rerun, " +
      "leaves the same rows in healthy partitions") {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    // 3 partitions: two fragmented (2 files each), one of them the
    // default partition that null dates write to, and one healthy
    val fixture = Files.createTempDirectory("graft_crash").toString + "/t"
    appendDay(fixture, "2024-01-01", 1L, 2L)
    appendDay(fixture, null, 3L, 4L)
    appendDay(fixture, "2024-01-01", 5L, 6L)
    appendDay(fixture, null, 7L, 8L)
    appendDay(fixture, "2024-01-03", 9L, 10L)
    val keys = keysOf(fixture)
    def copy(): String = {
      val to = Files.createTempDirectory("graft_crash").resolve("t")
      val from = java.nio.file.Paths.get(fixture)
      Files.walk(from).forEach(p => Files.copy(p, to.resolve(from.relativize(p))))
      to.toString
    }
    def check(dir: String, what: String): Unit = {
      assert(keysOf(dir) == keys, what)
      assert(partFiles(dir) == Map("p_date=2024-01-01" -> 1, s"p_date=$NullDate" -> 1,
        "p_date=2024-01-03" -> 1), what)
      assert(!new java.io.File(dir).list().exists(_.startsWith(".compact")), what)
    }
    val t0 = System.nanoTime
    val clean = copy()
    FaultyFs.calls.set(0)
    assert(FileLoads.compact(spark, s"faulty://$clean").keySet ==
      Set("p_date=2024-01-01", s"p_date=$NullDate"))
    val n = FaultyFs.calls.get
    check(clean, "clean run")
    assert(n >= 7, s"$n renames and deletes") // 4 renames and 3 deletes of the publish alone
    (1 to n).foreach { k =>
      val dir = copy()
      FaultyFs.calls.set(0)
      FaultyFs.crashAt = k
      try intercept[Exception](FileLoads.compact(spark, s"faulty://$dir"))
      finally FaultyFs.crashAt = Int.MaxValue
      FileLoads.compact(spark, s"faulty://$dir")
      check(dir, s"crash at call $k of $n")
    }
    info(f"$n crash points in ${(System.nanoTime - t0) / 1e9}%.1f s")
  }

  test("format breadth: orc/csv/json sinks round-trip the documents table") {
    val docs = graft.etl.Tables.documents(spark, GraftSpark.Sf0001)
      .select("doc_id", "lang", "source", "n_chars") // csv: flat columns only
    val want = docs.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    Seq("orc", "json", "csv").foreach { fmt =>
      val dir = Files.createTempDirectory(s"graft_fmt_$fmt").toString
      docs.write.mode("overwrite").format(fmt).option("header", "true").save(dir)
      val back = spark.read.format(fmt)
        .option("header", "true").option("inferSchema", "true").load(dir)
        .select(col("doc_id").cast("long"), col("lang"), col("source"),
          col("n_chars").cast("long"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      assert(back == want, s"$fmt round-trip")
    }
  }
}
