package graft.streaming

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.etl.{Sanitize, Windows}
import graft.ops.Concurrent
import graft.sources.Parquet

/** Structured Streaming restatement of the reference's incremental Method-2
  * pipelines (SURVEY.md §2.9).
  *
  * The reference's "streaming" is an Airflow `@daily` re-run of a windowed
  * extract (`Template-to-MySQL/BigQuery-to-MySQL-Method-2.py:25,58`): a
  * micro-batch. Here that contract is expressed natively:
  * `Trigger.AvailableNow` = one catch-up micro-batch per scheduled run, a
  * 30-day watermark = the same "accept ≤30 days late, silently drop older"
  * late-data contract the reference's extract predicate implies.
  *
  * At scale: the file-source tracks processed files in the checkpoint, so a
  * daily run reads ONLY new files (the reference re-reads the whole window
  * every day); state for windowed aggregation is bounded by the watermark.
  */
object Incremental {
  import MaintainedRoot._

  /** Starts a streaming query with `spark.sql.shuffle.partitions`
    * temporarily set to `statePartitions` (when > 0) and blocks until it
    * terminates, restoring the session value only AFTER termination.
    *
    * The restore MUST NOT happen right after `start()`: Structured
    * Streaming captures the conf on the ASYNC micro-batch thread (first
    * `OffsetSeqMetadata`), so an immediate restore raced that capture and
    * nondeterministically launched the state store with the session
    * default (32 under the bench) instead of the sized value.
    * `AvailableNow` queries terminate on their own, so the session conf is
    * still restored promptly.
    */
  private def runWithStatePartitions(
      spark: SparkSession,
      statePartitions: Int)(
      startQuery: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    if (statePartitions > 0)
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try startQuery.awaitTermination()
    finally if (statePartitions > 0)
      spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Runs `stream` as one AvailableNow append into a fresh temp parquet
    * sink with its own temp checkpoint, state stores sized by
    * [[runWithStatePartitions]] (0 keeps the session default), and returns
    * the sink path once the run has terminated. The sink is distributed
    * files, so nothing accumulates on the driver. The checkpoint is of no
    * use once the run has terminated and is deleted then.
    */
  private def appendToTempSink(
      spark: SparkSession,
      stream: org.apache.spark.sql.Dataset[_],
      name: String,
      statePartitions: Int): String = {
    val sink = java.nio.file.Files.createTempDirectory(s"graft_${name}sink")
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft_${name}ckpt")
    try runWithStatePartitions(spark, statePartitions) {
      stream.writeStream.format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
    } finally deleteDir(spark, ckpt.toString)
    sink.toString
  }

  /** Recursively deletes a scratch directory through the Hadoop
    * `FileSystem` of its path.
    */
  private def deleteDir(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Spark's file stream source requires a DIRECTORY basePath; fixture
    * tables are single files — stream the parent dir with a
    * `pathGlobFilter` on the file name. The probe goes through the Hadoop
    * `FileSystem` of the path, so it runs on object stores too, and the
    * schema comes from the named file's (or the directory's) footer.
    */
  private[streaming] def streamSource(
      spark: SparkSession,
      srcPath: String,
      options: Map[String, String] = Map.empty) = {
    val p = new org.apache.hadoop.fs.Path(srcPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isFile =
      try fs.getFileStatus(p).isFile
      catch { case _: java.io.FileNotFoundException => false }
    val (dir, globFilter) =
      if (isFile) (p.getParent.toString, p.getName) else (srcPath, "*")
    val schema = Parquet.schemaOf(spark, srcPath)
    spark.readStream.schema(schema).option("pathGlobFilter", globFilter)
      .options(options).parquet(dir)
  }

  /** EXCLUSIVE MUTATOR LEASE on a maintained index root. Every mutator —
    * a [[MaintainedRoot.runBatchCommitted]] maintainer run, a compaction,
    * an erase, a model rebuild's multi-pass read — runs under this fence:
    * the `_graft_lease` marker is created atomically (NIO `O_EXCL` create on
    * local paths — Hadoop's local create-without-overwrite is a
    * non-atomic exists-then-create — and the atomic namespace create on
    * HDFS-class stores; object stores without atomic create need an
    * external lock service), so when two
    * mutators interleave the LOSER FAILS LOUDLY before touching a byte —
    * instead of, say, a compaction sweeping a batch dir whose erase
    * rewrite then lands nowhere (victims silently resurfacing) or a
    * maintainer's mid-commit batch dir being merged half-written. The
    * former "caller contract: the maintainer is not running during
    * compaction" is now ENFORCED, not assumed. An exception inside the
    * body releases the lease (the mutation stopped; every mutator is
    * crash-idempotent, so the re-run completes the interrupted work); a
    * hard crash leaves the lease behind BY DESIGN — fail-safe — and the
    * operator, having confirmed the holder is dead, clears it with
    * [[breakRootLease]].
    */
  // private[streaming]: the non-atomic-create shim spec drives the
  // object-store branch directly (no public mutator takes a mockfs root)
  private[streaming] def withRootLease[T](
      conf: org.apache.hadoop.conf.Configuration,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      what: String,
      holder: String)(body: => T): T = {
    val lease = new org.apache.hadoop.fs.Path(root, LeaseName)
    val token = s"holder=$holder pid=${ProcessHandle.current().pid()} " +
      s"nonce=${java.util.UUID.randomUUID()}"
    def leasedError(e: Exception): Nothing = {
      val held =
        try readUtf8(conf, lease).trim
        catch { case _: Exception => "holder unreadable" }
      throw new IllegalStateException(
        s"$what at $root is LEASED by a concurrent mutator ($held): " +
          "maintain/compact/erase/rebuild must not interleave on one " +
          "root — wait for the holder, or if it crashed, clear the " +
          "lease with Incremental.breakRootLease (every mutator is " +
          "crash-idempotent, so the re-run completes its work)", e)
    }
    try {
      val scheme = Option(fs.makeQualified(lease).toUri.getScheme).getOrElse("file")
      if (scheme == "file") {
        // local filesystems: Hadoop's create(overwrite=false) is a
        // non-atomic exists-check-then-create — use NIO's O_EXCL create
        // (token written after; the CREATE is the lock)
        val p = java.nio.file.Paths.get(
          fs.makeQualified(lease).toUri.getPath)
        java.nio.file.Files.createFile(p)
        // a failure AFTER the atomic create must not orphan an empty
        // lease that blocks every future mutator (the HDFS branch's
        // convention): delete the just-created file and rethrow
        try java.nio.file.Files.writeString(p, token)
        catch { case e: Throwable =>
          java.nio.file.Files.deleteIfExists(p); throw e }
      } else if (leaseObjectStoreSchemes(conf).contains(scheme) &&
          !leaseConditionalCreate(conf, scheme)) {
        // object stores WITHOUT an atomic create-no-overwrite (S3-class:
        // create may be a HEAD-then-PUT, and a plain PUT overwrites):
        // explicit exists-check (some connectors skip even the HEAD),
        // then create, then READ-BACK-VERIFY — every contender writes its
        // own unique token, and only the contender whose token is stored
        // proceeds; a settle re-read narrows the last-writer-overwrite
        // window. RESIDUAL RACE, documented: two contenders whose
        // exists-to-PUT windows overlap can both pass when the second PUT
        // lands after the first's settle re-read — only a true
        // conditional put closes it (S3 If-None-Match). Connectors that
        // ADVERTISE the conditional put (see [[leaseConditionalCreate]])
        // are routed to the atomic branch below instead, where the create
        // itself is the decision and this verify never runs.
        if (fs.exists(lease)) leasedError(
          new org.apache.hadoop.fs.FileAlreadyExistsException(lease.toString))
        writeTokenOrCleanUp(fs, lease, token, guardedCleanup = true)
        // the loser must NOT delete here: the stored token is the winner's
        def verifyHeld(): Unit = {
          val held = try readUtf8(conf, lease).trim
                     catch { case _: Exception => "" }
          if (held != token) leasedError(
            new org.apache.hadoop.fs.FileAlreadyExistsException(
              s"read-back-verify lost the lease race at $lease"))
        }
        verifyHeld()
        Thread.sleep(conf.getLong("graft.lease.settle.ms", 100L))
        verifyHeld()
      } else {
        // HDFS-class stores — and object stores whose connector advertises
        // an ATOMIC create-no-overwrite (Hadoop 3.4.1+ S3 If-None-Match):
        // the create itself decides the race; exactly one contender's
        // create succeeds, so no exists-check or read-back-verify is
        // needed and the residual overlapping-PUT window does not exist
        writeTokenOrCleanUp(fs, lease, token)
      }
    } catch {
      // only already-exists means "someone holds it" — other IO failures
      // (permissions, read-only store) surface as themselves
      case e: org.apache.hadoop.fs.FileAlreadyExistsException => leasedError(e)
      case e: java.nio.file.FileAlreadyExistsException => leasedError(e)
    }
    try body finally fs.delete(lease, false)
  }

  /** Create `lease` (no-overwrite) and write `token` — with close()
    * INSIDE the guarded region: on object stores the close IS the PUT
    * (write only buffers), and on HDFS it performs the flush, so a
    * close-time failure could otherwise orphan a created-but-dead lease
    * that blocks every future mutator. On any failure: best-effort close,
    * best-effort delete of the just-created lease, rethrow the ORIGINAL
    * exception.
    */
  private def writeTokenOrCleanUp(
      fs: org.apache.hadoop.fs.FileSystem,
      lease: org.apache.hadoop.fs.Path,
      token: String,
      guardedCleanup: Boolean = false): Unit = {
    val out = fs.create(lease, false)
    var closed = false
    try { out.write(token.getBytes("UTF-8")); out.close(); closed = true }
    catch { case e: Throwable =>
      if (!closed) { try out.close() catch { case _: Throwable => () } }
      // Guarded mode (the silently-overwriting object-store branch): a
      // concurrent winner's PUT may have landed between this contender's
      // failed PUT and now, so an unconditional delete could evict the
      // WINNER's lease and let a third mutator acquire alongside it.
      // Delete only when the stored token is OURS (our PUT landed despite
      // the close-time failure); anything else — another holder's token,
      // or an unreadable/partial object — is left in place for the
      // operator's breakRootLease, the documented orphan path. Atomic
      // branches (local O_EXCL, HDFS-class, conditional create) keep the
      // unconditional delete: there the created object is provably ours.
      val ours = !guardedCleanup || {
        try {
          val in = fs.open(lease)
          try new String(in.readAllBytes(), "UTF-8").trim == token
          finally in.close()
        } catch { case _: Throwable => false }
      }
      if (ours) { try fs.delete(lease, false) catch { case _: Throwable => () } }
      throw e
    }
  }

  private val LeaseName = "_graft_lease"

  /** Schemes [[withRootLease]] treats as S3-class object stores (no
    * atomic create-no-overwrite). Extensible without a rebuild via the
    * Hadoop conf key `graft.lease.objectstore.schemes` (comma-separated)
    * — also the test seam for the non-atomic-create shim spec. Schemes
    * in neither this set nor {file} take the HDFS-class branch (atomic
    * namespace create). private[streaming]: LeaseSpec pins the dispatch.
    */
  private[streaming] def leaseObjectStoreSchemes(
      conf: org.apache.hadoop.conf.Configuration): Set[String] =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs",
        "oss", "cos", "cosn", "swift") ++
      conf.getTrimmedStrings("graft.lease.objectstore.schemes").toSet

  /** Whether `scheme`'s connector advertises an ATOMIC
    * create-no-overwrite, closing the object-store branch's residual
    * overlapping-PUT race end-to-end: Hadoop 3.4.1+'s s3a exposes the S3
    * If-None-Match conditional put behind
    * `fs.s3a.create.conditional.enabled` (create(overwrite=false) then
    * throws atomically). Such schemes take [[withRootLease]]'s atomic
    * branch — no exists-check, no read-back-verify, no settle. Other
    * connectors with the same guarantee opt in via the conf key
    * `graft.lease.conditional.schemes` (comma-separated) — also the test
    * seam for the conditional-store shim spec.
    */
  private[streaming] def leaseConditionalCreate(
      conf: org.apache.hadoop.conf.Configuration, scheme: String): Boolean =
    (scheme == "s3a" &&
      conf.getBoolean("fs.s3a.create.conditional.enabled", false)) ||
      conf.getTrimmedStrings("graft.lease.conditional.schemes").toSet
        .contains(scheme)

  /** Clear a crashed mutator's root lease — the OPERATOR's break-glass
    * step after confirming the recorded holder is dead (see
    * [[withRootLease]]). Returns true when a lease was present.
    */
  def breakRootLease(spark: SparkSession, indexPath: String): Boolean = {
    val lease = new org.apache.hadoop.fs.Path(indexPath, LeaseName)
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(lease, false)
  }

  /** Streaming incremental refresh: new files → window filter → sanitize →
    * append to a parquet target. One `AvailableNow` micro-batch per
    * invocation, exactly-once via checkpoint — the reference's L5
    * idempotent refresh without the delete+re-append churn.
    */
  def incrementalRefresh(
      spark: SparkSession,
      srcPath: String,
      dateCol: String,
      refDate: LocalDate,
      days: Int,
      targetPath: String,
      checkpointPath: String): Unit = {
    val in = streamSource(spark, srcPath)
    val windowed = Sanitize.sanitizeInf(
      in.filter(Windows.inWindow(col(dateCol), refDate, days)))
    val q = windowed.writeStream
      .format("parquet")
      .option("path", targetPath)
      .option("checkpointLocation", checkpointPath)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Event-time windowed aggregation with watermark over a parquet stream,
    * run to completion as one AvailableNow micro-batch; returns the result
    * as a DataFrame (memory sink). Demonstrates the
    * watermark + `window()` surface the reference's daily cadence maps to.
    *
    * Window duration in seconds; windows are epoch-aligned (Spark default),
    * so `window_start = floor(epoch(ts)/windowSec)*windowSec` — the batch/
    * DuckDB-checkable contract.
    */
  def windowedCounts(
      spark: SparkSession,
      srcPath: String,
      tsCol: String,
      keyCol: String,
      valCol: String,
      windowSec: Long,
      watermark: String): DataFrame = {
    // watermarks need TIMESTAMP (ltz); parquet yields NTZ — session is UTC,
    // so the cast is instant-preserving (FIXTURES.md §C), and the window
    // start is cast back to NTZ for parquet-dump comparability.
    val in = streamSource(spark, srcPath)
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
    val agg = in
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), s"$windowSec seconds"), col(keyCol))
      .agg(count(lit(1)).as("n"), round(sum(valCol), 4).as("sum_val"))
    val qName = "graft_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = agg.writeStream
      .format("memory")
      .queryName(qName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(qName)
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col(keyCol), col("n"), col("sum_val"))
  }

  /** Staged input dirs for [[windowedCountsAppend]]: source file(s) copied
    * once per (machine, source, window, watermark) plus two WATERMARK-DRIVER
    * sentinel rows in later-mtime files. In append mode a window is emitted
    * only once the watermark passes its end, and a bounded input's final
    * windows would otherwise stay open forever; the sentinels (event times
    * beyond max + watermark + window) arrive in their own micro-batches and
    * push the watermark past every real window — the bounded-input
    * equivalent of the next day's data arriving. Sentinel keys are filtered
    * from the result.
    */
  private object StagedStream {
    val SentinelKey = "__graft_watermark_driver"
    /** Sentinel key value for NUMERIC key columns ([[SentinelKey]] serves
      * string keys): far outside any fixture id space.
      */
    val SentinelId = -987654321L
    private val memo = new java.util.concurrent.ConcurrentHashMap[String, String]()

    /** Sentinel literal matching the key column's type. */
    def sentinelFor(dt: org.apache.spark.sql.types.DataType) = dt match {
      case org.apache.spark.sql.types.StringType => lit(SentinelKey)
      case other => lit(SentinelId).cast(other)
    }

    /** Event-time column as TIMESTAMP: the events fixture streams `ts` as
      * raw nanos (LongType via nanosAsLong) — µs-truncate like the batch
      * reader; genuine date/timestamp columns just cast.
      */
    def tsAsTimestamp(dt: org.apache.spark.sql.types.DataType, tsCol: String) =
      dt match {
        case org.apache.spark.sql.types.LongType =>
          timestamp_micros(expr(s"$tsCol div 1000"))
        case _ => col(tsCol).cast("timestamp")
      }

    /** A timestamp re-expressed in the source column's type (raw nanos for
      * LongType columns — the inverse of [[tsAsTimestamp]]).
      */
    def tsLiteral(dt: org.apache.spark.sql.types.DataType, ts: java.sql.Timestamp) =
      dt match {
        case org.apache.spark.sql.types.LongType => lit(ts.getTime * 1000000L)
        case other => lit(ts).cast(other)
      }

    def dir(
        spark: SparkSession,
        srcPath: String,
        tsCol: String,
        keyCol: String,
        windowSec: Long,
        watermarkSec: Long): String =
      memo.computeIfAbsent(s"$srcPath|$tsCol|$keyCol|$windowSec|$watermarkSec",
        _ => materialize(spark, srcPath, tsCol, keyCol, windowSec, watermarkSec))

    private def materialize(
        spark: SparkSession,
        srcPath: String,
        tsCol: String,
        keyCol: String,
        windowSec: Long,
        watermarkSec: Long): String = {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      import java.nio.file.attribute.FileTime
      val key = s"$srcPath|$tsCol|$keyCol|$windowSec|$watermarkSec"
      val base = Paths.get(System.getProperty("java.io.tmpdir"),
        "graft_stream_" + Integer.toHexString(key.hashCode))
      val data = base.resolve("data")
      if (!Files.exists(base.resolve("_SUCCESS"))) {
        val tmp = Files.createTempDirectory("graft_stream_build")
        val tmpData = Files.createDirectory(tmp.resolve("data"))
        val src = new java.io.File(srcPath)
        val parts = if (src.isFile) Array(src) else src.listFiles().filter(_.isFile)
        val t0 = FileTime.fromMillis(1000000000000L) // fixed epoch: data first
        parts.sortBy(_.getName).foreach { f =>
          val dst = tmpData.resolve(f.getName)
          Files.copy(f.toPath, dst, StandardCopyOption.COPY_ATTRIBUTES)
          Files.setLastModifiedTime(dst, t0)
        }
        // sentinel event times: beyond max + watermark + 2 windows (and one
        // more window after that) so the post-sentinel watermark clears
        // every real window end
        val batch = Parquet.read(spark, tmpData.toString)
        val tsType = batch.schema(tsCol).dataType
        val maxTs = batch.agg(max(tsAsTimestamp(tsType, tsCol))).head().getTimestamp(0)
        val s1 = new java.sql.Timestamp(maxTs.getTime + (watermarkSec + 2 * windowSec) * 1000)
        val s2 = new java.sql.Timestamp(s1.getTime + windowSec * 1000)
        Seq(("sentinel_1.parquet", s1, 60L), ("sentinel_2.parquet", s2, 120L)).foreach {
          case (name, ts, mtimeOffsetSec) =>
            val row = batch.limit(1)
              .withColumn(tsCol, tsLiteral(tsType, ts))
              .withColumn(keyCol, sentinelFor(batch.schema(keyCol).dataType))
            val out = Files.createTempDirectory("graft_sentinel")
            row.coalesce(1).write.mode("overwrite").parquet(out.toString)
            val part = out.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
            val dst = tmpData.resolve(name)
            Files.move(part.toPath, dst)
            deleteDir(spark, out.toString)
            Files.setLastModifiedTime(dst,
              FileTime.fromMillis(1000000000000L + mtimeOffsetSec * 1000))
        }
        Files.createFile(tmp.resolve("_SUCCESS"))
        try Files.move(tmp, base, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.DirectoryNotEmptyException |
               _: java.nio.file.FileSystemException => () // concurrent publisher won
        }
      }
      data.toString
    }
  }

  /** Event-time windowed aggregation in APPEND mode to a FILE sink — the
    * 100 TB shape ([[windowedCounts]] is the complete-mode/memory-sink
    * comparison baseline; complete mode retains every window in state
    * forever and materializes the whole result on the driver per batch).
    *
    * Here state holds only open windows (bounded by the watermark), each
    * window is written exactly once when the watermark closes it, and the
    * sink is distributed files — nothing accumulates on the driver. Files
    * stream one micro-batch each (`maxFilesPerTrigger=1`) so the
    * [[StagedStream]] watermark-driver sentinels advance the watermark in
    * their own batches and flush the final real windows before the
    * AvailableNow run terminates.
    *
    * Returns the sink read back (sentinel rows filtered) for verification;
    * a production pipeline would leave the results in place and point
    * downstream jobs at the sink path.
    */
  def windowedCountsAppend(
      spark: SparkSession,
      srcPath: String,
      tsCol: String,
      keyCol: String,
      valCol: String,
      windowSec: Long,
      watermarkSec: Long,
      statePartitions: Int = 0): DataFrame = {
    val staged = StagedStream.dir(spark, srcPath, tsCol, keyCol, windowSec, watermarkSec)
    val schema = Parquet.schemaOf(spark, staged)
    // all files land in ONE micro-batch (data + watermark-driver
    // sentinels); the watermark advances past every real window at its
    // end, and the engine's final no-data micro-batch
    // (spark.sql.streaming.noDataMicroBatches, default on) emits the
    // closed windows — 2 micro-batches total instead of one per file,
    // halving the fixed per-batch state-store/commit overhead
    val in = spark.readStream.schema(schema)
      .parquet(staged)
      .withColumn(tsCol, col(tsCol).cast("timestamp"))
    val agg = in
      .withWatermark(tsCol, s"$watermarkSec seconds")
      .groupBy(window(col(tsCol), s"$windowSec seconds"), col(keyCol))
      .agg(count(lit(1)).as("n"), round(sum(valCol), 4).as("sum_val"))
    // state partitions = state-store instances, fixed at first start from
    // spark.sql.shuffle.partitions. Size to STATE KEY cardinality (here:
    // windows × keys), not to the session's data-scale shuffle default —
    // every store pays per-micro-batch load/commit I/O whether or not it
    // holds keys, so over-provisioning tiny-state streams multiplies fixed
    // overhead (measured 2× on the fixture). High-cardinality 100 TB
    // streams pass a correspondingly high value.
    val sink = appendToTempSink(spark, agg, "win", statePartitions)
    Parquet.read(spark, sink)
      // null-safe: a NULL key group is real data, only the sentinel goes
      .filter(!(col(keyCol) <=> StagedStream.SentinelKey))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col(keyCol), col("n"), col("sum_val"))
  }

  /** Streaming drift monitor — the Kappa split applied to the
    * [[graft.ops.Drift]] family: daily categorical-mix counts close in
    * APPEND mode through [[windowedCountsAppend]] (watermark-bounded
    * state, one (window × category) count per state key), then each
    * closed day PSI-scores against the FIXED reference-period profile
    * (windows before `refEnd`) in a batch pass over the sink:
    *
    *   psi(day) = Σ_cats (p_ref − q_day) · ln(p_ref / q_day)
    *
    * with the usual eps clamps, so a category that VANISHES on a day —
    * or one the reference never saw — contributes its bounded ln-ratio
    * instead of disappearing. The day × category grid is
    * dimension-sized (closed-window profile), never event-sized; the
    * reference total rides a broadcast one-row aggregate.
    *
    * Output per monitored day: (day, psi 4 dp, n_day, drifted at the
    * classic 0.2 threshold) — the continuously-maintained form of the
    * batch `drift_psi_categorical` gate.
    */
  def streamDriftMonitor(
      spark: SparkSession,
      srcPath: String,
      tsCol: String,
      catCol: String,
      valCol: String,
      refEnd: String,
      windowSec: Long = 86400L,
      watermarkSec: Long = 30L * 86400,
      statePartitions: Int = 0,
      eps: Double = 1e-6): DataFrame = {
    require(eps > 0 && eps < 0.5, s"eps must be in (0, 0.5): $eps")
    val closed = windowedCountsAppend(spark, srcPath, tsCol, catCol, valCol,
      windowSec, watermarkSec, statePartitions)
    val refEndTs = lit(refEnd).cast("timestamp_ntz")
    val ref = closed.filter(col("window_start") < refEndTs)
      .groupBy(col(catCol)).agg(sum(col("n")).as("__nr"))
    val cur = closed.filter(col("window_start") >= refEndTs)
      .select(col("window_start").as("day"), col(catCol), col("n").as("__nc"))
    // day × category completion grid: categories from EITHER side, so
    // vanished and novel categories both score (both frames are closed-
    // window profiles — dimension-sized, the crossJoin is bounded)
    val days = cur.select("day").distinct()
    val cats = ref.select(col(catCol)).unionByName(cur.select(col(catCol))).distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("day")
    days.crossJoin(broadcast(cats))
      .join(broadcast(ref), Seq(catCol), "left")
      .join(cur, Seq("day", catCol), "left")
      .withColumn("__nr", coalesce(col("__nr"), lit(0L)))
      .withColumn("__nc", coalesce(col("__nc"), lit(0L)))
      .crossJoin(broadcast(ref.agg(sum(col("__nr")).as("__tr"))))
      .withColumn("__tc", sum(col("__nc")).over(w))
      .withColumn("__p", greatest(col("__nr") / col("__tr"), lit(eps)))
      .withColumn("__q", greatest(col("__nc") / col("__tc"), lit(eps)))
      .groupBy(col("day"))
      .agg(
        round(sum((col("__p") - col("__q")) * log(col("__p") / col("__q"))), 4)
          .as("psi"),
        sum(col("__nc")).as("n_day"))
      .withColumn("drifted", col("psi") > 0.2d)
  }

  /** Streaming trending-keys: windowed counts close in APPEND mode
    * through [[windowedCountsAppend]]'s watermark/file-sink shape, then
    * the top-`k` keys of each CLOSED window rank in a batch pass over the
    * sink — the Kappa split (the stream owns window closure and bounded
    * state; ranking, which append-mode streaming cannot express, serves
    * from the sink). The rank window partitions by ONE window, so its
    * width is that window's distinct-key count — key-vocabulary-bounded,
    * never the event volume (the counts are already aggregated).
    */
  def streamTopKPerWindow(
      spark: SparkSession,
      srcPath: String,
      tsCol: String,
      keyCol: String,
      valCol: String,
      windowSec: Long,
      watermarkSec: Long,
      k: Int,
      statePartitions: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val closed = windowedCountsAppend(spark, srcPath, tsCol, keyCol, valCol,
      windowSec, watermarkSec, statePartitions)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start").orderBy(col("n").desc, col(keyCol))
    closed.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
  }

  /** Stream-STATIC enrichment join + windowed aggregation: the streaming
    * events enrich against a bounded dimension (re-read per micro-batch,
    * broadcast — the hint matters at real scale where the batch planner
    * sees fresh dimension stats each micro-batch), then count per
    * (event-time window, dimension value). The canonical "events × user
    * segment" streaming shape; the static side holds NO streaming state —
    * only the window aggregate does.
    *
    * Uses the staged-stream sentinel harness so the watermark provably
    * closes every window inside the run (sentinel keys never survive the
    * inner dimension join). Returns the append-mode sink read back.
    */
  def streamEnrichStatic(
      spark: SparkSession,
      srcPath: String,
      tsCol: String,
      keyCol: String,
      dim: DataFrame,
      dimKeyCol: String,
      dimValCol: String,
      windowSec: Long,
      watermarkSec: Long,
      statePartitions: Int = 0): DataFrame = {
    val staged = StagedStream.dir(spark, srcPath, tsCol, keyCol, windowSec, watermarkSec)
    val schema = Parquet.schemaOf(spark, staged)
    val tsTs = StagedStream.tsAsTimestamp(schema(tsCol).dataType, tsCol)
    val in = spark.readStream.schema(schema).parquet(staged)
      .select(col(keyCol), tsTs.as("__ts"))
      .withWatermark("__ts", s"$watermarkSec seconds")
    val enriched = in.join(
      broadcast(dim.select(col(dimKeyCol).as(keyCol), col(dimValCol))), Seq(keyCol))
    val agg = enriched
      .groupBy(window(col("__ts"), s"$windowSec seconds"), col(dimValCol))
      .agg(count(lit(1)).as("n"))
    val sink = appendToTempSink(spark, agg, "ses", statePartitions)
    Parquet.read(spark, sink)
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col(dimValCol), col("n"))
  }

  /** Stream-stream interval join (inner): rows of `leftValue` type join
    * rows of `rightValue` type on `keyCol` when the right event lands in
    * `[left.ts, left.ts + maxDelaySec]` — the attribution/conversion join
    * (view→purchase) as a genuinely streaming operator.
    *
    * Both sides carry a watermark and the join condition bounds both event
    * times, so Spark can evict joined state: left rows age out once the
    * right watermark passes `l_ts + maxDelaySec`, right rows once the left
    * watermark passes `r_ts` — state is bounded by delay + lateness, not
    * by stream length. Inner-join matches emit as they are found (no
    * window-close wait), appended to a file sink; nothing accumulates on
    * the driver. Returns the sink read back for verification.
    */
  def streamIntervalJoin(
      spark: SparkSession,
      srcPath: String,
      tsCol: String,
      keyCol: String,
      typeCol: String,
      leftValue: String,
      rightValue: String,
      maxDelaySec: Long,
      watermarkSec: Long,
      statePartitions: Int = 0): DataFrame = {
    val src = streamSource(spark, srcPath)
    // events.ts may stream as raw nanos (LongType via nanosAsLong) or a
    // genuine timestamp — one shared dispatcher so every path adapts alike
    val tsTs = StagedStream.tsAsTimestamp(src.schema(tsCol).dataType, tsCol)
    val left = src.filter(col(typeCol) === leftValue)
      .select(col(keyCol).as(keyCol), tsTs.as("l_ts"))
      .withWatermark("l_ts", s"$watermarkSec seconds")
    val right = src.filter(col(typeCol) === rightValue)
      .select(col(keyCol).as("__rk"), tsTs.as("r_ts"))
      .withWatermark("r_ts", s"$watermarkSec seconds")
    val joined = left.join(right,
      col(keyCol) === col("__rk") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxDelaySec SECONDS"))
      .select(col(keyCol), col("l_ts"), col("r_ts"))
    // a stream-stream join keeps FOUR state-store instances per partition
    // (keyed + key-with-index, per side), so over-provisioned partitions
    // multiply per-micro-batch store load/commit overhead 4× faster than a
    // windowed agg does — size to join-key cardinality (see the
    // windowedCountsAppend note), not to the session's shuffle default
    val sink = appendToTempSink(spark, joined, "ssj", statePartitions)
    Parquet.read(spark, sink)
  }

  /** Continuous Method-2: stream new files and MERGE-upsert each
    * micro-batch into a JDBC target via `foreachBatch` — the reference's
    * daily extract + `ON DUPLICATE KEY UPDATE` load
    * (`Template-to-MySQL/PgSQL-to-MySQL-Method-2.py`) as a checkpointed
    * exactly-once* streaming pipeline (*at-least-once delivery; the keyed
    * MERGE makes redelivery idempotent, which is the point).
    * `maxParallelism > 0` caps writer partitions (embedded targets with
    * weak concurrency, e.g. Derby, need 1).
    */
  def streamMergeToJdbc(
      spark: SparkSession,
      srcPath: String,
      url: String,
      table: String,
      keys: Seq[String],
      dialect: String,
      user: String = "",
      password: String = "",
      maxParallelism: Int = 0): Unit = {
    val in = streamSource(spark, srcPath)
    val q = in.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = if (maxParallelism > 0) batch.coalesce(maxParallelism) else batch
        graft.sinks.JdbcUpsert.write(b, url, table, user, password, keys, dialect)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming rollup maintenance: [[graft.etl.Loads.mergeAggregate]]
    * applied PER MICRO-BATCH via foreachBatch — each batch of raw facts
    * partial-aggregates and merges into the parquet rollup, so the
    * continuously-maintained aggregate costs O(|batch| + |rollup|) per
    * trigger and never rescans accumulated history. The rollup must be
    * GROUP-BOUNDED (dimension-sized — the materialized-view shape);
    * snapshots compact to a single file by default, and a rollup whose
    * key space is data-sized (per-user, per-document) sets
    * `snapshotPartitions > 1` to write each snapshot key-hashed in
    * parallel instead of serializing the merge through one task.
    *
    * Exactly-once by BATCH-STAMPED SNAPSHOTS: foreachBatch is
    * at-least-once (the checkpoint's batch-id dedup only covers batches
    * whose checkpoint commit completed — a crash between the rollup
    * write and that commit replays the batch), so the merge itself must
    * be idempotent. Each batch writes a fresh `snap_<batchId>` dir under
    * `rollupPath` (never overwriting the snapshot being read — no
    * driver round-trip of the rollup rows needed); a replayed batch
    * finds its own COMMITTED snapshot (`_SUCCESS` present) and skips —
    * a crash mid-write leaves no `_SUCCESS`, so the replay simply
    * rewrites the same deterministic merge. Superseded snapshots are
    * retired (latest two kept), bounding storage at 2× the rollup.
    *
    * RUN-IDENTITY GUARD: batch ids are comparable only within ONE
    * checkpoint lineage — a fresh checkpoint restarts them at 0, so its
    * live batches would collide with historical `snap_<id>` dirs and be
    * silently skipped as "already committed" (data loss). The rollup
    * therefore carries a `_graft_query_id` stamp (the streaming query id
    * from the checkpoint's `metadata` file — stable across checkpoint
    * COPIES/restores, fresh for a new checkpoint), and a run whose
    * checkpoint identity does not match the stamp fails loudly instead
    * of merging. A null `checkpointPath` derives the stable
    * `<rollupPath>/_checkpoint` instead of a throwaway temp dir, so the
    * shorthand call is genuinely incremental across runs.
    *
    * Returns the final rollup (latest committed snapshot) for
    * verification.
    */
  def streamRollupMaintain(
      spark: SparkSession,
      srcPath: String,
      rollupPath: String,
      keys: Seq[String],
      specs: Seq[graft.etl.Loads.AggSpec],
      countCol: String,
      checkpointPath: String,
      snapshotPartitions: Int): org.apache.spark.sql.DataFrame = {
    require(snapshotPartitions >= 1,
      s"snapshotPartitions must be >= 1: $snapshotPartitions")
    val in = streamSource(spark, srcPath)
    // the checkpoint is the incremental contract: re-running with the
    // SAME checkpoint merges only files that arrived since the last run
    // (a fresh checkpoint would re-merge history and double-count)
    val ckptStr = checkpointOf(rollupPath, checkpointPath)
    // Hadoop FS, not java.nio: the rollup lives wherever the table lives
    // (HDFS/S3/local) — snapshot listing and retirement must go through
    // the same filesystem the parquet writer commits to
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(rollupPath)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    assertRunIdentity(conf, fs, root, ckptStr, "rollup")
    val q = in.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val snaps = committedSnaps(fs, root)
        snaps.find(_._1 == batchId) match {
          case Some((_, dir)) =>
            // at-least-once replay of an already-committed batch: skip —
            // but only over the SAME file set it committed with (a
            // restored-older checkpoint re-plans this id over MORE files;
            // see batchFilesSig). Pre-sig snapshots (no _graft_files)
            // read as empty and skip silently, as before.
            val sigPath = new org.apache.hadoop.fs.Path(dir, "_graft_files")
            if (fs.exists(sigPath))
              assertReplayedBatchUnchanged(conf, sigPath,
                batchFilesSig(conf, ckptStr, batchId), "rollup", batchId)
          case None =>
          // a batch id BELOW the newest committed snapshot whose own
          // snapshot is GONE is a replay from a checkpoint restored past
          // the keep-2 retention horizon — treating it as new would merge
          // into the wrong (or empty) base and the retirement would
          // immediately drop the result: fail loudly instead of silently
          // corrupting the rollup
          require(snaps.isEmpty || batchId > snaps.last._1,
            s"rollup batch $batchId replayed but its snapshot was retired " +
              s"(retained: ${snaps.map(_._1).mkString(", ")}): the " +
              "checkpoint was restored past the keep-2 retention horizon. " +
              "Restore a checkpoint no older than the retained snapshots, " +
              "or rebuild the rollup at a fresh path.")
          val existing = snaps.filter(_._1 < batchId).lastOption match {
            case Some((_, dir)) => Parquet.read(spark, dir.toString)
            case None =>
              // first batch: empty rollup with the contract schema
              batch.groupBy(keys.map(col): _*)
                .agg(count(lit(1)).cast("long").as(countCol),
                  specs.map(s =>
                    graft.etl.Loads.AggSpec.Fns(s.agg)(col(s.column)).as(s.column)): _*)
                .limit(0)
          }
          // stamp BEFORE the first snapshot ever commits (no-op once
          // stamped): a first-run crash after snap_0's _SUCCESS but before
          // the post-run stamp would let a fresh-checkpoint restart pass
          // the identity guard (no stamp present) and silently skip live
          // batch 0 as an already-committed snapshot — the exact data-loss
          // window the guard exists to close (the runBatchCommitted
          // stamp-before-marker ordering, mirrored here)
          stampRunIdentity(conf, fs, root, ckptStr)
          val merged = graft.etl.Loads.mergeAggregate(
            existing, batch, keys, specs, countCol)
          // summary-sized rollups compact to one file; a data-sized
          // rollup key space sets snapshotPartitions > 1 and the
          // snapshot writes key-hashed in parallel instead (the
          // coalesce(1) would otherwise serialize the whole merge
          // through one task)
          val sized =
            if (snapshotPartitions > 1)
              merged.repartition(snapshotPartitions, keys.map(col): _*)
            else merged.coalesce(1)
          sized.write.mode("overwrite")
            .parquet(new org.apache.hadoop.fs.Path(root, s"snap_$batchId").toString)
          // record the batch's source-file fingerprint beside the
          // snapshot for the replay check above (after the _SUCCESS
          // commit: a crash in between leaves a committed pre-sig
          // snapshot, which the check tolerates)
          writeUtf8(fs,
            new org.apache.hadoop.fs.Path(root, s"snap_$batchId/_graft_files"),
            batchFilesSig(conf, ckptStr, batchId))
          // retire superseded snapshots; keep two so the reader of the
          // previous snapshot (a concurrent replay) is never yanked
          committedSnaps(fs, root).dropRight(2).foreach { case (_, dir) =>
            fs.delete(dir, true)
          }
        }
      }
      .option("checkpointLocation", ckptStr)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    stampRunIdentity(conf, fs, root, ckptStr)
    val fin = committedSnaps(fs, root)
    require(fin.nonEmpty, s"no committed rollup snapshot under $rollupPath")
    Parquet.read(spark, fin.last._2.toString)
  }

  /** Read the rollup AS OF a batch id — time travel over the
    * batch-stamped snapshots [[streamRollupMaintain]] retains (the
    * latest committed snapshot with id ≤ `asOfBatch`; default = the
    * current rollup). Bounded by the keep-2 retention: older history has
    * been retired, and asking for it fails loudly instead of silently
    * serving a newer state.
    */
  def readRollupSnapshot(
      spark: SparkSession,
      rollupPath: String,
      asOfBatch: Long = Long.MaxValue): org.apache.spark.sql.DataFrame = {
    val root = new org.apache.hadoop.fs.Path(rollupPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snaps = committedSnaps(fs, root)
    val eligible = snaps.filter(_._1 <= asOfBatch)
    require(eligible.nonEmpty,
      s"no committed rollup snapshot with batch id <= $asOfBatch under $rollupPath " +
        s"(retained: ${snaps.map(_._1).mkString(", ")})")
    Parquet.read(spark, eligible.last._2.toString)
  }

  /** The rollup's committed snapshots, oldest first: a `snap_<batchId>`
    * dir counts once the parquet committer's `_SUCCESS` marker is in it —
    * a dir a crash left half-written is invisible here and gets rewritten.
    */
  private def committedSnaps(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[(Long, org.apache.hadoop.fs.Path)] =
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("snap_") &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(st => (st.getPath.getName.stripPrefix("snap_").toLong, st.getPath))
      .sortBy(_._1)

  /** [[streamRollupMaintain]] with every column summed (the original L8
    * surface).
    */
  def streamRollupMaintain(
      spark: SparkSession,
      srcPath: String,
      rollupPath: String,
      keys: Seq[String],
      sumCols: Seq[String],
      countCol: String = "n",
      checkpointPath: String = null)(
      implicit d: DummyImplicit): org.apache.spark.sql.DataFrame =
    streamRollupMaintain(spark, srcPath, rollupPath, keys,
      graft.etl.Loads.AggSpec.sums(sumCols), countCol, checkpointPath,
      snapshotPartitions = 1)

  /** Compact a [[streamBm25Maintain]]ed root: merge every committed
    * postings batch dir into one term-range-partitioned generation (the
    * static [[graft.ops.Bm25Index.write]] layout, so serve-time term
    * pushdown skips files by footer stats across the WHOLE compacted
    * corpus, not per tiny batch dir). The df/stats snapshots already roll
    * forward wholesale and are untouched. Serves byte-identically before
    * and after (the declared `stream_bm25_compact` query shares the
    * maintained serve's oracle).
    */
  def compactBm25Maintained(
      spark: SparkSession,
      indexPath: String,
      numFiles: Int = 8): Long = {
    require(numFiles >= 1, s"numFiles must be >= 1: $numFiles")
    assertNoPendingErase(spark, indexPath, "bm25 index")
    compactCore(spark, indexPath, "bm25 index", Seq(
      Bm25Postings -> { (ins: Seq[String], out: String) =>
        Parquet.read(spark, ins: _*)
          .select("term", "id", "tf", "dl")
          .repartitionByRange(numFiles, col("term"))
          .sortWithinPartitions("term", "id")
          .write.mode("overwrite").parquet(out)
      }))
  }

  /** Compact a [[streamMinHashMaintain]]ed root (buckets + sets concat —
    * both members are per-document rows with no global state).
    */
  def compactMinHashMaintained(
      spark: SparkSession,
      indexPath: String,
      numFiles: Int = 8): Long = {
    require(numFiles >= 1, s"numFiles must be >= 1: $numFiles")
    compactCore(spark, indexPath, "minhash index", Seq(
      MinHashBuckets -> concatMerge(spark, numFiles, "id", "band", "bucket"),
      MinHashSets -> concatMerge(spark, numFiles, "id", "shingle_set")))
  }

  /** The compaction merge of a per-document member (rows with no global
    * state): the inputs' `cols`, rewritten as `numFiles` files.
    */
  private def concatMerge(
      spark: SparkSession,
      numFiles: Int,
      cols: String*): (Seq[String], String) => Unit =
    (ins, out) => Parquet.read(spark, ins: _*).select(cols.map(col): _*)
      .repartition(numFiles)
      .write.mode("overwrite").parquet(out)

  /** Compact a [[streamSimJoinMaintain]]ed root: prefixes re-cluster by
    * shingle hash (the static [[graft.ops.SimJoinIndex.write]] layout —
    * serve probes read co-located posting lists), sets concat; the frozen
    * `freq` model stays as built.
    */
  def compactSimJoinMaintained(
      spark: SparkSession,
      indexPath: String,
      numFiles: Int = 8): Long = {
    require(numFiles >= 1, s"numFiles must be >= 1: $numFiles")
    compactCore(spark, indexPath, "simjoin index", Seq(
      SimJoinPrefixes -> { (ins: Seq[String], out: String) =>
        Parquet.read(spark, ins: _*).select("h", "id", "n")
          .repartition(numFiles, col("h"))
          .sortWithinPartitions("h", "id")
          .write.mode("overwrite").parquet(out)
      },
      SimJoinSets -> concatMerge(spark, numFiles, "id", "set", "n")))
  }

  /** Compact a [[streamIvfPqMaintain]]ed root: merge every committed
    * `lists_batch_<id>` dir into one cluster-partitioned
    * `lists_compact_<gen>` dir (one read PER input dir — the
    * CONFLICTING_DIRECTORY_STRUCTURES constraint from
    * [[readIvfPqMaintained]] — then one partitioned write), shrinking the
    * serve union from one leg per batch to base + ONE compacted leg +
    * tail. The frozen model and base `lists/` are untouched; the
    * model-generation stamp is asserted first.
    */
  def compactIvfPqMaintained(
      spark: SparkSession,
      indexPath: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(indexPath).getFileSystem(conf)
    assertModelGeneration(conf, indexPath, stampIfAbsent = false)
    compactCore(spark, indexPath, "ivfpq index", Seq(
      IvfLists -> { (ins: Seq[String], out: String) =>
        val frames = ins.flatMap(p =>
          readListsDir(spark, fs, new org.apache.hadoop.fs.Path(p)))
        if (frames.nonEmpty) writeListsDir(frames.reduce(_ unionByName _), out)
      }))
  }

  /** The number of committed batch dirs NEWER than the compacted
    * generation — i.e. the per-member serve-plan fan-out (and erase-probe
    * leg count) the next compaction would fold away. The cadence signal
    * for [[compactIfStale]].
    */
  def maintainedTailBatches(spark: SparkSession, indexPath: String): Int = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = compactedGenId(fs, root)
    committedBatchIds(fs, root).count(id => gen.forall(id > _))
  }

  /** Compaction POLICY gate: run `compact` iff the uncompacted tail
    * exceeds `maxTailBatches` — the one knob a production maintainer
    * calls right after its [[MaintainedRoot.runBatchCommitted]] run so
    * serve-plan width stays bounded without a separate scheduler:
    * {{{
    * Incremental.streamMinHashMaintain(spark, src, root, ...)
    * Incremental.compactIfStale(spark, root, maxTailBatches = 16)(
    *   Incremental.compactMinHashMaintained(spark, root))
    * }}}
    * Returns the new generation when it compacted, None when the tail is
    * within budget (the common, free case — one marker listing).
    */
  def compactIfStale(
      spark: SparkSession,
      indexPath: String,
      maxTailBatches: Int)(compact: => Long): Option[Long] = {
    require(maxTailBatches >= 1, s"maxTailBatches must be >= 1: $maxTailBatches")
    if (maintainedTailBatches(spark, indexPath) > maxTailBatches) Some(compact)
    else None
  }

  /** Write an inverted-lists dir in the cluster-partitioned serving
    * layout, one file per cluster.
    */
  private def writeListsDir(lists: DataFrame, dir: String): Unit =
    lists.repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(dir)

  /** Read one inverted-lists dir in either physical shape: the
    * cluster-partitioned serving layout, or the plain (possibly empty)
    * shape an erase rewrite leaves when a dir lost all its rows. A dir
    * with neither cluster subdirs nor data files reads as absent (an
    * empty micro-batch's dynamic-partition write leaves exactly that).
    */
  private def readListsDir(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[DataFrame] = {
    if (!fs.exists(p)) return None
    val entries = fs.listStatus(p).toSeq
    val hasClusters = entries.exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("cluster="))
    val hasFiles = entries.exists(st =>
      !st.isDirectory && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    if (hasClusters || hasFiles)
      Some(Parquet.read(spark, p.toString).select("cluster", "n_id", "codes", "n_norm"))
    else None
  }

  /** Streaming BM25 index maintenance:
    * [[graft.ops.Bm25Index.append]]-semantics applied PER MICRO-BATCH via
    * foreachBatch — the streaming leg that completes the persisted-index
    * lifecycle (build → stream-append → erase → serve). Each batch of
    * NEW documents pays one build pass over ITSELF only:
    *  - its postings land in an append-only `postings/batch_<id>` dir
    *    (term-range partitioned within, so the serve-time term pushdown
    *    still skips files by footer stats — the [[graft.ops.Bm25Index.write]]
    *    layout, per batch);
    *  - the vocabulary-sized df dictionary and the 1-row (n, avgdl)
    *    stats roll forward as batch-stamped snapshots, recombined in the
    *    EXACT closed form append uses — so the maintained index serves
    *    identically to a rebuild on everything ingested (asserted in
    *    IncrementalSpec; the declared `stream_index_maintain` query
    *    shares `text_bm25_persisted`'s oracle).
    * Per-trigger work is O(|batch| + |vocab|): corpus-sized postings are
    * never rewritten — unlike [[streamRollupMaintain]], whose whole
    * state is group-bounded and can snapshot wholesale.
    *
    * Exactly-once across at-least-once foreachBatch replays: the three
    * per-batch artifacts (postings dir, terms snapshot, stats snapshot)
    * commit under ONE `_committed_<batchId>` marker written LAST — a
    * replayed committed batch skips entirely; a crash anywhere earlier
    * leaves no marker, and the replay rewrites the same deterministic
    * artifacts (mode overwrite). The [[streamRollupMaintain]]
    * RUN-IDENTITY GUARD applies unchanged: the index root carries the
    * maintaining query's id, and a fresh checkpoint (batch ids
    * restarting at 0) fails loudly instead of silently skipping live
    * batches as replays. Superseded df/stats snapshots are retired
    * (latest two kept); postings batch dirs ARE the data and all stay
    * live.
    *
    * Doc-id disjointness across batches is the caller's contract, as in
    * [[graft.ops.Bm25Index.append]]. Returns the maintained index
    * ([[readBm25Maintained]]) for serving.
    */
  def streamBm25Maintain(
      spark: SparkSession,
      srcPath: String,
      indexPath: String,
      idCol: String,
      textCol: String,
      checkpointPath: String = null,
      maxFilesPerTrigger: Int = 0,
      postingsFilesPerBatch: Int = 2): graft.ops.Bm25Index = {
    require(postingsFilesPerBatch >= 1,
      s"postingsFilesPerBatch must be >= 1: $postingsFilesPerBatch")
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a STATIC Bm25Index.write layout keeps part files directly under
    // postings/ — the maintained reader (batch_*/compact_* dirs only)
    // would silently hide every statically-written posting
    assertMaintainerOwnsLayout(fs, root, Seq(Bm25Postings), "bm25 index",
      "serve static indexes via Bm25Index.read + append instead")
    assertNoPendingErase(spark, indexPath, "bm25 index")
    runBatchCommitted(spark, srcPath, indexPath, checkpointPath,
      "bm25 index", maxFilesPerTrigger) { (batch, batchId, done) =>
      // the delta pays one build pass over ITSELF only
      val d = graft.ops.Bm25Index.build(batch, idCol, textCol)
      // roll the bounded state forward from the latest committed
      // snapshot BEFORE this batch (a replay must not read its own
      // superseded output) — at that snapshot's latest ERASE generation,
      // so maintenance after a maintained-root erase carries the
      // rolled-back df/stats forward
      val (terms, stats) = done.filter(_ < batchId).lastOption match {
        case Some(p) =>
          val g = latestSnapGen(fs, root, p)
          (graft.ops.Bm25Index.mergeTerms(
            Parquet.read(spark, snapDir(root, "terms", p, g).toString), d.terms),
            graft.ops.Bm25Index.mergeStats(
              Parquet.read(spark, snapDir(root, "stats", p, g).toString), d.stats))
        case None => (d.terms, d.stats)
      }
      // the three artifacts are independent until the ONE _committed_
      // marker after them — write them concurrently (guide §2.6) instead
      // of queueing three sub-second jobs; a crash with any subset
      // written leaves the batch uncommitted exactly as before, and the
      // replay rewrites all three (mode overwrite)
      Concurrent.awaitAll(Seq(
        () => d.postings
          .repartitionByRange(postingsFilesPerBatch, col("term"))
          .sortWithinPartitions("term", "id")
          .write.mode("overwrite")
          .parquet(Bm25Postings.batchPath(root, batchId).toString),
        // vocabulary-sized and 1-row — one file each is the right shape
        () => terms.coalesce(1).write.mode("overwrite")
          .parquet(snapDir(root, "terms", batchId, 0).toString),
        () => stats.coalesce(1).write.mode("overwrite")
          .parquet(snapDir(root, "stats", batchId, 0).toString)))
    } { committed =>
      // retire superseded snapshots (every erase generation with them);
      // keep two ids so the reader of the previous snapshot (a
      // concurrent replay) is never yanked
      committed.dropRight(2).foreach(id => deleteSnapGens(fs, root, id))
    }
    readBm25Maintained(spark, indexPath)
  }

  /** Read the [[streamBm25Maintain]]ed index: every committed postings
    * batch dir plus the LATEST committed df/stats snapshots. The same
    * serve surface as [[graft.ops.Bm25Index.read]] — term pushdown
    * prunes across all batch dirs' files alike (footer stats are
    * per-file, not per-layout).
    */
  def readBm25Maintained(
      spark: SparkSession, indexPath: String): graft.ops.Bm25Index = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val done = requireCommitted(fs, root, "bm25 index")
    assertNoPendingErase(spark, indexPath, "bm25 index")
    // the compacted generation (if any) + tail batch dirs; the df/stats
    // snapshots resolve to the latest ERASE generation of the newest
    // batch-stamped snapshot (see eraseBm25Maintained)
    val g = latestSnapGen(fs, root, done.last)
    graft.ops.Bm25Index(
      Bm25Postings.read(spark, fs, root, done, "term", "id", "tf", "dl"),
      Parquet.read(spark, snapDir(root, "terms", done.last, g).toString)
        .select("term", "df"),
      Parquet.read(spark, snapDir(root, "stats", done.last, g).toString)
        .select("n", "avgdl"))
  }

  /** Streaming MinHash-LSH index maintenance — [[streamBm25Maintain]]'s
    * machinery ([[MaintainedRoot.runBatchCommitted]]) applied to the dedup
    * index, whose state is EVEN simpler: both members (buckets, sets) are
    * per-document rows with no corpus-level statistics, so each
    * micro-batch is a pure map-side encode into append-only
    * `buckets/batch_<id>` + `sets/batch_<id>` dirs — no snapshots to roll
    * forward, nothing to retire. Signatures are content-deterministic
    * hashes, so the maintained index QUERIES identically to a rebuild on
    * everything ingested (the declared `stream_minhash_maintain` query
    * shares the static-index serve's oracle). Shape parameters live in the standard
    * sidecar, written on the first run and REQUIRED equal on every later
    * run — appending under different (k, bands, rows) would silently mix
    * incomparable signatures.
    */
  def streamMinHashMaintain(
      spark: SparkSession,
      srcPath: String,
      indexPath: String,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      checkpointPath: String = null,
      maxFilesPerTrigger: Int = 0): graft.ops.MinHashIndex = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    // a STATIC MinHashIndex.write layout keeps part files directly under
    // sets/ AND buckets/ — and MinHashIndex.write writes buckets first,
    // so an interrupted static write can leave EITHER member in the
    // static shape; both are guarded (the streamSimJoinMaintain
    // cross-guard, applied here too; checked even without a sidecar)
    assertMaintainerOwnsLayout(fs, root, Seq(MinHashSets, MinHashBuckets),
      "minhash index",
      "serve static indexes via MinHashIndex.read + append instead")
    if (graft.ops.IndexSidecar.exists(conf, indexPath)) {
      val (k0, b0, r0) = graft.ops.MinHashIndex.sidecarParams(conf, indexPath)
      require(k0 == shingleK && b0 == bands && r0 == rowsPerBand,
        s"minhash index at $indexPath was built with (shingleK=$k0, bands=$b0, " +
          s"rowsPerBand=$r0); appending with ($shingleK, $bands, $rowsPerBand) " +
          "would mix incomparable signatures")
    } else {
      graft.ops.MinHashIndex.writeSidecarParams(
        conf, indexPath, shingleK, bands, rowsPerBand)
    }
    runBatchCommitted(spark, srcPath, indexPath, checkpointPath,
      "minhash index", maxFilesPerTrigger) { (batch, batchId, _) =>
      val d = graft.ops.MinHashIndex.build(batch, idCol, textCol,
        shingleK, bands, rowsPerBand)
      // both members commit under the one marker — concurrent (guide §2.6)
      Concurrent.awaitAll(batchWrites(root, batchId,
        Seq(MinHashBuckets -> d.buckets, MinHashSets -> d.sets)))
    } { _ => () }
    readMinHashMaintained(spark, indexPath)
  }

  /** Subject ERASURE on a [[streamMinHashMaintain]]ed root — the GDPR
    * leg for the MAINTAINED artifact (the static-index
    * [[graft.ops.MinHashIndex.erase]] returns new frames; a maintained
    * root's state lives in committed batch dirs, so forgetting a subject
    * means REWRITING exactly the dirs that contain it). Per committed
    * batch: one keys-only membership probe; affected dirs rewrite
    * buckets+sets through an anti-join (retained rows localCheckpoint'ed
    * BEFORE the overwrite — the rewrite never reads its own output),
    * untouched dirs are never opened. Work is O(affected dirs ×
    * anti-join), no corpus scan, no rebuild, and committed-replay safety
    * is preserved: the dirs stay committed, so no replay of a COMMITTED
    * batch can resurrect the erased rows (see [[eraseMaintainedDirs]]
    * for the source/pending-batch scope caveat).
    *
    * Partial-failure window (the [[graft.etl.FileLoads.erasePartitioned]]
    * contract): a crash between two dir rewrites leaves the erase
    * incomplete with no ledger — the operation is IDEMPOTENT (remaining
    * victims are re-detected), so a failed run must be re-run to
    * completion before the erasure is attested. Returns the per-batch
    * ledger (batch_id, n_before, n_after, n_erased) over the SETS member
    * (one row per doc).
    */
  def eraseMinHashMaintained(
      spark: SparkSession,
      indexPath: String,
      ids: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    eraseMaintainedDirs(spark, indexPath, ids, "minhash index",
      ledgerMember = MinHashSets, otherMember = MinHashBuckets)

  /** [[eraseMinHashMaintained]] for a [[streamSimJoinMaintain]]ed root —
    * identical shape: both members are per-document rows with no global
    * state to adjust (the frozen rarity order is MODEL state and stays,
    * exactly like [[graft.ops.SimJoinIndex.erase]] on the static index —
    * the served pair set still equals a rebuild on the retained corpus).
    * Declared as `stream_simjoin_erase`.
    */
  def eraseSimJoinMaintained(
      spark: SparkSession,
      indexPath: String,
      ids: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    eraseMaintainedDirs(spark, indexPath, ids, "simjoin index",
      ledgerMember = SimJoinSets, otherMember = SimJoinPrefixes)

  /** The erase of the stat-free maintained roots (MinHash, SimJoin): for
    * every committed batch whose `ledgerMember` dir contains a victim,
    * anti-join-rewrite ALL member dirs ([[MaintainedRoot.rewriteLegs]]);
    * untouched batches never open. Ledger counts come from
    * `ledgerMember` (one row per document there). The `ledgerMember` —
    * which doubles as the re-run VICTIM PROBE — is rewritten LAST: a crash
    * mid-batch then leaves the probe still victim-bearing, so the
    * idempotent re-run re-detects and finishes the other members instead
    * of attesting a half-erased batch.
    *
    * Scope: erasure covers COMMITTED batches of this root. The SOURCE
    * stream is a separate artifact — if it still contains the victims, a
    * pending (uncommitted) batch replay or any future ingest re-adds
    * them, exactly as appending a victim-bearing delta to a static index
    * would. A compliance pipeline quiesces the maintainer and erases the
    * source alongside (the `e2e_forget_me` composition), then erases the
    * index.
    */
  private def eraseMaintainedDirs(
      spark: SparkSession,
      indexPath: String,
      ids: org.apache.spark.sql.DataFrame,
      what: String,
      ledgerMember: MemberLayout,
      otherMember: MemberLayout): org.apache.spark.sql.DataFrame =
    erasing(spark, indexPath, ids, what, "id", Seq(ledgerMember, otherMember)) {
        (fs, root, done, k) =>
      // SINGLE-PASS victim probe: one union read over every probe-member
      // leg (compacted generation + tail batch dirs), ONE aggregate job →
      // victim-bearing legs and their ledger counts. Replaces the r15
      // per-batch semi-join loop, whose one-count-job-per-dir driver
      // scheduling dominates at production batch counts (10⁴–10⁵ dirs).
      val affected = probeMember(spark, fs, root, done, ledgerMember, k,
        distinctPerDoc = false)
      // probe member LAST (see above)
      rewriteLegs(root, affected.map(_._1), Seq(otherMember, ledgerMember),
        k, "id")(readIfExists(spark, fs))(overwrite)
      batchLedger(spark, affected)
    }

  // --- batch-stamped snapshot ERASE GENERATIONS (BM25 df/stats) --------

  /** gen 0 = the maintainer-written `terms_snap_<id>`/`stats_snap_<id>`;
    * each maintained-root erase rolls the pair back into a NEW generation
    * `…_snap_<id>_e<g>` (stats written first, terms LAST — the terms
    * dir's _SUCCESS is the generation's commit point). The latest
    * committed generation is the serving truth for that snapshot id.
    */
  private def snapDir(root: org.apache.hadoop.fs.Path, kind: String, id: Long, gen: Int) =
    new org.apache.hadoop.fs.Path(root,
      s"${kind}_snap_$id${if (gen == 0) "" else s"_e$gen"}")

  private def latestSnapGen(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      id: Long): Int = {
    val base = s"terms_snap_$id"
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect {
        case n if n == base => 0
        case n if n.startsWith(base + "_e") &&
            n.stripPrefix(base + "_e").nonEmpty &&
            n.stripPrefix(base + "_e").forall(_.isDigit) =>
          n.stripPrefix(base + "_e").toInt
      }
      .filter(g => fs.exists(
        new org.apache.hadoop.fs.Path(snapDir(root, "terms", id, g), "_SUCCESS")))
      .sorted.lastOption.getOrElse(0)
  }

  /** Every generation of a retired snapshot id (the maintainer's keep-2
    * retirement must drop erase generations along with gen 0).
    */
  private def deleteSnapGens(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      id: Long): Unit =
    fs.listStatus(root).toSeq.map(_.getPath)
      .filter { p =>
        val n = p.getName
        n == s"terms_snap_$id" || n == s"stats_snap_$id" ||
          n.startsWith(s"terms_snap_${id}_e") || n.startsWith(s"stats_snap_${id}_e")
      }
      .foreach(p => fs.delete(p, true))

  private def eraseJournalPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_erase_pending")

  /** The maintained BM25 root refuses to serve, maintain or compact while
    * a subject-erase journal is pending: postings rewrites and the
    * df/stats roll-back commit separately, so mid-erase state is
    * inconsistent until the re-run finishes (the attestation contract
    * every erase in this repo carries).
    */
  private def assertNoPendingErase(
      spark: SparkSession, indexPath: String, what: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(
        eraseJournalPath(root), "_SUCCESS")),
      s"$what at $indexPath has an interrupted subject erasure " +
        "(_erase_pending journal committed): re-run eraseBm25Maintained " +
        "to completion before serving, maintaining or compacting this root")
  }

  /** Subject ERASURE on a [[streamBm25Maintain]]ed root — with
    * [[eraseIvfPqMaintained]] this completes the 4×2 maintain×erase
    * matrix. Postings rewrite only in victim-BEARING legs (one
    * single-pass probe, then keys-only anti-joins); the vocab-sized df
    * dictionary and the 1-row (n, avgdl) stats roll BACK once in the
    * static [[graft.ops.Bm25Index.erase]] closed form against the LATEST
    * snapshot — applied once per erase, never per batch, never a corpus
    * rescan.
    *
    * Unlike the stat-free MinHash/SimJoin erases, TWO artifact families
    * must stay consistent across crashes (postings dirs and the snapshot
    * algebra — subtraction is not re-detectable, so the
    * probe-member-last trick alone cannot make it idempotent). The erase
    * therefore JOURNALS the victims' posting rows first
    * (`_erase_pending`, a committed parquet dir): a re-run FINISHES a
    * crashed erase from the journal — rewrites any legs still bearing
    * the journal's victims, applies the snapshot subtraction exactly
    * once (the adjusted pair lands under a NEW erase generation
    * `…_snap_<id>_e<g>`, stats first, terms last, so "already applied"
    * is a visible commit, never an in-place overwrite of the state the
    * subtraction reads) — then deletes the journal and starts on the new
    * ids. Readers, the maintainer and compaction refuse a root with a
    * pending journal ([[assertNoPendingErase]]).
    *
    * Work: two postings-member passes (ledger counts + victim-row
    * capture; the roll-back inherently needs the victims' rows) plus one
    * anti-join per affected leg — O(postings scan + affected legs), no
    * corpus text, no rebuild. Contract: every erased id carries ≥ 1
    * posting (the [[graft.ops.Bm25Index.erase]] no-token caveat).
    * Returns the per-leg ledger (batch_id, n_before, n_after, n_erased)
    * in DISTINCT DOCS over the postings member.
    */
  def eraseBm25Maintained(
      spark: SparkSession,
      indexPath: String,
      ids: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    erasing(spark, indexPath, ids, "bm25 index", "id", Seq(Bm25Postings)) {
        (fs, root, done, k) =>
      // finish a crashed erase before starting on the new ids
      finishPendingBm25Erase(spark, fs, root, done)
      // pass 1: ledger counts (distinct docs; postings repeat a doc per term)
      val affected = probeMember(spark, fs, root, done, Bm25Postings, k,
        distinctPerDoc = true)
      if (affected.isEmpty) batchLedger(spark, affected)
      else {
        // pass 2: the victims' posting rows — the df/stats deltas derive
        // from them, journaled BEFORE any rewrite so a crash can always
        // finish
        val targetGen = latestSnapGen(fs, root, done.last) + 1
        Parquet.read(spark,
            Bm25Postings.legs(fs, root, done).filter(fs.exists).map(_.toString): _*)
          .select("id", "term", "dl")
          .join(k, Seq("id"), "left_semi")
          .select(lit(targetGen).as("gen"), col("id"), col("term"), col("dl"))
          .write.mode("overwrite").parquet(eraseJournalPath(root).toString)
        // rewrites + snapshot roll-back run off the committed journal —
        // the SAME code path a crash-recovery re-run takes (which must
        // re-probe; the fresh path already knows its victim-bearing legs
        // from pass 1 and skips that third postings scan)
        applyBm25EraseJournal(spark, fs, root, done,
          knownBearing = Some(affected.map(_._1)))
        batchLedger(spark, affected)
      }
    }

  /** Finish-or-noop for a pending BM25 erase journal (see
    * [[eraseBm25Maintained]]): rewrites any postings legs still bearing
    * the journal's victims, applies the snapshot roll-back if its
    * generation has not committed, deletes the journal.
    */
  private def finishPendingBm25Erase(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      done: Seq[Long]): Unit = {
    val journal = eraseJournalPath(root)
    if (fs.exists(new org.apache.hadoop.fs.Path(journal, "_SUCCESS")))
      applyBm25EraseJournal(spark, fs, root, done)
    else if (fs.exists(journal))
      fs.delete(journal, true) // uncommitted journal: the erase never started
  }

  /** The journal-driven half of the BM25 maintained erase: idempotent
    * postings rewrites for every leg still bearing journal victims, then
    * the exactly-once snapshot roll-back (skip if the journal's target
    * generation already committed), then the journal delete.
    */
  private def applyBm25EraseJournal(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      done: Seq[Long],
      knownBearing: Option[Seq[String]] = None): Unit = {
    val journal = eraseJournalPath(root)
    val j = Parquet.read(spark, journal.toString).localCheckpoint()
    if (j.isEmpty) { fs.delete(journal, true); return } // zero-delta journal
    val jk = j.select("id").distinct().localCheckpoint()
    // legs still bearing journal victims: the fresh-erase caller already
    // knows them from its ledger pass; crash recovery cannot trust
    // pre-crash state and re-probes
    val bearing = knownBearing.getOrElse(
      probeMember(spark, fs, root, done, Bm25Postings, jk,
        distinctPerDoc = false).map(_._1))
    // the journal is already committed: a crash leaves it pending either
    // way and the re-run re-probes whatever legs still bear victims
    rewriteLegs(root, bearing, Seq(Bm25Postings), jk, "id")(
      readIfExists(spark, fs))(overwrite)
    val lastId = done.last
    val targetGen = j.select("gen").head().getInt(0)
    val committed = fs.exists(new org.apache.hadoop.fs.Path(
      snapDir(root, "terms", lastId, targetGen), "_SUCCESS"))
    if (!committed) {
      val terms0 = Parquet.read(spark, snapDir(root, "terms", lastId, targetGen - 1).toString)
      val stats0 = Parquet.read(spark, snapDir(root, "stats", lastId, targetGen - 1).toString)
      // the static Bm25Index.erase algebra, fed from the journal: df
      // subtracts the victims' per-term posting counts; (n, avgdl) roll
      // back in closed form from one dl per victim doc
      val terms1 = terms0
        .join(j.groupBy("term").agg(count(lit(1)).cast("double").as("__ddf")),
          Seq("term"), "left")
        .select(col("term"),
          (col("df") - coalesce(col("__ddf"), lit(0.0))).as("df"))
        .filter(col("df") > 0)
      val victimStats = j.select("id", "dl").distinct()
        .agg(count(lit(1)).cast("double").as("__dn"),
          coalesce(sum("dl"), lit(0.0)).as("__dsum"))
      val stats1 = stats0.crossJoin(victimStats) // 1-row × 1-row scalar
        .select(
          (col("n") - col("__dn")).as("n"),
          ((col("n") * col("avgdl") - col("__dsum")) /
            greatest(col("n") - col("__dn"), lit(1.0))).as("avgdl"))
      // stats first, terms LAST: the terms dir's _SUCCESS commits the
      // generation (both deterministic from journal + the PRIOR
      // generation, which is never overwritten)
      stats1.coalesce(1).write.mode("overwrite")
        .parquet(snapDir(root, "stats", lastId, targetGen).toString)
      terms1.coalesce(1).write.mode("overwrite")
        .parquet(snapDir(root, "terms", lastId, targetGen).toString)
    }
    fs.delete(journal, true)
    // retire erase generations older than the previous one (keep-2, the
    // snapshot retirement convention)
    for (g <- 0 until targetGen - 1; kind <- Seq("terms", "stats"))
      fs.delete(snapDir(root, kind, lastId, g), true)
  }

  /** Subject ERASURE on a [[streamIvfPqMaintain]]ed root: the frozen-model
    * [[graft.ops.IvfPqIndex.erase]] applied dir-wise — one keys-only
    * anti-join per victim-BEARING lists dir, found by ONE single-pass
    * probe across the base `lists/` (victims may predate the stream), the
    * compacted generation and the tail batch dirs. The model is frozen
    * state and stays (erase never retrains — erased ids can never
    * resurface because candidates come only from the lists); there is no
    * corpus-level statistic to roll back, so the per-dir rewrite is
    * idempotent by re-detection like the MinHash/SimJoin erases (no
    * journal needed). Rewritten dirs keep the cluster-partitioned serving
    * layout; a dir that lost ALL rows rewrites to a plain schema-bearing
    * empty file (readable, served as absent). Returns the per-leg ledger
    * (leg, n_before, n_after, n_erased) — `leg` names the dir ("lists",
    * "lists_batch_<id>", "lists_compact_<gen>").
    */
  def eraseIvfPqMaintained(
      spark: SparkSession,
      indexPath: String,
      ids: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    erasing(spark, indexPath, ids, "ivfpq index", "n_id", Seq(IvfLists)) {
        (fs, root, done, k) =>
      import spark.implicits._
      // reject a root whose model was rebuilt in place (the batch dirs'
      // codes belong to the stamped generation's codebooks)
      assertModelGeneration(spark.sparkContext.hadoopConfiguration, indexPath,
        stampIfAbsent = false)
      val legPaths = new org.apache.hadoop.fs.Path(root, IvfBaseLists) +:
        IvfLists.legs(fs, root, done)
      val frames = legPaths.flatMap(p => readListsDir(spark, fs, p))
      require(frames.nonEmpty, s"no readable lists dirs under $indexPath")
      val affected = victimLegProbe(
        frames.reduce(_ unionByName _), k, "n_id", distinctPerDoc = false)
      rewriteLegs(root, affected.map(_._1), Seq(IvfLists), k, "n_id")(
          readListsDir(spark, fs, _)) { (retained, p) =>
        if (retained.isEmpty)
          // a partitioned write of zero rows leaves an unreadable dir —
          // keep a plain schema-bearing empty file instead
          overwrite(retained, p)
        else writeListsDir(retained, p.toString)
      }
      affected.map { case (leg, before, erased) =>
        (leg, before, before - erased, erased)
      }.toDF("leg", "n_before", "n_after", "n_erased")
    }

  /** Read the [[streamMinHashMaintain]]ed index: every committed batch
    * dir pair, shape parameters from the sidecar.
    */
  def readMinHashMaintained(
      spark: SparkSession, indexPath: String): graft.ops.MinHashIndex = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(conf)
    val done = requireCommitted(fs, root, "minhash index")
    val (k, b, r) = graft.ops.MinHashIndex.sidecarParams(conf, indexPath)
    graft.ops.MinHashIndex(
      MinHashBuckets.read(spark, fs, root, done, "id", "band", "bucket"),
      MinHashSets.read(spark, fs, root, done, "id", "shingle_set"),
      k, b, r)
  }

  /** Streaming IVF-PQ index maintenance —
    * [[MaintainedRoot.runBatchCommitted]] applied to the vector index. The
    * FROZEN model is the contract
    * ([[graft.ops.IvfPqIndex.append]]: no retraining; production rebuilds
    * on a slow cadence while appending fast): `indexPath` must already
    * hold a [[graft.ops.IvfPqIndex.write]]-persisted index (model sidecar
    * + base `lists/`), and each micro-batch encodes through that model —
    * ONE map-side pass over the batch — into an append-only
    * `lists_batch_<id>` dir (cluster-partitioned like the base layout, so
    * serve-time cluster probes prune files in every batch dir alike).
    * Exactly-once and run-identity exactly as [[streamBm25Maintain]].
    * Encoding is deterministic, so the maintained index serves
    * IDENTICALLY to the batch [[graft.ops.IvfPqIndex.append]] on the same
    * delta — the declared `stream_knn_maintain` query shares
    * `knn_index_append`'s pinned oracle.
    */
  def streamIvfPqMaintain(
      spark: SparkSession,
      srcPath: String,
      indexPath: String,
      idCol: String,
      vecCol: String,
      checkpointPath: String = null,
      maxFilesPerTrigger: Int = 0): graft.ops.IvfPqIndex = {
    // reads the frozen model once (and fails loudly if indexPath is not
    // a written index — the model MUST predate the stream)
    val base = graft.ops.IvfPqIndex.read(spark, indexPath, allowMaintained = true)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(indexPath)
    // MODEL-GENERATION stamp: batch dirs hold codes encoded under ONE
    // model; an in-place rebuild (IvfPqIndex.write over the same root)
    // would silently decode them through foreign codebooks — stamp the
    // sidecar fingerprint and require it unchanged on every run (and at
    // read — see readIvfPqMaintained). The documented rebuild cadence
    // retires the batch dirs by starting a fresh maintained root.
    assertModelGeneration(conf, indexPath, stampIfAbsent = true)
    runBatchCommitted(spark, srcPath, indexPath, checkpointPath,
      "ivfpq index", maxFilesPerTrigger) { (batch, batchId, _) =>
      // size the batch files AT WRITE TIME: without the cluster
      // repartition a W-task batch leaves up to W files per cluster dir
      // (W × nlist tiny files per batch at production batch widths); one
      // exchange of slim code rows bounds it at ONE file per cluster per
      // batch, and the serve-side reader (cluster-pruned, DPP) is untouched
      writeListsDir(graft.ops.IvfPqIndex.encodeLists(base, batch, idCol, vecCol),
        IvfLists.batchPath(root, batchId).toString)
    } { _ => () }
    readIvfPqMaintained(spark, indexPath)
  }

  private def assertModelGeneration(
      conf: org.apache.hadoop.conf.Configuration,
      indexPath: String,
      stampIfAbsent: Boolean): Unit = {
    val stampPath = new org.apache.hadoop.fs.Path(indexPath, "_graft_model_gen")
    val fs = stampPath.getFileSystem(conf)
    val current = graft.ops.IvfPqIndex.sidecarHash(conf, indexPath)
    if (fs.exists(stampPath)) {
      val stamped = readUtf8(conf, stampPath).trim
      require(stamped == current,
        s"ivfpq model at $indexPath was REBUILT in place (sidecar " +
          s"fingerprint $current != maintained generation $stamped): the " +
          "lists_batch_* dirs hold codes encoded under the old codebooks " +
          "and would decode to garbage — start a fresh maintained root " +
          "for the new model (the rebuild-cadence contract)")
    } else if (stampIfAbsent) writeUtf8(fs, stampPath, current)
  }

  /** Read the [[streamIvfPqMaintain]]ed index: the persisted model + base
    * lists plus every committed batch-list dir.
    */
  def readIvfPqMaintained(
      spark: SparkSession, indexPath: String): graft.ops.IvfPqIndex = {
    val base = graft.ops.IvfPqIndex.read(spark, indexPath, allowMaintained = true)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(conf)
    val done = committedBatchIds(fs, root)
    // reject a maintained root whose model was rebuilt in place — the
    // batch dirs' codes belong to the stamped generation's codebooks
    if (done.nonEmpty)
      assertModelGeneration(conf, indexPath, stampIfAbsent = false)
    // one read PER leg dir (a multi-path read of several
    // cluster-partitioned roots trips partition discovery —
    // CONFLICTING_DIRECTORY_STRUCTURES), then union: every leg keeps its
    // own cluster-pruned layout. Legs = the compacted generation (if
    // any) + tail batch dirs, so the union width is bounded by
    // compaction cadence, not total batch count. An EMPTY micro-batch's
    // dynamic-partition write leaves a dir with no data files (and no
    // schema) — readListsDir skips it instead of failing every later
    // serve on schema inference.
    val batchLists = IvfLists.legs(fs, root, done)
      .flatMap(p => readListsDir(spark, fs, p))
    if (batchLists.isEmpty) base
    else base.copy(lists = (base.lists +: batchLists).reduce(_ unionByName _))
  }

  /** MODEL REBUILD for a [[streamIvfPqMaintain]]ed root — the remedy
    * operator the frozen-model contract defers to ("production rebuilds
    * on a slow cadence while appending fast"): retrain coarse centroids +
    * PQ codebooks from the raw vectors of exactly the ids the maintained
    * root serves (base + every committed batch, minus erased victims),
    * re-encode, and write the result as a FRESH static root at
    * `destPath` — the next serving generation, ready to be
    * stream-maintained in turn. Blue/green by construction: the old root
    * is never touched, so a crash mid-rebuild leaves the old generation
    * serving and the half-written destination is simply overwritten by
    * the re-run; cutover is the caller flipping the serve path (then
    * retiring the old root). An in-place rebuild is exactly what the
    * model-generation stamp exists to refuse: the old root's batch dirs
    * hold codes of the OLD codebooks ([[streamIvfPqMaintain]]'s guard).
    * Measure the drift that sets the cadence with
    * [[graft.ops.IvfPqIndex.recallAudit]] on the maintained read — the
    * frozen/rebuilt pair is the declared `knn_maintained_recall_audit`
    * evidence.
    */
  def rebuildIvfPqMaintained(
      spark: SparkSession,
      indexPath: String,
      destPath: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      numSubspaces: Int = 8,
      numCodes: Int = 16,
      lloydIters: Int = 2,
      residual: Boolean = true,
      trainSampleMod: Int = 1): graft.ops.IvfPqIndex = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(indexPath)
    val dst = new org.apache.hadoop.fs.Path(destPath)
    require(src.getFileSystem(conf).makeQualified(src) !=
        dst.getFileSystem(conf).makeQualified(dst),
      s"rebuild writes a FRESH serving generation: destPath == indexPath " +
        s"($indexPath) would overwrite the lists the rebuild is still " +
        "reading and strand batch dirs encoded under the old model")
    // the retrain's multi-pass read of the old root runs under its
    // mutator lease: a concurrent compaction sweeping legs mid-pass (or
    // an erase rewriting them between passes) would train on a corpus no
    // generation ever served
    val rebuilt = withRootLease(conf,
        src.getFileSystem(conf), src, "ivfpq index", "rebuilder") {
      graft.ops.IvfPqIndex.rebuildModel(readIvfPqMaintained(spark, indexPath),
        corpus, idCol, vecCol, nlist, numSubspaces, numCodes, lloydIters,
        residual, trainSampleMod)
    }
    graft.ops.IvfPqIndex.write(rebuilt, destPath)
    // the retrain corpus's localCheckpoint blocks are superseded by the
    // persisted layout — free them (rebuildModel pinned one snapshot for
    // its multi-pass training)
    graft.ops.Checkpoints.free(rebuilt.lists)
    // serve from the persisted layout (cluster-pruned), not the build plan
    graft.ops.IvfPqIndex.read(spark, destPath)
  }

  /** Rebuild-cadence POLICY gate — the [[compactIfStale]] counterpart for
    * MODEL quality: measure the maintained root's frozen-model recall
    * with [[graft.ops.IvfPqIndex.recallAudit]] and run
    * [[rebuildIvfPqMaintained]] into `destPath` iff it has drifted below
    * `minRecall`. The one knob a production maintainer calls on its audit
    * cadence so model staleness is bounded by policy, not hope:
    * {{{
    * Incremental.streamIvfPqMaintain(spark, src, root, "id", "vec")
    * Incremental.rebuildIfDrifted(spark, root, s"$root-gen2", corpus,
    *   "id", "vec", queries, minRecall = 0.8, k = 5)
    * }}}
    * Returns (measuredRecall, Some(rebuiltIndex)) when it rebuilt,
    * (measuredRecall, None) with the root untouched when recall is
    * within budget (the common case — one audit job, no rebuild; the
    * measurement is returned EITHER way so a caller logging the cadence
    * never pays a second corpus-sized audit). The audit's brute-force
    * side is query-set × corpus sized BY PURPOSE (audit cadence, not
    * serve path); keep `queries` a representative sample. On rebuild the
    * caller cuts the serve path over to `destPath` (blue/green — see
    * [[rebuildIvfPqMaintained]]).
    *
    * CADENCE NOTE: the audit holds the root mutator lease for its whole
    * corpus-sized brute-force pass, and [[withRootLease]] fails loudly
    * rather than waits — any maintain/compact/erase attempted on this
    * root during the audit throws, and vice versa. Schedule drift audits
    * OFF the maintenance windows (they gate a rebuild; they have no
    * freshness requirement of their own).
    */
  def rebuildIfDrifted(
      spark: SparkSession,
      indexPath: String,
      destPath: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      minRecall: Double,
      k: Int,
      nprobe: Int = 8,
      nlist: Int = 16,
      numSubspaces: Int = 8,
      numCodes: Int = 16,
      lloydIters: Int = 2,
      residual: Boolean = true,
      trainSampleMod: Int = 1): (Double, Option[graft.ops.IvfPqIndex]) = {
    require(minRecall > 0.0 && minRecall <= 1.0,
      s"minRecall must be in (0, 1]: $minRecall")
    // an empty query sample can only produce a vacuous audit (n_truth 0,
    // recall null/NaN — which a bare `>= minRecall` compare would read as
    // DRIFTED, silently rebuilding on every cadence). Fail loudly before
    // paying the corpus-sized audit.
    require(!queries.isEmpty,
      s"rebuildIfDrifted at $indexPath was given an EMPTY query sample: " +
        "the recall audit would be vacuous (n_truth=0) and could not " +
        "gate a rebuild — fix the audit inputs")
    // the audit's multi-pass read (served-id snapshot, brute-force pass,
    // topK serve) runs under the root lease, like the rebuild's retrain
    // read: an interleaved compaction sweep or erase between passes
    // would measure a state no generation served — skewing the recall
    // that GATES the rebuild. The lease is released before the rebuild
    // re-acquires it (withRootLease is non-reentrant); a mutation landing
    // in that gap only makes the measurement one cadence stale, never
    // torn.
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(indexPath)
    val audit = withRootLease(conf,
        src.getFileSystem(conf), src, "ivfpq index", "drift-auditor") {
      graft.ops.IvfPqIndex
        .recallAudit(readIvfPqMaintained(spark, indexPath),
          queries, corpus, idCol, vecCol, k, nprobe)
        .head()
    }
    // the post-audit guard: an empty served∩corpus truth ALSO yields
    // n_truth 0 (same vacuous-audit failure as an empty query sample,
    // but only detectable after the audit has run over the corpus)
    require(audit.getAs[Long]("n_truth") > 0L,
      s"rebuildIfDrifted audit at $indexPath measured an EMPTY ground " +
        "truth (n_truth=0): the query sample produced no brute-force " +
        "neighbors over the served ids — fix the audit inputs; refusing " +
        "to gate a rebuild on a vacuous recall")
    val recall = audit.getAs[Double]("recall_at_k")
    if (recall >= minRecall) (recall, None)
    else (recall, Some(rebuildIvfPqMaintained(spark, indexPath, destPath,
      corpus, idCol, vecCol, nlist, numSubspaces, numCodes, lloydIters,
      residual, trainSampleMod)))
  }

  /** Streaming prefix-filter similarity-index maintenance —
    * [[MaintainedRoot.runBatchCommitted]] applied to
    * [[graft.ops.SimJoinIndex]]. The FIRST batch freezes the model: its
    * shingle document frequencies become the rarity total order (written
    * once to `freq/`), exactly as
    * the batch [[graft.ops.SimJoinIndex.append]] freezes the build-time
    * order — later batches' unseen shingles take df 0 and sort first.
    * Each micro-batch then pays one shingle pass over ITSELF into
    * append-only `prefixes/batch_<id>` + `sets/batch_<id>` dirs. The
    * frozen order affects only PRUNING quality (posting-list lengths),
    * never the pair set — prefix completeness needs only a common total
    * order and the verify is exact — so the maintained index serves the
    * EXACT bipartite pair set (the declared `stream_simjoin_maintain`
    * query shares `simjoin_incremental`'s full-corpus oracle); a
    * production deployment refreezes (rebuilds) on a slow cadence like
    * the IVF-PQ model. Shape parameters live in the standard sidecar,
    * written with the frozen order and REQUIRED equal on later runs.
    */
  def streamSimJoinMaintain(
      spark: SparkSession,
      srcPath: String,
      indexPath: String,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      threshold: Double = 0.5,
      checkpointPath: String = null,
      maxFilesPerTrigger: Int = 0): graft.ops.SimJoinIndex = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    def sub(name: String) = new org.apache.hadoop.fs.Path(root, name)
    // a STATIC SimJoinIndex.write layout keeps part files directly under
    // prefixes/ AND sets/ — a static write interrupted between the two
    // leaves either member in the static shape, so both are guarded
    // (checked even WITHOUT a sidecar: the final sidecar step may never
    // have run); stream-maintain only into roots this maintainer owns
    assertMaintainerOwnsLayout(fs, root, Seq(SimJoinPrefixes, SimJoinSets),
      "simjoin index",
      "serve static indexes via SimJoinIndex.read + append instead")
    if (graft.ops.IndexSidecar.exists(conf, indexPath)) {
      val (k0, t0) = graft.ops.SimJoinIndex.sidecarParams(conf, indexPath)
      require(k0 == shingleK && math.abs(t0 - threshold) < 1e-12,
        s"simjoin index at $indexPath was frozen with (shingleK=$k0, " +
          s"threshold=$t0); appending with ($shingleK, $threshold) would " +
          "mix incomparable prefixes")
    }
    runBatchCommitted(spark, srcPath, indexPath, checkpointPath,
      "simjoin index", maxFilesPerTrigger) { (batch, batchId, done) =>
      val first =
        done.isEmpty && !graft.ops.IndexSidecar.exists(conf, indexPath)
      val (freqWrite, prefixes, sets) =
        if (first) {
          // FIRST batch: freeze the rarity order on its own frequencies
          // (write is deterministic, so a pre-marker crash replays cleanly)
          val built = graft.ops.SimJoinIndex.build(batch, idCol, textCol,
            shingleK, threshold)
          (Seq(() => built.freq.write.mode("overwrite").parquet(sub("freq").toString)),
            built.prefixes, built.sets)
        } else {
          // later batches fold in under the FROZEN order: one shingle pass
          // over the batch, df-0 newcomers sort first (append's argument)
          val freq = Parquet.read(spark, sub("freq").toString).select("h", "freq")
          val (p, s) = graft.ops.SimJoinIndex.encodeDelta(
            freq, batch, idCol, textCol, shingleK, threshold)
          (Nil, p, s)
        }
      // the parquet members are independent until the marker — concurrent
      // (guide §2.6); the sidecar still lands only after the freq dir it
      // describes is fully written
      Concurrent.awaitAll(freqWrite ++ batchWrites(root, batchId,
        Seq(SimJoinPrefixes -> prefixes, SimJoinSets -> sets)))
      if (first)
        graft.ops.SimJoinIndex.writeSidecar(conf, indexPath, shingleK, threshold)
    } { _ => () }
    readSimJoinMaintained(spark, indexPath)
  }

  /** Read the [[streamSimJoinMaintain]]ed index: the frozen df table plus
    * every committed batch dir pair.
    */
  def readSimJoinMaintained(
      spark: SparkSession, indexPath: String): graft.ops.SimJoinIndex = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(conf)
    val done = requireCommitted(fs, root, "simjoin index")
    val (shingleK, threshold) =
      graft.ops.SimJoinIndex.sidecarParams(conf, indexPath)
    graft.ops.SimJoinIndex(
      Parquet.read(spark, new org.apache.hadoop.fs.Path(root, "freq").toString)
        .select("h", "freq"),
      SimJoinPrefixes.read(spark, fs, root, done, "h", "id", "n"),
      SimJoinSets.read(spark, fs, root, done, "id", "set", "n"),
      shingleK, threshold)
  }

  /** Native gap-based SESSION windows (Spark's `session_window` — dynamic
    * event-time windows that extend with each event and MERGE in the
    * state store when a bridging event arrives), append mode to a file
    * sink: one row per (key, closed session) with the session bounds,
    * event count and value sum. The built-in-operator complement of
    * [[statefulSessionCounts]]' custom flatMapGroupsWithState
    * sessionizer — same gap semantics with zero custom state code; the
    * session-merge logic comes from the engine.
    *
    * Scale: state holds only OPEN sessions inside the watermark horizon
    * (closed sessions emit exactly once and leave state); the sink is
    * distributed files. Same [[StagedStream]] sentinel harness as
    * [[windowedCountsAppend]] — the watermark advances past every real
    * session's close so the run drains deterministically.
    */
  def sessionWindowCounts(
      spark: SparkSession,
      srcPath: String,
      tsCol: String,
      keyCol: String,
      valCol: String,
      gapSec: Long,
      watermarkSec: Long,
      statePartitions: Int = 0): DataFrame = {
    val staged = StagedStream.dir(spark, srcPath, tsCol, keyCol, gapSec, watermarkSec)
    val schema = Parquet.schemaOf(spark, staged)
    val in = spark.readStream.schema(schema)
      .parquet(staged)
      .withColumn("__graft_ts", StagedStream.tsAsTimestamp(schema(tsCol).dataType, tsCol))
    val agg = in
      .withWatermark("__graft_ts", s"$watermarkSec seconds")
      .groupBy(session_window(col("__graft_ts"), s"$gapSec seconds"), col(keyCol))
      .agg(count(lit(1)).as("n_events"), round(sum(valCol), 4).as("sum_val"))
    val sink = appendToTempSink(spark, agg, "session", statePartitions)
    Parquet.read(spark, sink)
      .filter(!(col(keyCol) <=> StagedStream.sentinelFor(schema(keyCol).dataType)))
      .select(col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("session_window.end").cast("timestamp_ntz").as("session_end"),
        col(keyCol), col("n_events"), col("sum_val"))
  }

  /** Streaming dedup at ingest: drop rows whose `keys` were already seen
    * within the watermark horizon (`dropDuplicatesWithinWatermark` — state
    * is bounded by event time, unlike unbounded `dropDuplicates`). The
    * ingest-side half of the dedup story: exact/near-dup batch dedup in
    * [[graft.ops.Dedup]] handles the corpus at rest, this handles the
    * firehose.
    */
  def streamingDedup(
      spark: SparkSession,
      srcPath: String,
      keys: Seq[String],
      tsCol: String,
      watermark: String,
      statePartitions: Int = 0): DataFrame = {
    val src = streamSource(spark, srcPath)
    // helper event-time column: the source ts may be raw nanos (events
    // fixture) or date/timestamp; original columns pass through unchanged
    val in = src
      .withColumn("__graft_ts", StagedStream.tsAsTimestamp(src.schema(tsCol).dataType, tsCol))
      .withWatermark("__graft_ts", watermark)
      .dropDuplicatesWithinWatermark(keys)
      .drop("__graft_ts")
    // dedup state = one entry per distinct key in the horizon — size the
    // store count to that, not the session's data-scale shuffle default
    // (see the windowedCountsAppend note)
    val sink = appendToTempSink(spark, in, "dedup", statePartitions)
    Parquet.read(spark, sink)
  }

  /** Streaming benchmark decontamination: documents arrive as a file
    * stream and are dropped BEFORE landing in the corpus if they share any
    * word n-gram with the (static, small-by-nature) benchmark set.
    *
    * The batch operator's explode → join → anti-join shape needs a
    * streaming aggregation/self-join that append streams don't support
    * without watermarks — and decontamination has no event time. Instead
    * the bench side compiles ONCE into a sorted array of hashed n-grams
    * (driver-bounded by the eval-suite contract; the ingest analogue of a
    * broadcast) and each document is checked by a single codegen'd
    * sorted-merge intersection ([[graft.functions.IntersectCountSorted]]
    * over [[graft.functions.ShingleHash]] grams) — stateless, per-row,
    * so any micro-batch cadence and sink compose. Documents shorter than
    * `n` tokens are never contaminated (masked before the whole-text
    * fallback of ShingleHash), matching
    * [[graft.ops.Decontaminate.decontaminate]]; parity modulo the 2⁻⁶⁴
    * gram-hash collision is asserted in IncrementalSpec.
    */
  def streamingDecontaminate(
      spark: SparkSession,
      srcPath: String,
      bench: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    import graft.functions.TextFunctions.{intersect_count_sorted, shingle_hash}
    def toks(c: org.apache.spark.sql.Column) =
      filter(split(c, "[ \t\n\f\r]+"), t => t =!= "") // RE2 \s class (no 0x0B) — matches the DuckDB oracle
    def gramHashes(c: org.apache.spark.sql.Column) =
      array_sort(array_distinct(shingle_hash(toks(c), n)))

    val benchHashes: Array[Long] = bench
      .filter(size(toks(col(textCol))) >= n)
      .select(explode(gramHashes(col(textCol))).as("h")).distinct()
      .collect().map(_.getLong(0)).sorted
    val benchLit = typedLit(benchHashes)

    val in = streamSource(spark, srcPath)
    val hits = when(size(toks(col(textCol))) < n, lit(0))
      .otherwise(intersect_count_sorted(gramHashes(col(textCol)), benchLit))
    val kept = in.filter(hits === 0)
    // stateless per-row filter -> append-mode FILE sink: nothing accumulates
    // on the driver, any micro-batch cadence composes
    val sink = appendToTempSink(spark, kept, "decontam", 0)
    Parquet.read(spark, sink)
  }

  /** Streaming NEAR-duplicate detection of an incoming document stream
    * against a PERSISTED MinHash-LSH corpus index
    * ([[graft.ops.MinHashIndex]]) — "dedup the crawl as it arrives
    * against everything already ingested", the streaming form of
    * [[graft.ops.Dedup.minhashLshIncremental]]. Emits
    * (batch_id, corpus_id, jaccard ≥ threshold), exactly one row per
    * pair.
    *
    * ZERO STATE by construction. LSH yields a candidate once per shared
    * band, so a naive stream-static equi-join emits duplicate pairs —
    * and the batch form's `distinct` is a streaming aggregation that
    * append mode would need watermark state for (documents have no event
    * time). Instead BOTH sides carry their full band-ordered bucket
    * array ([[graft.ops.Dedup.bandBuckets]] — position = band) and a
    * joined row survives only when its band is the FIRST index where the
    * two arrays agree (one zip_with + array_position): the
    * canonical-collision trick — exactly-once per pair, stateless, any
    * micro-batch cadence composes.
    *
    * Scale shape: the stream side is map-side (shingle → sign → band)
    * plus ONE (band, bucket) shuffle into the join; the corpus side
    * reads the persisted `sets` table and re-derives signatures
    * map-side (deterministic hashes — bit-identical to build time).
    * The static legs re-execute per micro-batch, so this suits the
    * coarse (minutes+) cadences crawl ingest actually runs at; corpus
    * buckets above `maxBucket` are dropped exactly as in the batch path.
    */
  def streamingNearDedup(
      spark: SparkSession,
      srcPath: String,
      index: graft.ops.MinHashIndex,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      maxBucket: Int = graft.ops.Dedup.DefaultMaxBucket,
      batchTransform: DataFrame => DataFrame = identity): DataFrame = {
    import graft.functions.TextFunctions.intersect_count_sorted
    import graft.ops.Dedup
    val bands = index.bands
    val rpb = index.rowsPerBand

    def withBuckets(df: DataFrame, setCol: String, arrOut: String): DataFrame =
      df.withColumn("__sig", Dedup.minhashSignature(col(setCol), bands * rpb))
        .withColumn(arrOut, Dedup.bandBuckets(col("__sig"), bands, rpb))
        .drop("__sig")

    // static corpus side: persisted sets (already hashed shingles — the
    // corpus is never re-shingled) → map-side re-sign → exploded
    // (band, bucket) join keys; oversized corpus buckets dropped via the
    // persisted bucket table (same rail as the batch path)
    val okBuckets = index.buckets.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucket)
      .select("band", "bucket")
    val corpus = withBuckets(
        index.sets.select(col("id").as("corpus_id"), col("shingle_set").as("set_b")),
        "set_b", "ca")
      .select(col("corpus_id"), col("set_b"), col("ca"),
        posexplode(col("ca")).as(Seq("band", "bucket")))
      .join(okBuckets, Seq("band", "bucket"))

    // stream side: shingle → sign → band, all map-side on the micro-batch
    val in = batchTransform(streamSource(spark, srcPath))
    val batch = withBuckets(
        in.select(col(idCol).as("batch_id"),
          array_sort(array_distinct(
            Dedup.shingleHashes(col(textCol), index.shingleK))).as("set_a")),
        "set_a", "ba")
      .select(col("batch_id"), col("set_a"), col("ba"),
        posexplode(col("ba")).as(Seq("band", "bucket")))

    val pairs = batch.join(corpus, Seq("band", "bucket"))
      // keep ONLY the first band where the two bucket arrays agree —
      // the stateless exactly-once-per-pair guarantee
      .filter(col("band") ===
        array_position(zip_with(col("ba"), col("ca"), (x, y) => x === y), true) - 1)
      .withColumn("__inter",
        intersect_count_sorted(col("set_a"), col("set_b")).cast("double"))
      .withColumn("jaccard",
        col("__inter") / (size(col("set_a")) + size(col("set_b")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), round(col("jaccard"), 4).as("jaccard"))

    val sink = appendToTempSink(spark, pairs, "neardedup", 0)
    Parquet.read(spark, sink)
  }

  /** One event for stateful sessionization: `ts` is the watermarked
    * event-time TIMESTAMP, `ts_us` the µs value the gap arithmetic uses.
    */
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, ts_us: Long)
  /** Per-user session summary emitted by [[statefulSessionCounts]]. */
  case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)
  /** Per-user session state (public: encoder codegen needs constructor access). */
  case class SessState(nEvents: Long, nSessions: Long, lastTsUs: Long)

  /** Custom-state streaming: per-user session counting with
    * `flatMapGroupsWithState` — the arbitrary-state surface
    * (`KeyValueGroupedDataset`) for session logic that windowed aggregation
    * can't express. A new session starts when a user's gap exceeds `gapUs`.
    *
    * The 100 TB shape: APPEND mode with an EVENT-TIME TIMEOUT — a user's
    * counts are emitted exactly once, when the watermark passes their last
    * event + gap, and the state entry is removed; the sink is distributed
    * files, nothing accumulates on the driver (the round-1 update-mode/
    * memory-sink form materialized one row per user per batch into a
    * driver-resident table). Bounded inputs are finalized by the
    * [[StagedStream]] watermark-driver sentinels (a sentinel user id far
    * outside the fixture space, filtered from the result); the watermark
    * delay is sized to the source's event-time span so no user can time
    * out mid-stream and double-emit regardless of how files batch.
    *
    * Events must arrive time-ordered per user across micro-batches (within
    * one they are sorted); the batch equivalent is the `events_sessionize`
    * declared query, whose oracle this shares.
    */
  def statefulSessionCounts(
      spark: SparkSession,
      srcPath: String,
      tsCol: String,
      userCol: String,
      gapUs: Long,
      statePartitions: Int = 0,
      delaySec: Long = -1L): DataFrame = {
    import spark.implicits._
    val gapSec = math.max(1L, gapUs / 1000000L)
    // watermark delay > source event-time span: the watermark stays below
    // every user's (last event + gap) until the sentinels arrive, so each
    // user emits exactly once even if the files split across micro-batches.
    // A caller-supplied `delaySec` (the deployment's arrival-skew bound)
    // skips the declaration-time span probe — schema inspection below
    // reads only footers, never data.
    val rawSchemaDf = Parquet.read(spark, srcPath)
    val tsType = rawSchemaDf.schema(tsCol).dataType
    val watermarkSec =
      if (delaySec >= 0L) delaySec
      else {
        val spanRow = rawSchemaDf
          .agg(max(StagedStream.tsAsTimestamp(tsType, tsCol)).cast("long")
            - min(StagedStream.tsAsTimestamp(tsType, tsCol)).cast("long"))
          .head()
        val span = if (spanRow.isNullAt(0)) 0L else spanRow.getLong(0)
        span + gapSec
      }
    val staged = StagedStream.dir(spark, srcPath, tsCol, userCol,
      windowSec = gapSec, watermarkSec = watermarkSec)
    val schema = Parquet.schemaOf(spark, staged)
    val src = spark.readStream.schema(schema).parquet(staged)
    // events.ts streams as raw nanos (LongType, nanosAsLong) — µs = ns div 1000;
    // genuine timestamp columns go through unix_micros
    val tsUs = schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType => expr(s"$tsCol div 1000")
      case _ => unix_micros(col(tsCol).cast("timestamp"))
    }
    val in = src
      .select(col(userCol).cast("long").as("user_id"),
        timestamp_micros(tsUs).as("ts"), tsUs.as("ts_us"))
      .withWatermark("ts", s"$watermarkSec seconds")
      .as[SessionEvent]

    val fn: (Long, Iterator[SessionEvent], GroupState[SessState]) => Iterator[UserSessions] =
      (user, events, state) =>
        if (state.hasTimedOut) {
          // watermark passed last event + gap: counts are final — emit
          // once, drop the state
          val s = state.get
          state.remove()
          Iterator.single(UserSessions(user, s.nEvents, s.nSessions))
        } else {
          var s = state.getOption.getOrElse(SessState(0L, 0L, Long.MinValue))
          events.toSeq.sortBy(e => e.ts_us).foreach { e =>
            val newSession = s.lastTsUs == Long.MinValue || e.ts_us - s.lastTsUs > gapUs
            s = SessState(s.nEvents + 1, s.nSessions + (if (newSession) 1 else 0), e.ts_us)
          }
          state.update(s)
          state.setTimeoutTimestamp(s.lastTsUs / 1000L + gapUs / 1000L)
          Iterator.empty
        }

    val out = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)

    val sink = appendToTempSink(spark, out, "sess", statePartitions)
    Parquet.read(spark, sink)
      .filter(col("user_id") =!= StagedStream.SentinelId)
  }

  /** One event on the attribution stream ([[streamingLastTouch]]); `ts`
    * is the watermark column (it must survive into the grouped Dataset
    * for the event-time timeout), `ts_us` the exact-integer order key.
    */
  case class TouchEvent(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
      event_type: String, event_id: Long, value: Double)
  /** Latest creditable touch per subject (public: encoder codegen). */
  case class LastTouchState(ts_us: Long, channel: String, event_id: Long)
  /** One purchase's credit row emitted by [[streamingLastTouch]]. */
  case class TouchCredit(user_id: Long, purchase_id: Long, channel: String,
      value: Double)

  /** Streaming last-touch attribution: purchases are credited to the
    * subject's latest preceding touch within `lookbackUs`, AS THEY ARRIVE
    * — the in-flight counterpart of the batch `attribution_last_touch`
    * as-of join (ops/AsOf + ops/Attribution), whose channel roll-up and
    * oracle this shares.
    *
    * The 100 TB shape: per-subject state is ONE (ts, channel, event_id)
    * triple — the minimum any attribution can hold — because last-touch
    * needs only the maximum-ts touch, never a touch buffer (the
    * multi-touch models need the windowed history and belong to the
    * batch/range-join leg). Credits emit in APPEND mode the moment the
    * purchase is processed; an EVENT-TIME TIMEOUT at last touch +
    * lookback removes subjects whose state can no longer credit anything
    * (a later purchase is `direct` either way), so state holds only
    * RECENTLY-TOUCHED subjects, not all-time users. Within a micro-batch
    * events process in (ts, touch-before-purchase, event_type, event_id)
    * order — the batch asOfJoin's documented tie-break — and, like
    * [[statefulSessionCounts]], batches must arrive time-ordered per
    * subject.
    */
  def streamingLastTouch(
      spark: SparkSession,
      srcPath: String,
      lookbackUs: Long,
      statePartitions: Int = 0,
      delaySec: Long = -1L): DataFrame = {
    import spark.implicits._
    require(lookbackUs > 0, s"lookbackUs must be positive: $lookbackUs")
    val src = streamSource(spark, srcPath)
    def tsUsOf(df: org.apache.spark.sql.DataFrame) =
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => expr("ts div 1000")
        case _ => unix_micros(col("ts").cast("timestamp"))
      }
    // watermark delay > source event-time span + lookback (the
    // statefulSessionCounts convention): cross-SUBJECT skew between
    // micro-batches can then never mark a purchase late or expire a
    // still-creditable touch — a 0-second delay would drop any event
    // older than a previously-seen batch's maximum. A production
    // deployment passes `delaySec` (its real arrival-skew bound), which
    // skips this declaration-time full-source span probe entirely — the
    // probe is a bounded-fixture convenience, not a 100 TB pattern.
    val watermarkSec =
      if (delaySec >= 0L) delaySec
      else {
        val batchView = Parquet.read(spark, srcPath)
        val spanRow = batchView
          .agg(max(tsUsOf(batchView)) - min(tsUsOf(batchView)))
          .head()
        // empty source -> NULL span: stream degenerates to an empty credit frame
        val spanUs = if (spanRow.isNullAt(0)) 0L else spanRow.getLong(0)
        spanUs / 1000000L + lookbackUs / 1000000L + 1L
      }
    val tsUs = tsUsOf(src)
    val in = src
      .select(col("user_id").cast("long").as("user_id"),
        timestamp_micros(tsUs).as("ts"),
        tsUs.as("ts_us"),
        col("event_type").cast("string").as("event_type"),
        col("event_id").cast("long").as("event_id"),
        col("value").cast("double").as("value"))
      .withWatermark("ts", s"$watermarkSec seconds")
      .as[TouchEvent]

    val fn: (Long, Iterator[TouchEvent], GroupState[LastTouchState]) => Iterator[TouchCredit] =
      (user, events, state) =>
        if (state.hasTimedOut) {
          // watermark passed last touch + lookback: this touch can never
          // credit again (an untouched-horizon purchase is 'direct')
          state.remove()
          Iterator.empty
        } else {
          var last = state.getOption
            .getOrElse(LastTouchState(Long.MinValue, "", Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[TouchCredit]
          // ts order; at equal ts touches precede purchases (a same-instant
          // touch is creditable — batch `t.ts <= p.ts`), equal-ts touches
          // then follow the asOfJoin largest-struct tie-break
          events.toSeq
            .sortBy(e => (e.ts_us, e.event_type == "purchase", e.event_type, e.event_id))
            .foreach { e =>
              if (e.event_type == "purchase") {
                val channel =
                  if (last.ts_us != Long.MinValue && e.ts_us - last.ts_us <= lookbackUs)
                    last.channel
                  else "direct"
                out += TouchCredit(user, e.event_id, channel, e.value)
              } else {
                val later = e.ts_us > last.ts_us ||
                  (e.ts_us == last.ts_us && (e.event_type > last.channel ||
                    (e.event_type == last.channel && e.event_id >= last.event_id)))
                if (later) last = LastTouchState(e.ts_us, e.event_type, e.event_id)
              }
            }
          if (last.ts_us != Long.MinValue) {
            state.update(last)
            // never set a timeout at/below the current watermark (Spark
            // rejects it): a touch already past the horizon expires at the
            // next watermark tick instead
            state.setTimeoutTimestamp(
              math.max(last.ts_us / 1000L + lookbackUs / 1000L,
                state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
        }

    val out = in.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)

    val sink = appendToTempSink(spark, out, "attrib", statePartitions)
    // explicit schema: an empty source emits no files, and a bare read of
    // the empty sink would fail schema inference instead of returning
    // zero credits
    spark.read.schema(implicitly[org.apache.spark.sql.Encoder[TouchCredit]].schema)
      .parquet(sink)
  }
}
