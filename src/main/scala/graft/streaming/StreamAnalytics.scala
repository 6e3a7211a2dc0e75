package graft.streaming

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.etl.{Sanitize, Windows}
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
  *
  * The operators are reachable as `Incremental.<name>`: [[Incremental]]
  * mixes this trait in. Their state and row types live in the companion.
  */
trait StreamAnalytics {
  import MaintainedRoot._
  import StreamAnalytics._

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

/** The state and row types of [[StreamAnalytics]]' stateful operators. */
object StreamAnalytics {
  /** One event for stateful sessionization: `ts` is the watermarked
    * event-time TIMESTAMP, `ts_us` the µs value the gap arithmetic uses.
    */
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, ts_us: Long)
  /** Per-user session summary emitted by [[statefulSessionCounts]]. */
  case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)
  /** Per-user session state (public: encoder codegen needs constructor access). */
  case class SessState(nEvents: Long, nSessions: Long, lastTsUs: Long)

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
}
