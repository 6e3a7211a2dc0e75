package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** Physical file-target load dispositions (SURVEY.md §2.6 L1/L2/L5 on a
  * parquet/lake target). The logical merge semantics live in [[Loads]];
  * these writers map them onto partitioned parquet with the commit-protocol
  * atomicity the reference's delete-then-insert sequences lack
  * (SURVEY.md §7.4 "non-atomic delete+append").
  *
  * Scale design: the target is partitioned by a derived date column, so
  * - the idempotent window refresh (L5) is DYNAMIC PARTITION OVERWRITE —
  *   only the partitions present in the incoming batch rewrite; history
  *   partitions are untouched (no read-modify-write of the whole table);
  * - readers prune partitions on the same column (date-window queries never
  *   scan history).
  */
object FileLoads {

  /** Derive the partition column (`p_date`, yyyy-MM-dd) from an event-time
    * column — daily partitions, the reference's windowing granularity.
    */
  def withDatePartition(df: DataFrame, dateCol: String): DataFrame =
    df.withColumn("p_date", date_format(col(dateCol), "yyyy-MM-dd"))

  /** L1: append new files into the partition layout. */
  def append(df: DataFrame, dateCol: String, path: String): Unit =
    withDatePartition(df, dateCol).write
      .partitionBy("p_date").mode(SaveMode.Append).parquet(path)

  /** L2: full truncate-refresh. */
  def overwriteAll(df: DataFrame, dateCol: String, path: String): Unit =
    withDatePartition(df, dateCol).write
      .partitionBy("p_date").mode(SaveMode.Overwrite).parquet(path)

  /** L5: idempotent window refresh as dynamic partition overwrite — ONLY
    * the date partitions present in `incoming` are replaced; everything
    * else is untouched. Re-running with the same input is a no-op
    * semantically (the reference's Method-2 D365→BQ intent,
    * `Template-to-BigQuery/Dynamics365-to-BigQuery-Method-2.py:82-92`,
    * without its delete/append non-atomicity).
    */
  def refreshWindow(spark: SparkSession, incoming: DataFrame, dateCol: String, path: String): Unit =
    withDynamicOverwrite(spark) {
      withDatePartition(incoming, dateCol).write
        .partitionBy("p_date").mode(SaveMode.Overwrite).parquet(path)
    }

  /** Run `write` under dynamic partitionOverwriteMode, restoring the
    * session's previous setting afterwards (shared by [[refreshWindow]]
    * and [[erasePartitioned]] — the save/restore must stay in lockstep).
    */
  private def withDynamicOverwrite[A](spark: SparkSession)(write: => A): A = {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try write
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Read back a partitioned target with partition pruning on `p_date`. */
  def readWindow(spark: SparkSession, path: String, fromDate: String): DataFrame =
    Parquet.read(spark, path).filter(col("p_date") >= fromDate)

  /** Compact a partitioned parquet target's small files: rewrite each
    * `p_date` partition into `ceil(bytes / targetFileBytes)` files, sorted
    * within files by `sortCols` so parquet row-group min/max statistics
    * support data skipping on those columns.
    *
    * Incremental appends (daily micro-batches, streaming sinks) accrete
    * one-file-per-task little files; at 100 TB the resulting
    * open/footer-read overhead dominates scans. Compaction here is
    * per-partition dynamic overwrite — ONLY partitions whose file count
    * exceeds their target are rewritten, history stays untouched, and the
    * job is a read+write of those partitions with no shuffle beyond the
    * `repartition` that sets output file count.
    *
    * Returns the (partition → files before/after) plan it executed.
    */
  def compact(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      sortCols: Seq[String] = Nil): Map[String, (Int, Int)] = {
    val root = new java.io.File(path)
    // crash recovery: a prior run that died mid-swap leaves the partition
    // staged as .compact_old_<part> with the live dir absent — restore it
    // before planning (the tmp dir, if any, is incomplete and removed)
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".compact_old_"))
      .foreach { bak =>
        val live = new java.io.File(root, bak.getName.stripPrefix(".compact_old_"))
        if (!live.exists()) {
          if (!bak.renameTo(live)) sys.error(s"compact: cannot restore ${bak.getName}")
        }
      }
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".compact_tmp_"))
      .foreach { tmp =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(); ()
        }
        rm(tmp)
      }
    val parts = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("p_date="))
    val plan = parts.flatMap { p =>
      val files = p.listFiles().filter(f => f.getName.endsWith(".parquet"))
      val bytes = files.map(_.length()).sum
      val want = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      if (files.length > want) Some(p.getName -> (files.length, want)) else None
    }.toMap
    plan.foreach { case (part, (_, want)) =>
      val partPath = s"$path/$part"
      val df = Parquet.read(spark, partPath)
      val laid =
        if (sortCols.nonEmpty) df.repartition(want).sortWithinPartitions(sortCols.map(col): _*)
        else df.coalesce(want)
      // write to a sibling temp dir, then atomically swap the partition in
      val tmp = s"$path/.compact_tmp_$part"
      laid.write.mode(SaveMode.Overwrite).parquet(tmp)
      val dst = new java.io.File(partPath)
      val bak = new java.io.File(s"$path/.compact_old_$part")
      if (!dst.renameTo(bak)) sys.error(s"compact: cannot stage $partPath")
      if (!new java.io.File(tmp).renameTo(dst)) {
        bak.renameTo(dst) // roll back
        sys.error(s"compact: cannot publish $tmp")
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(); ()
      }
      rm(bak)
    }
    plan
  }

  /** Partition-pruned subject ERASURE on a partitioned parquet target —
    * the L6 delete leg a 100 TB lake actually runs: only the `p_date`
    * partitions that CONTAIN victim rows are rewritten (dynamic partition
    * overwrite), history partitions are never read or touched beyond one
    * column-pruned scan of (`fkCol`, `p_date`) to find them. Returns the
    * per-affected-partition ledger (p_date, n_before, n_after, n_erased)
    * AFTER the physical rewrite, with n_after re-read from the target.
    *
    * Two correctness traps this handles:
    *  - dynamic overwrite only replaces partitions PRESENT in the written
    *    data, so a partition whose EVERY row is a victim would silently
    *    survive — those are deleted explicitly (Hadoop FS), and their
    *    ledger rows read n_after = 0;
    *  - the retained frame derives from the same files the overwrite
    *    replaces — it is `localCheckpoint`ed (with the before-counts)
    *    BEFORE the write, so the rewrite never reads its own output.
    *
    * The affected-date collect is bounded by the target's PARTITION count
    * (days — ~10³ for years), the same bounded-collect family as the
    * BM25 term pushdown; victims themselves never reach the driver.
    *
    * Partial-failure window: the dynamic-overwrite commit and the
    * explicit FS delete of fully-victim partitions are TWO operations — a
    * crash between them leaves those partitions' victim rows on disk with
    * no ledger saying the erase is incomplete. The operation is
    * IDEMPOTENT (remaining victims are re-detected by the affected-date
    * scan), so a failed run must simply be re-run to completion before
    * the erasure is attested; a compliance pipeline should gate its
    * attestation on this method RETURNING, not on the write having
    * started.
    */
  def erasePartitioned(
      spark: SparkSession,
      path: String,
      fkCol: String,
      keys: DataFrame): DataFrame = {
    require(keys.columns.length == 1,
      s"keys must be a single column, got ${keys.columns.toSeq}")
    val k = keys.toDF("__k").distinct().localCheckpoint()
    val tgt = Parquet.read(spark, path)
    // one column-pruned pass finds the affected partitions
    val affected = tgt.select(col(fkCol), col("p_date"))
      .join(k, col(fkCol) === col("__k"), "left_semi")
      .select(col("p_date").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    // one ledger shape for every branch (zero-row on the no-victims path)
    def emptyLedger = spark.range(0).select(
      lit("").as("p_date"), lit(0L).as("n_before"),
      lit(0L).as("n_after"), lit(0L).as("n_erased"))
    if (affected.isEmpty) return emptyLedger
    val inAffected = tgt
      .filter(col("p_date").cast("string").isin(affected.toIndexedSeq: _*))
    val before = inAffected.groupBy(col("p_date").cast("string").as("p_date"))
      .agg(count(lit(1)).as("n_before"))
      .localCheckpoint()
    // materialize the retained rows BEFORE overwriting their source files
    val retained = inAffected.join(k, col(fkCol) === col("__k"), "left_anti")
      .drop("__k").localCheckpoint()
    withDynamicOverwrite(spark) {
      retained.write.partitionBy("p_date").mode(SaveMode.Overwrite).parquet(path)
    }
    // fully-victim partitions produced no retained rows → dynamic
    // overwrite never touched them; delete their directories explicitly
    val survived = retained.select(col("p_date").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val rootPath = new org.apache.hadoop.fs.Path(path)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    affected.filterNot(survived).foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(rootPath, s"p_date=$d"), true)
    }
    // the erase-everything case: no partition directory remains, so a
    // parquet read of the target would fail schema inference — every
    // affected partition's n_after is 0 by construction
    val anyPartitionLeft = fs.exists(rootPath) &&
      fs.listStatus(rootPath).exists(s =>
        s.isDirectory && s.getPath.getName.startsWith("p_date="))
    val after =
      if (anyPartitionLeft)
        Parquet.read(spark, path)
          .filter(col("p_date").cast("string").isin(affected.toIndexedSeq: _*))
          .groupBy(col("p_date").cast("string").as("p_date"))
          .agg(count(lit(1)).as("n_after"))
      else emptyLedger.select(col("p_date"), col("n_after"))
    before.join(after, Seq("p_date"), "left")
      .na.fill(0L, Seq("n_after"))
      .select(col("p_date"), col("n_before"), col("n_after"),
        (col("n_before") - col("n_after")).as("n_erased"))
  }
}
