package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
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

  /** Compact a partitioned parquet target's small files in place: every
    * `p_date` partition holding more `.parquet` files than
    * `want = ceil(bytes / targetFileBytes)` is rewritten into at most
    * `want` files; healthy partitions are never read or touched.
    *
    * Incremental appends (daily micro-batches, streaming sinks) accrete
    * one-file-per-task little files; at 100 TB the resulting
    * open/footer-read overhead dominates scans. The plan comes from a
    * Hadoop `FileSystem` listing of the root and its partition dirs, so
    * the compactor runs on any Hadoop store. ONE Spark write rewrites every fragmented partition into
    * a hidden staging dir, its rows hash-partitioned on `p_date` plus a
    * salt below that partition's `want`, so the job count does not grow
    * with the number of fragmented partitions. Each partition is then
    * published by a swap (live → `.compact_old_<part>`, staged → live,
    * backup deleted).
    *
    * Crash recovery runs first: a backup whose live partition is missing
    * died between the two swap renames and is restored; a backup whose
    * live partition exists died after the publish and is deleted; the
    * staging dir of a failed run is deleted. A rerun after a crash at any
    * point therefore leaves the same rows in healthy partitions, provided
    * a directory rename is atomic (local disk, HDFS).
    *
    * Files whose size is mostly footer (KB-sized files) shrink when merged,
    * so a partition split into `want ≥ 2` files can plan fewer on the next
    * pass; its file count then falls again, so repeated passes converge.
    *
    * Returns the (partition → files before, `want`) plan it executed.
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, (Int, Int)] = {
    require(targetFileBytes >= 1, s"targetFileBytes must be >= 1: $targetFileBytes")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(path))
    val staging = new Path(root, ".compact_staging")
    def backup(part: String) = new Path(root, s".compact_old_$part")
    // Hadoop's rename moves the source INTO an existing target directory
    // instead of failing, so the target must be checked absent first
    def move(from: Path, to: Path): Unit =
      if (fs.exists(to) || !fs.rename(from, to)) sys.error(s"compact: cannot move $from to $to")
    fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith(".compact_old_")).foreach { b =>
      val live = new Path(root, b.stripPrefix(".compact_old_"))
      if (fs.exists(live)) fs.delete(new Path(root, b), true) else move(new Path(root, b), live)
    }
    fs.delete(staging, true)
    // listStatus, not listFiles: a LocatedFileStatus loads each file's
    // permissions, one `stat` process per file on a local disk without
    // Hadoop's native library
    val parts = fs.listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("p_date=")).map(_.getPath)
    val plan = fs.listStatus(parts).filter(_.getPath.getName.endsWith(".parquet"))
      .groupBy(_.getPath.getParent.getName)
      .map { case (part, fl) =>
        val want = math.ceil(fl.map(_.getLen).sum.toDouble / targetFileBytes).toInt
        part -> (fl.length, math.max(1, want))
      }
      .filter { case (_, (n, want)) => n > want }
    if (plan.nonEmpty) {
      // a null p_date reads back from (and writes to) the default partition dir
      val value = coalesce(col("p_date").cast("string"),
        lit(ExternalCatalogUtils.DEFAULT_PARTITION_NAME))
      val wants = plan.map { case (part, (_, want)) => part.stripPrefix("p_date=") -> want }
      // the salt is a shuffled column of its own, so it is left out when
      // every partition wants one file
      val salt = if (wants.values.forall(_ == 1)) Nil
        else Seq(pmod(monotonically_increasing_id(), element_at(typedLit(wants), value)))
      Parquet.read(spark, root.toString).filter(value.isin(wants.keys.toSeq: _*))
        .repartition(col("p_date") +: salt: _*)
        .write.partitionBy("p_date").parquet(staging.toString)
      plan.keys.foreach { part =>
        val live = new Path(root, part)
        move(live, backup(part))
        move(new Path(staging, part), live)
        fs.delete(backup(part), true)
      }
      fs.delete(staging, true)
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
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    affected.filterNot(survived).foreach { d =>
      fs.delete(new Path(rootPath, s"p_date=$d"), true)
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
