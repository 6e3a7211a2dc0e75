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
  *   scan history);
  * - the in-place rewrites of existing partitions (compaction, subject
  *   erasure) never overwrite what they read: they write into a staging
  *   dir and publish each partition by one swap ([[StagedSwap]]).
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
  def refreshWindow(spark: SparkSession, incoming: DataFrame, dateCol: String, path: String): Unit = {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try withDatePartition(incoming, dateCol).write
      .partitionBy("p_date").mode(SaveMode.Overwrite).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Read back a partitioned target with partition pruning on `p_date`. */
  def readWindow(spark: SparkSession, path: String, fromDate: String): DataFrame =
    Parquet.read(spark, path).filter(col("p_date") >= fromDate)

  /** A row's partition dir value: a null `p_date` reads back from (and
    * writes to) the default partition dir.
    */
  private def partValue =
    coalesce(col("p_date").cast("string"), lit(ExternalCatalogUtils.DEFAULT_PARTITION_NAME))

  /** The fs and qualified root of a partitioned target, after the
    * [[StagedSwap.recover]] of an interrupted rewrite.
    */
  private def recovered(spark: SparkSession, path: String) = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(path))
    StagedSwap.recover(fs, root)
    (fs, root)
  }

  /** Compact a partitioned parquet target's small files in place: every
    * `p_date` partition holding more `.parquet` files than
    * `want = ceil(bytes / targetFileBytes)` is rewritten into at most
    * `want` files; healthy partitions are never read or touched.
    *
    * Incremental appends (daily micro-batches, streaming sinks) accrete
    * one-file-per-task little files; at 100 TB the resulting
    * open/footer-read overhead dominates scans. The plan comes from a
    * Hadoop `FileSystem` listing of the root and its partition dirs, so
    * the compactor runs on any Hadoop store, and Spark lists only the
    * fragmented partition dirs it reads. ONE Spark write rewrites every
    * fragmented partition into the [[StagedSwap]] staging dir, its rows
    * hash-partitioned on `p_date` plus a salt below that partition's
    * `want`, so the job count does not grow with the number of
    * fragmented partitions, and [[StagedSwap.publish]] swaps each
    * partition in. Recovery of a crashed rewrite runs first, so a rerun
    * after a crash at any point leaves the same rows in healthy
    * partitions.
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
    val (fs, root) = recovered(spark, path)
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
      val wants = plan.map { case (part, (_, want)) => part.stripPrefix("p_date=") -> want }
      // the salt is a shuffled column of its own, so it is left out when
      // every partition wants one file
      val salt = if (wants.values.forall(_ == 1)) Nil
        else Seq(pmod(monotonically_increasing_id(), element_at(typedLit(wants), partValue)))
      Parquet.readPartitions(spark, root.toString,
          plan.keys.toSeq.sorted.map(new Path(root, _).toString): _*)
        .repartition(col("p_date") +: salt: _*)
        .write.partitionBy("p_date").parquet(StagedSwap.staging(root).toString)
      StagedSwap.publish(fs, root, plan.keys.toSeq)
    }
    plan
  }

  /** Partition-pruned subject ERASURE on a partitioned parquet target —
    * the L6 delete leg a 100 TB lake actually runs: only the `p_date`
    * partitions that CONTAIN victim rows are rewritten; history
    * partitions are never read or touched beyond one column-pruned,
    * grouped scan of (`fkCol`, `p_date`) left-joined to the keys, which
    * finds each affected partition and its row count. Returns the
    * per-affected-partition ledger (p_date, n_before, n_after, n_erased)
    * AFTER the physical rewrite, with n_after re-read from the target; the
    * null-date partition reports a null `p_date`.
    *
    * The retained rows of the affected partitions are written into the
    * [[StagedSwap]] staging dir and published by its swap, so the rewrite
    * never reads its own output, and a partition whose EVERY row is a
    * victim has no staged dir and is removed by the same publish. A crash
    * at any point leaves each partition with its old or its erased rows,
    * and the rerun (recovery first, then the same scan) finishes the
    * erase; a compliance pipeline attests the erasure when this method
    * RETURNS. The affected-partition collect is bounded by the target's
    * PARTITION count (days — ~10³ for years); victims themselves never
    * reach the driver.
    */
  def erasePartitioned(
      spark: SparkSession,
      path: String,
      fkCol: String,
      keys: DataFrame): DataFrame = {
    require(keys.columns.length == 1,
      s"keys must be a single column, got ${keys.columns.toSeq}")
    val k = keys.toDF("__k").distinct().localCheckpoint()
    val (fs, root) = recovered(spark, path)
    val tgt = Parquet.read(spark, path)
    val before = tgt.select(col(fkCol), partValue.as("__part"))
      .join(broadcast(k.withColumn("__victim", lit(1))), col(fkCol) === col("__k"), "left")
      .groupBy("__part").agg(count(lit(1)), count(col("__victim")).as("__nv"))
      .filter(col("__nv") > 0)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val after: Map[String, Long] = if (before.isEmpty) Map.empty else {
      val vs = before.map(_._1)
      tgt.filter(partValue.isin(vs: _*)).join(k, col(fkCol) === col("__k"), "left_anti")
        .write.partitionBy("p_date").parquet(StagedSwap.staging(root).toString)
      StagedSwap.publish(fs, root, vs.map("p_date=" + _))
      // the erase-everything case leaves no partition dir to read
      if (!fs.listStatus(root).exists(_.getPath.getName.startsWith("p_date="))) Map.empty
      else Parquet.read(spark, path).filter(partValue.isin(vs: _*)).groupBy(partValue).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    spark.createDataFrame(before.sortBy(_._1).map { case (v, n) =>
      val a = after.getOrElse(v, 0L)
      (Some(v).filter(_ != ExternalCatalogUtils.DEFAULT_PARTITION_NAME).orNull, n, a, n - a)
    }).toDF("p_date", "n_before", "n_after", "n_erased")
  }
}
