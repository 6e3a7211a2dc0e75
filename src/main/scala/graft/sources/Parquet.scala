package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Parquet reads of the program's own files, with the schema taken from
  * one footer, read in the calling JVM.
  *
  * `spark.read.parquet(path)` without a schema runs one Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`) to read a single footer:
  * on Spark 4.1.2 on a shared 4-core box, 1 job and 77–240 ms per read,
  * against 0 jobs and 9–18 ms when the schema is given. [[read]] is
  * `spark.read.parquet(paths*)` through [[FooterParquetFileFormat]],
  * Spark's parquet source with only that footer read moved to the driver:
  * the listing, partition discovery, path checks, errors and plans stay
  * Spark's own. The footer is the one Spark's inference picks from that
  * listing (`_common_metadata`, then `_metadata`, then the data file whose
  * full path sorts first), read under the session's current conf; with
  * `mergeSchema` on it is Spark's inference job. Partition columns come
  * from the directory names as before, so `p_date` stays DateType.
  * Nothing is cached: a path rewritten in place is read again.
  */
object Parquet {
  private val Format = classOf[FooterParquetFileFormat].getName

  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.format(Format).load(paths: _*)

  /** [[read]] of some partition dirs of a partitioned `root` (Spark's
    * `basePath`): only those dirs are listed, and the partition columns
    * still come from the dir names below `root`.
    */
  def readPartitions(spark: SparkSession, root: String, dirs: String*): DataFrame =
    spark.read.format(Format).option("basePath", root).load(dirs: _*)

  /** The schema of [[read]], for reads that want nothing else. */
  def schemaOf(spark: SparkSession, paths: String*): StructType =
    read(spark, paths: _*).schema
}
