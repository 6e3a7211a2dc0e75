package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.types.StructType

/** Spark's parquet source, except that schema inference reads its one
  * footer in the calling JVM instead of in a Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`). With `mergeSchema` off,
  * `ParquetUtils.inferSchema` reads `_common_metadata`, else `_metadata`,
  * else the data file whose full path sorts first, among the files
  * Spark's own file index listed; this reads the same file with the same
  * Hadoop conf, corrupt-file option and converter. With `mergeSchema` on,
  * with no file, or when that footer cannot be read here, it is Spark's
  * own inference, errors included. Lives under Spark's package only for
  * the package-private footer reads, like `graftshim`.
  */
class FooterParquetFileFormat extends ParquetFileFormat {
  override def inferSchema(
      spark: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val sorted = files.sortBy(_.getPath.toString)
    def named(name: String) = sorted.find(_.getPath.getName == name)
    val footer = named("_common_metadata").orElse(named("_metadata")).orElse(
      sorted.find(f => !Set("_common_metadata", "_metadata")(f.getPath.getName)))
    val local =
      if (new ParquetOptions(options, spark.sessionState.conf).mergeSchema) None
      else footer.flatMap { file =>
        try ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
            spark.sessionState.newHadoopConfWithOptions(options), Seq(file),
            new FileSourceOptions(CaseInsensitiveMap(options)).ignoreCorruptFiles), spark)
        catch { case NonFatal(_) => None }
      }
    local.orElse(super.inferSchema(spark, options, files))
  }

  // equal to ParquetFileFormat (its equals is `isInstanceOf`), so hash alike
  override def hashCode(): Int = classOf[ParquetFileFormat].hashCode
}
