package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Parquet

/** Fixture/table readers.
  *
  * In the harness every source system of the reference (BigQuery, SQL Server,
  * PostgreSQL, MySQL — reference `Template-to-MySQL/&#42;-Method-1.py` extract
  * phases) is stood in by parquet tables (TESTDATA.md). Real deployments use
  * [[Jdbc]] for the four relational systems and [[JsonRecords]] for the OData
  * entity shape.
  *
  * Every table reads through [[graft.sources.Parquet.read]]: the schema
  * comes from the one footer Spark's own inference would pick (for these
  * single-file tables, the file itself), read in the calling JVM under the
  * session's current conf, so building the DataFrame launches no Spark job.
  *
  * Scale note: parquet scans are split by Spark into
  * `spark.sql.files.maxPartitionBytes` chunks, so a 100 TB table parallelizes
  * across all executors with no code change here. Column pruning + predicate
  * pushdown reach the scan automatically because callers compose filters
  * lazily on the returned DataFrame.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some fixture
    * generations (Spark's µs TimestampType can't hold it → read raw nanos
    * via `spark.sql.legacy.parquet.nanosAsLong` and truncate to µs, the
    * same truncation DuckDB applies) and as TIMESTAMP(MICROS, NTZ) in
    * others (reads natively). Dispatch on the dtype Spark actually read —
    * never assume one fixture generation — and normalize to TimestampType
    * (session TZ is UTC everywhere, so NTZ↔LTZ is value-identity).
    * `FixtureContractSpec` pins the accepted dtypes and names this method
    * as the adaptation point.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division (`div`), NOT `/`: double division loses µs
        // precision at 1.7e18-scale nanos (observed ±1 µs vs DuckDB)
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
