package graft.schema

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Data-quality expectation runner (the Great-Expectations/dbt-test shape,
  * public pattern): a suite of named boolean expectations evaluates over a
  * table in ONE aggregate pass — each check contributes a conditional
  * count to a single hash aggregate, so a 50-check suite on a 100 TB
  * table costs one scan, not 50.
  *
  * The reference has no validation surface at all (its loads assume "your
  * table schema matches the dataframe",
  * `Template-to-MySQL/BigQuery-to-MySQL-Method-1.py:76-79`); pipelines
  * promoting data into training sets gate on exactly this kind of suite.
  */
object Validate {

  /** One expectation: every row should satisfy `predicate` (NULL counts
    * as a violation — an unexpectedly NULL comparison is a data problem,
    * not a pass).
    */
  final case class Check(name: String, predicate: Column)

  /** Evaluate the suite: returns one row per check —
    * (check, n_rows, n_violations, passed) — from a single scan.
    * Deterministic output order by check name, in Spark's string order
    * (UTF-8 bytes), sorted on the driver: the result is a local relation,
    * so collecting it runs no Spark job.
    */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "empty expectation suite")
    require(checks.map(_.name).distinct.size == checks.size, "duplicate check names")
    val aggs = checks.flatMap { c =>
      Seq(sum(when(coalesce(c.predicate, lit(false)), 0L).otherwise(1L))
        .as(s"__v_${c.name}"))
    } :+ count(lit(1)).as("__n")
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getAs[Long]("__n")
    val spark = df.sparkSession
    import spark.implicits._
    checks.sortBy(c => UTF8String.fromString(c.name)).map { c =>
      val v = row.getAs[Long](s"__v_${c.name}")
      (c.name, n, v, v == 0L)
    }.toDF("check", "n_rows", "n_violations", "passed")
  }
}
