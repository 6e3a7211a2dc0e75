package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** Self-generated scale-up corpus for the empirical scaling probe
  * (`runMain graft.tools.ScaleUp [factor] [outDir] [srcDir]`): replicates
  * the sf0.1 fixture `factor`× with key remapping, so every 100 TB design
  * claim gets a measured ~10× point instead of only a plan audit.
  * `/root/testdata` is read-only — this writes to scratch.
  *
  * Key domains shift by `replica × (max_key + 1)` so referential
  * integrity holds inside every replica (orders→customer,
  * lineitem→orders/part/supplier, events.user_id→customer); the tiny
  * region/nation dimensions copy as-is and keep their foreign keys
  * unshifted. Document TEXT tokens get a per-replica suffix so replicas
  * share no shingles: the near-dup pair structure is exactly `factor`
  * independent copies of the original (output scales linearly by
  * construction — the right yardstick for measuring PLAN scaling, not a
  * quadratic cross-replica duplicate blow-up). Embeddings shift by a
  * tiny per-replica epsilon for the same reason (no artificial exact
  * ties in top-k).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val factor = if (args.length > 0) args(0).toInt else 10
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_scale_x10"
    val srcDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def tbl(name: String) = Parquet.read(spark, s"$srcDir/$name.parquet")
    def off(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val custOff = off(tbl("customer"), "c_custkey")
    val suppOff = off(tbl("supplier"), "s_suppkey")
    val partOff = off(tbl("part"), "p_partkey")
    val ordOff = off(tbl("orders"), "o_orderkey")
    val evOff = off(tbl("events"), "event_id")
    val docOff = off(tbl("documents"), "doc_id")
    val vecOff = off(tbl("embeddings"), "vec_id")

    /** `factor` shifted replicas in ONE map-side pass (explode a literal
      * replica-index array; no shuffle), keys shifted per domain.
      */
    def replicate(df: DataFrame, shifts: Map[String, Long])(
        extra: DataFrame => DataFrame = identity): DataFrame = {
      val exploded = df
        .withColumn("__i", explode(lit((0 until factor).toArray)))
      val shifted = shifts.foldLeft(exploded) { case (d, (c, o)) =>
        d.withColumn(c, col(c) + col("__i") * lit(o))
      }
      extra(shifted).drop("__i")
    }

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] wrote $name")
    }

    write(tbl("region"), "region")
    write(tbl("nation"), "nation")
    write(replicate(tbl("customer"), Map("c_custkey" -> custOff))(), "customer")
    write(replicate(tbl("supplier"), Map("s_suppkey" -> suppOff))(), "supplier")
    write(replicate(tbl("part"), Map("p_partkey" -> partOff))(), "part")
    write(replicate(tbl("orders"),
      Map("o_orderkey" -> ordOff, "o_custkey" -> custOff))(), "orders")
    write(replicate(tbl("lineitem"),
      Map("l_orderkey" -> ordOff, "l_partkey" -> partOff,
        "l_suppkey" -> suppOff))(), "lineitem")
    write(replicate(tbl("events"),
      Map("event_id" -> evOff, "user_id" -> custOff))(), "events")
    // disjoint shingles across replicas: suffix every token with the
    // replica index (replica 0 keeps the original text verbatim)
    write(replicate(tbl("documents"), Map("doc_id" -> docOff)) { d =>
      d.withColumn("text",
          when(col("__i") === 0, col("text"))
            .otherwise(array_join(
              transform(split(col("text"), " "),
                t => concat(t, lit("_"), col("__i"))), " ")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")
    // per-replica epsilon keeps top-k free of artificial exact ties
    write(replicate(tbl("embeddings"), Map("vec_id" -> vecOff)) { d =>
      d.withColumn("embedding",
        transform(col("embedding"),
          x => x + (col("__i").cast("float") * lit(0.001f))))
    }, "embeddings")
    println(s"[scaleup] done: factor=$factor out=$outDir")
    spark.stop()
  }
}
