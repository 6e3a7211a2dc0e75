package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** Empirical before/after probe for maintained-root compaction
  * (`runMain graft.tools.CompactionProbe [srcSfDir] [nBatches]`): builds a
  * stream-maintained MinHash root over the documents table split into
  * `nBatches` micro-batches (one committed batch dir pair per file), then
  * measures — at the SAME corpus — the serve cost and the erase
  * victim-probe cost against the many-leg root vs the compacted one-leg
  * generation. Times are min-of-3 on a warm session; the erase probe uses
  * an absent victim id so only the probe itself runs (no rewrites).
  * Run it on the [[ScaleUp]] corpus for the scale point; results recorded
  * in BASELINE.md §r16.
  */
object CompactionProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/tmp/graft_scale_x10"
    val nBatches = if (args.length > 1) args(1).toInt else 48
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = Parquet.read(spark, s"$sfDir/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("graft_cprobe").toString
    docs.repartition(nBatches, col("doc_id")).write.parquet(s"$tmp/src")
    println(s"[cprobe] ingesting $nBatches micro-batches from $sfDir ...")
    val t0 = System.nanoTime()
    graft.streaming.Incremental.streamMinHashMaintain(
      spark, s"$tmp/src", s"$tmp/index", "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, maxFilesPerTrigger = 1)
    println(f"[cprobe] ingest: ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
      s"tail=${graft.streaming.Incremental.maintainedTailBatches(spark, s"$tmp/index")} batches")
    val batch = docs.filter(col("doc_id") < 100)
      .withColumn("doc_id", col("doc_id") + lit(90000000L))
    def time3(what: String)(body: => Long): Double = {
      val ts = (1 to 3).map { _ =>
        val s0 = System.nanoTime()
        val n = body
        val dt = (System.nanoTime() - s0) / 1e9
        require(n >= 0)
        dt
      }
      val best = ts.min
      println(f"""[cprobe] {"probe":"$what","min_sec":$best%.2f,"samples":[${ts.map(t => f"$t%.2f").mkString(",")}]}""")
      best
    }
    def serve(): Long = graft.ops.MinHashIndex.query(
      graft.streaming.Incremental.readMinHashMaintained(spark, s"$tmp/index"),
      batch, "doc_id", "text", threshold = 0.8).count()
    def eraseProbe(): Long = {
      // absent victim: the single-pass probe runs, nothing rewrites
      import spark.implicits._
      graft.streaming.Incremental.eraseMinHashMaintained(
        spark, s"$tmp/index", Seq(-1L).toDF("doc_id")).count()
    }
    val serveBefore = time3(s"serve_${nBatches}_legs")(serve())
    val probeBefore = time3(s"erase_probe_${nBatches}_legs")(eraseProbe())
    val g0 = System.nanoTime()
    val gen = graft.streaming.Incremental.compactMinHashMaintained(spark, s"$tmp/index")
    println(f"[cprobe] compaction to generation $gen: ${(System.nanoTime() - g0) / 1e9}%.1f s")
    val serveAfter = time3("serve_compacted")(serve())
    val probeAfter = time3("erase_probe_compacted")(eraseProbe())
    println(f"""[cprobe-summary] {"n_batches":$nBatches,"serve_before":$serveBefore%.2f,"serve_after":$serveAfter%.2f,"probe_before":$probeBefore%.2f,"probe_after":$probeAfter%.2f}""")
    val p = new org.apache.hadoop.fs.Path(tmp)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    spark.stop()
  }
}
