package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.keys.toSeq.filterNot(dumpQuery(spark, sfDir, outDir, _))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED queries: ${failed.mkString(", ")}")
    writeOracles(outDir, SparkEntry.oracleSql.keys)
    spark.stop()
  }

  /** Writes query `name`'s result to `<outDir>/<name>/`; false when it
    * failed. Failures must be LOUD: r8 shipped a 16-query regression
    * invisibly because a thrown query simply had no output dir (no row in
    * CORRECTNESS, vs an `err` row). Now a failed query still gets its
    * directory, holding _ERROR.json with the exception — the driver's
    * parquet read of that dir fails → the query surfaces as `err`.
    */
  private[graft] def dumpQuery(spark: SparkSession, sfDir: String, outDir: String, name: String): Boolean =
    try {
      SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      val d = new java.io.File(s"$outDir/$name")
      d.mkdirs()
      d.listFiles().foreach(f => if (f.isFile) f.delete()) // no stale parquet from a prior run
      val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(2000)}"
      Files.writeString(Paths.get(s"$outDir/$name/_ERROR.json"),
        s"""{"query": "$name", "error": ${jsonQuote(msg)}}""")
      false
    }

  /** `<outDir>/oracle_sql.json`: the oracle SQL of each of `names` that
    * has one.
    */
  private[graft] def writeOracles(outDir: String, names: Iterable[String]): Unit = {
    val json = names.flatMap(k => SparkEntry.oracleSql.get(k).map(v => s"${jsonQuote(k)}: ${jsonQuote(v)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def jsonQuote(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
