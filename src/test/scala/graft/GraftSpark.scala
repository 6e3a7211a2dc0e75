package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (same forked test JVM). */
object GraftSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the suite plans hundreds of distinct queries in this one JVM, and
      // Spark's codegen cache (100 classes by default) keys each class by
      // the compiling thread's class loader, so every whole-stage stage
      // takes two entries (driver and task thread in local mode): at the
      // default, every query recompiles every class
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // fresh temp warehouse per JVM: saveAsTable locations from previous
      // runs would otherwise collide with the new in-memory catalog
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"
}
