package graft.streaming

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** The analytics streams keep their result sink, but leave no streaming
  * checkpoint or sentinel scratch directory behind in `java.io.tmpdir`.
  */
class TempDirHygieneSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def scratchDirs(): Set[String] =
    new File(System.getProperty("java.io.tmpdir")).list().toSet
      .filter(n => n.startsWith("graft_sentinel") || (n.startsWith("graft_") && n.contains("ckpt")))

  test("windowedCountsAppend leaves no checkpoint or sentinel dir in java.io.tmpdir") {
    // a source path of its own, so the staged stream (memoized per source)
    // is built, sentinels included, by this call
    val src = Files.createTempDirectory("graft_tmp_hygiene").resolve("lineitem.parquet")
    Files.copy(new File(s"${GraftSpark.Sf0001}/lineitem.parquet").toPath, src)
    val before = scratchDirs()
    val out = Incremental.windowedCountsAppend(spark, src.toString,
      "l_shipdate", "l_returnflag", "l_quantity", 30L * 86400, watermarkSec = 30L * 86400)
    assert(out.count() > 0)
    val left = scratchDirs() -- before
    assert(left.isEmpty, s"left behind: ${left.mkString(", ")}")
  }
}
