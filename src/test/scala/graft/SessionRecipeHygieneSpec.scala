package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate: a `SparkSession` is built only by the driver
  * contract (`Bench`, `Verify`, `Smoke`), the library front door
  * (`Graft`), the shared test session (`GraftSpark`) and the one dev
  * runner (`tools/Run`). Anything else takes one of those sessions, so a
  * new per-file session recipe fails here.
  */
class SessionRecipeHygieneSpec extends AnyFunSuite {
  // a code line, not a Scaladoc or line comment that names the call
  private val Builder = """(?m)^(?![ \t]*(?:\*|//)).*SparkSession\.builder\(""".r

  test("no source builds its own SparkSession outside the six recipe owners") {
    val offenders = ParquetReadHygieneSpec.offenders(
      Seq(Paths.get("src/main/scala"), Paths.get("src/test/scala")),
      Set("graft/Bench.scala", "graft/Verify.scala", "graft/Smoke.scala", "graft/Graft.scala",
        "graft/GraftSpark.scala", "graft/tools/Run.scala"),
      Builder)
    assert(offenders.isEmpty,
      s"take GraftSpark.spark (tests) or graft.tools.Run (dev runs) instead:\n${offenders.mkString("\n")}")
  }
}
