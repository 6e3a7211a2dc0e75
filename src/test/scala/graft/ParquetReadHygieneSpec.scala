package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate beside [[PlanHygieneSpec]]: a program read of its own
  * parquet goes through `graft.sources.Parquet.read`, which takes the
  * schema from one footer without a Spark job. A bare
  * `spark.read.parquet(path)` runs a Spark job only to infer the schema,
  * so a new one fails here. `graft/Bench.scala` is the timing contract and
  * keeps its read.
  */
class ParquetReadHygieneSpec extends AnyFunSuite {
  private val Root = Paths.get("src/main/scala")
  private val Allowed = Set("graft/sources/Parquet.scala", "graft/Bench.scala")
  private val BareRead = """read\.parquet\(|\.read[ \t]*\r?\n\s*\.parquet\(""".r

  test("no program source reads parquet without a schema outside the helper") {
    val files = Files.walk(Root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned only ${files.size} sources under $Root")
    val offenders = files.flatMap { p =>
      val rel = Root.relativize(p).toString.replace('\\', '/')
      if (Allowed(rel)) Nil
      else {
        val src = new String(Files.readAllBytes(p), "UTF-8")
        BareRead.findAllMatchIn(src).map { m =>
          s"$rel:${src.substring(0, m.start).count(_ == '\n') + 1}"
        }.toSeq
      }
    }
    assert(offenders.isEmpty,
      s"read through graft.sources.Parquet.read instead:\n${offenders.mkString("\n")}")
  }
}
