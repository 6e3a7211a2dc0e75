package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate beside [[PlanHygieneSpec]]: a program read of its own
  * parquet goes through `graft.sources.Parquet.read`, which takes the
  * schema from one footer without a Spark job. A bare
  * `spark.read.parquet(path)` runs a Spark job only to infer the schema,
  * so a new one fails here. `graft/Bench.scala` is the timing contract and
  * keeps its read.
  */
class ParquetReadHygieneSpec extends AnyFunSuite {
  private val BareRead = """read\.parquet\(|\.read[ \t]*\r?\n\s*\.parquet\(""".r

  test("no program source reads parquet without a schema outside the helper") {
    val offenders = ParquetReadHygieneSpec.offenders(Seq(Paths.get("src/main/scala")),
      Set("graft/sources/Parquet.scala", "graft/Bench.scala"), BareRead)
    assert(offenders.isEmpty,
      s"read through graft.sources.Parquet.read instead:\n${offenders.mkString("\n")}")
  }
}

object ParquetReadHygieneSpec {
  import org.scalatest.Assertions._

  /** `file:line` of every match of `pattern` in the Scala sources under
    * `roots`, outside the `allowed` paths (relative to their root).
    */
  def offenders(roots: Seq[Path], allowed: Set[String], pattern: Regex): Seq[String] =
    roots.flatMap { root =>
      val files = Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".scala")).toSeq
      assert(files.size > 50, s"scanned only ${files.size} sources under $root")
      files.flatMap { p =>
        val rel = root.relativize(p).toString.replace('\\', '/')
        if (allowed(rel)) Nil
        else {
          val src = new String(Files.readAllBytes(p), "UTF-8")
          pattern.findAllMatchIn(src).map { m =>
            s"$root/$rel:${src.substring(0, m.start).count(_ == '\n') + 1}"
          }.toSeq
        }
      }
    }
}
