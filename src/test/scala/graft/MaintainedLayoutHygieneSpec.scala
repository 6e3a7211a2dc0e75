package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan gate beside [[ParquetReadHygieneSpec]]: the layout of a
  * stream-maintained index root — the `_committed_<id>` and
  * `_compacted_<gen>` markers and the `batch_` / `compact_` /
  * `lists_batch_` / `lists_compact_` dir names — is spelled only in
  * `graft/streaming/MaintainedRoot.scala`. Everything else builds those
  * paths through `MaintainedRoot` (its `MemberLayout`s and predicates), so
  * a new hand-written copy of a root-layout name fails here. BM25's
  * `*_snap_*` snapshot names belong to the BM25 codec and are not scanned.
  */
class MaintainedLayoutHygieneSpec extends AnyFunSuite {
  private val Root = Paths.get("src/main/scala")
  private val Owner = "graft/streaming/MaintainedRoot.scala"
  // a marker literal, or a dir-name builder: the prefix closing a string
  // literal or followed by an interpolated id
  private val LayoutLiteral = "\"_committed_|\"_compacted_|(?:batch|compact)_(?:\\$|\")".r

  test("no program source spells a maintained-root layout name outside MaintainedRoot") {
    val files = Files.walk(Root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned only ${files.size} sources under $Root")
    val owner = Root.resolve(Owner)
    assert(LayoutLiteral.findFirstIn(
      new String(Files.readAllBytes(owner), "UTF-8")).nonEmpty,
      s"$Owner no longer spells the layout; update this scan")
    val offenders = files.flatMap { p =>
      val rel = Root.relativize(p).toString.replace('\\', '/')
      if (rel == Owner) Nil
      else {
        val src = new String(Files.readAllBytes(p), "UTF-8")
        LayoutLiteral.findAllMatchIn(src).map { m =>
          s"$rel:${src.substring(0, m.start).count(_ == '\n') + 1}"
        }.toSeq
      }
    }
    assert(offenders.isEmpty,
      s"build root-layout paths through MaintainedRoot instead:\n${offenders.mkString("\n")}")
  }
}
