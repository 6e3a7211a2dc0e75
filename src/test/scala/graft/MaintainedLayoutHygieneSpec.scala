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
  * The index sources under `graft/ops` build no member dir path by name
  * either (`sub("postings")`, `new Path(path, "lists")`, `s"$path/sets"`):
  * an index's `write` and `read` go through its codec, so a second
  * on-disk layout cannot grow back there.
  *
  * A second scan keeps `Incremental`'s maintained-index entry points
  * delegations: `graft/streaming/Incremental.scala` (comments stripped)
  * names no protocol step and no member layout, so every index's steps
  * run through the generic operations over its codec.
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

  // a member dir built by name: a `sub("postings")`-style helper, a Hadoop
  // `Path(parent, "lists")`, or an interpolated `s"$path/lists"`
  private val MemberDir = ("(?:\\b(?:sub|Path)\\([^)\\n]*\"|\\$\\{?\\w+\\}?/)" +
    "(?:postings|terms|stats|buckets|sets|prefixes|freq|lists)\"").r

  test("no index source under graft/ops builds a member dir path by name") {
    val ops = Root.resolve("graft/ops")
    val files = Files.walk(ops).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("Bm25Index.scala")), s"no index sources under $ops")
    val offenders = files.flatMap { p =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      MemberDir.findAllMatchIn(src).map { m =>
        s"${Root.relativize(p)}:${src.substring(0, m.start).count(_ == '\n') + 1}: ${m.matched}"
      }.toSeq
    }
    assert(offenders.isEmpty,
      s"write and read an index through its codec instead:\n${offenders.mkString("\n")}")
  }

  private val Delegator = "graft/streaming/Incremental.scala"
  // the protocol steps and the member layouts (and their members) that
  // only MaintainedRoot's generic operations and the codecs may call
  private val ProtocolStep = ("\\b(?:runBatchCommitted|batchWrites|erasing|probeMember|" +
    "rewriteLegs|compactCore|victimLegProbe|sweepSuperseded|MemberLayout|Bm25Postings|" +
    "MinHashBuckets|MinHashSets|SimJoinPrefixes|SimJoinSets|IvfLists)\\b|" +
    "\\.(?:members|legs|batchPath|compactPath)\\b").r

  test("Incremental's maintained-index entry points call no protocol step directly") {
    val src = new String(Files.readAllBytes(Root.resolve(Delegator)), "UTF-8")
    assert(src.contains("def streamBm25Maintain(") && src.contains("def withRootLease["),
      s"$Delegator no longer holds the entry points and the lease; update this scan")
    // comments go, their line breaks stay, so line numbers are the file's
    val code = "(?s)/\\*.*?\\*/".r
      .replaceAllIn(src, m => "\n" * m.matched.count(_ == '\n')).replaceAll("//[^\n]*", "")
    val offenders = code.split("\n").zipWithIndex.flatMap { case (line, i) =>
      ProtocolStep.findAllIn(line).map(m => s"$Delegator:${i + 1}: $m")
    }
    assert(offenders.isEmpty,
      s"$Delegator must delegate to MaintainedRoot's generic operations:\n${offenders.mkString("\n")}")
  }
}
