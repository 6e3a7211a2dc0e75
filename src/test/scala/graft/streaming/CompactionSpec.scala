package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.etl.Tables

/** Maintained-root COMPACTION (r16): merging committed batch dirs into
  * one generation must be invisible to the serve (byte-identical results,
  * shared oracles), survive stale-checkpoint replays across the
  * compaction boundary, bound the serve-plan legs, and compose with
  * maintenance and erasure. Plus the r16 erase closures: the single-pass
  * victim probe, and subject erasure on the maintained BM25 / IVF-PQ
  * roots (completing the 4×2 maintain×erase matrix).
  */
class CompactionSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def stage(src: String,
      df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val scratch = Files.createTempDirectory("graft_carrive").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$scratch/$name")
    val part = new java.io.File(s"$scratch/$name").listFiles
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$src/$name.parquet"))
  }

  private def copyDir(from: java.io.File, to: java.io.File): Unit = {
    to.mkdirs()
    from.listFiles.foreach { f =>
      val t = new java.io.File(to, f.getName)
      if (f.isDirectory) copyDir(f, t)
      else java.nio.file.Files.copy(f.toPath, t.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def rootCause(t: Throwable): Throwable =
    if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)

  test("root lease: every mutator fails loudly while another holds the " +
      "lease, the root stays untouched, and breakRootLease unblocks") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_lease").toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"
    new java.io.File(src).mkdirs()
    stage(src, docs.filter(col("doc_id") % 3 === 0), "p1")
    stage(src, docs.filter(col("doc_id") % 3 === 1), "p2")
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, maxFilesPerTrigger = 1)
    val batch = docs.filter(col("doc_id") < 30)
      .withColumn("doc_id", col("doc_id") + lit(7000000L))
    def pairsOf() = graft.ops.MinHashIndex.query(
        Incremental.readMinHashMaintained(spark, idx),
        batch, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val served = pairsOf()
    def lsRoot() = new java.io.File(idx).listFiles.map(_.getName).sorted.toSeq
    // a successful mutator RELEASES the lease
    assert(!lsRoot().contains("_graft_lease"))
    // simulate a live concurrent mutator: its lease is on the root
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx/_graft_lease"), "holder=other-process")
    val layoutBefore = lsRoot()
    // the compactor LOSES loudly...
    val e1 = intercept[IllegalStateException](
      Incremental.compactMinHashMaintained(spark, idx))
    assert(e1.getMessage.contains("LEASED"), e1.getMessage)
    // ...so does a maintainer run...
    stage(src, docs.filter(col("doc_id") % 3 === 2), "p3")
    val e2 = intercept[Exception](
      Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
        shingleK = 3, bands = 8, rowsPerBand = 2, maxFilesPerTrigger = 1))
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).take(5).toSeq
    assert(chain(e2).exists(_.contains("LEASED")), chain(e2).mkString(" | "))
    // ...and an eraser — and the root is byte-layout untouched throughout
    import spark.implicits._
    val e3 = intercept[IllegalStateException](
      Incremental.eraseMinHashMaintained(spark, idx, Seq(3L).toDF("doc_id")))
    assert(e3.getMessage.contains("LEASED"), e3.getMessage)
    assert(lsRoot() == layoutBefore, "losers must not touch the root")
    assert(pairsOf() == served)
    // break-glass: operator clears a crashed holder's lease, work resumes
    assert(Incremental.breakRootLease(spark, idx))
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, maxFilesPerTrigger = 1)
    Incremental.compactMinHashMaintained(spark, idx)
    assert(!lsRoot().contains("_graft_lease"))
    assert(!Incremental.breakRootLease(spark, idx)) // nothing left to break
  }

  test("compactMinHashMaintained: serve identical before/after; legs shrink " +
      "to one generation; maintenance and erasure continue on top") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_cmh").toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"; val ckpt = s"$tmp/ckpt"
    new java.io.File(src).mkdirs()
    val batch = docs.filter(col("doc_id") < 30)
      .withColumn("doc_id", col("doc_id") + lit(7000000L))
    def pairsVs(corpus: org.apache.spark.sql.DataFrame) =
      graft.ops.MinHashIndex.query(
          graft.ops.MinHashIndex.build(corpus, "doc_id", "text", 3, 8, 2),
          batch, "doc_id", "text", threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def pairsOf() = graft.ops.MinHashIndex.query(
        Incremental.readMinHashMaintained(spark, idx),
        batch, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // three arrivals → three committed batch dirs
    stage(src, docs.filter(col("doc_id") % 3 === 0), "p1")
    stage(src, docs.filter(col("doc_id") % 3 === 1), "p2")
    stage(src, docs.filter(col("doc_id") % 3 === 2), "p3")
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = ckpt,
      maxFilesPerTrigger = 1)
    val before = pairsOf()
    val gen = Incremental.compactMinHashMaintained(spark, idx)
    assert(gen == 2L, s"generation must be the highest batch id, got $gen")
    assert(pairsOf() == before, "compaction changed the served pair set")
    // the post-compaction serve reads ONE generation dir per member —
    // no batch_* legs left (the plan-width claim, asserted on inputFiles)
    val mh = Incremental.readMinHashMaintained(spark, idx)
    val legFiles = mh.buckets.inputFiles ++ mh.sets.inputFiles
    assert(legFiles.nonEmpty && legFiles.forall(_.contains("/compact_2/")),
      s"post-compaction serve must read only compact_2: ${legFiles.take(3).toSeq}")
    assert(!new java.io.File(s"$idx/sets/batch_0").exists,
      "superseded batch dirs must be swept")
    // idempotent: nothing new to compact
    assert(Incremental.compactMinHashMaintained(spark, idx) == 2L)
    // maintenance continues on the same checkpoint: new batch id > gen
    stage(src, batch, "p4")
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = ckpt,
      maxFilesPerTrigger = 1)
    val full = pairsVs(docs.unionByName(batch))
    assert(pairsOf() == full,
      "post-compaction maintenance must serve like a full rebuild")
    val tail = Incremental.readMinHashMaintained(spark, idx).sets.inputFiles
    assert(tail.exists(_.contains("/compact_2/")) &&
      tail.exists(_.contains("/batch_3/")) &&
      !tail.exists(f => f.contains("/batch_0/") || f.contains("/batch_1/")),
      "serve legs must be the generation + the new tail batch only")
    // a SECOND compaction folds the tail in
    assert(Incremental.compactMinHashMaintained(spark, idx) == 3L)
    assert(pairsOf() == full)
    // erasure on the COMPACTED root: the generation dir rewrites
    val victims = docs.filter(col("doc_id") % 10 === 3).select("doc_id")
    val ledger = Incremental.eraseMinHashMaintained(spark, idx, victims)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(ledger.map(_._1).toSeq == Seq(3L),
      s"compacted root must report the generation leg, got ${ledger.toSeq}")
    assert(ledger.map(_._3).sum == victims.count())
    assert(pairsOf() ==
      pairsVs(docs.filter(col("doc_id") % 10 =!= 3).unionByName(batch)),
      "erased compacted root must query like a rebuild on the retained corpus")
  }

  test("stale-checkpoint replay across the compaction boundary is a no-op; " +
      "a replayed batch id over a LARGER file set fails loudly") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_cstale").toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"; val ckpt = s"$tmp/ckpt"
    new java.io.File(src).mkdirs()
    def serve() = graft.ops.MinHashIndex.query(
        Incremental.readMinHashMaintained(spark, idx),
        docs.filter(col("doc_id") < 30)
          .withColumn("doc_id", col("doc_id") + lit(7000000L)),
        "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    stage(src, docs.filter(col("doc_id") % 2 === 0), "p1")
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = ckpt)
    // checkpoint copy BEFORE arrival 2 — the at-least-once crash window
    val stale = Files.createTempDirectory("graft_cstale_ck").toString
    copyDir(new java.io.File(ckpt), new java.io.File(stale))
    stage(src, docs.filter(col("doc_id") % 2 =!= 0), "p2")
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = ckpt)
    val full = serve()
    // two independent copies of the PRE-arrival-2 checkpoint: one for the
    // benign same-file-set replay, one (still pristine) for the
    // larger-file-set replay below — replaying mutates the copy it uses
    val staleA = Files.createTempDirectory("graft_cstale_ckA").toString
    copyDir(new java.io.File(stale), new java.io.File(staleA))
    // COMPACT, then replay batch 1 from the stale checkpoint: the
    // _committed_ marker survives compaction, the file set matches its
    // recorded signature → skip; serve unchanged
    Incremental.compactMinHashMaintained(spark, idx)
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = staleA)
    assert(serve() == full,
      "stale-checkpoint replay across compaction must not re-ingest")
    // now a THIRD file arrives and the PRISTINE stale checkpoint replays:
    // batch id 1 re-plans over {p2, p3} but its marker recorded {p2} —
    // skipping would silently drop p3, so the run must fail loudly
    stage(src, docs.filter(col("doc_id") < 0), "p3") // empty but a new file
    val e = intercept[Throwable] {
      Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
        shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = stale)
    }
    assert(rootCause(e).getMessage.contains("DIFFERENT source-file set"),
      s"expected the replay file-set guard, got: ${rootCause(e).getMessage}")
    assert(serve() == full, "the guard must not touch the index")
  }

  test("a TORN marker signature degrades to unverifiable (legacy skip), " +
      "never a false mismatch that wedges the stream") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_ctorn").toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"; val ckpt = s"$tmp/ckpt"
    new java.io.File(src).mkdirs()
    stage(src, docs.filter(col("doc_id") % 2 === 0), "p1")
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = ckpt)
    val stale = Files.createTempDirectory("graft_ctorn_ck").toString
    copyDir(new java.io.File(ckpt), new java.io.File(stale))
    stage(src, docs.filter(col("doc_id") % 2 =!= 0), "p2")
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = ckpt)
    val n0 = Incremental.readMinHashMaintained(spark, idx).sets.count()
    // truncate the committed marker's content mid-signature (the torn
    // flush a crash can leave) — the replay must SKIP like a contentless
    // legacy marker, not fail the stream forever on a false mismatch
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$idx/_committed_1"), "files=1 sha256=ab")
    // drop the stale Hadoop LocalFS checksum sidecar the raw write bypassed
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$idx/._committed_1.crc"))
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = stale)
    assert(Incremental.readMinHashMaintained(spark, idx).sets.count() == n0,
      "torn-marker replay must skip, not re-ingest or wedge")
  }

  test("rollup replay of a batch whose snapshot was RETIRED fails loudly " +
      "instead of merging into the wrong base") {
    val li = Tables.lineitem(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_crret").toString
    val src = s"$tmp/src"; val rollup = s"$tmp/agg"; val ckpt = s"$tmp/ckpt"
    new java.io.File(src).mkdirs()
    def run(ck: String) = Incremental.streamRollupMaintain(
      spark, src, rollup, Seq("l_returnflag"), Seq("l_quantity"), "n", ck)
    stage(src, li.filter(col("l_orderkey") % 4 === 0), "p1")
    run(ckpt)
    // checkpoint copy at batch 0 — restoring it AFTER two more batches
    // have retired snap_0 replays batch 1 with no base to skip against
    val stale = Files.createTempDirectory("graft_crret_ck").toString
    copyDir(new java.io.File(ckpt), new java.io.File(stale))
    stage(src, li.filter(col("l_orderkey") % 4 === 1), "p2")
    run(ckpt)
    stage(src, li.filter(col("l_orderkey") % 4 === 2), "p3")
    run(ckpt)
    stage(src, li.filter(col("l_orderkey") % 4 === 3), "p4")
    run(ckpt) // snaps 2,3 retained; snap_0/snap_1 retired (keep-2)
    val want = run(ckpt).orderBy("l_returnflag").collect().toSeq
    val e = intercept[Throwable](run(stale))
    assert(rootCause(e).getMessage.contains("retention horizon"),
      s"expected the retired-snapshot guard, got: ${rootCause(e).getMessage}")
    assert(run(ckpt).orderBy("l_returnflag").collect().toSeq == want,
      "the guard must not corrupt the rollup")
  }

  test("erase finishes a crashed compaction's sweep: superseded dirs' " +
      "victim bytes are removed before the erasure is attested") {
    import spark.implicits._
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_csweep").toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"
    new java.io.File(src).mkdirs()
    stage(src, docs.filter(col("doc_id") % 2 === 0), "p1")
    stage(src, docs.filter(col("doc_id") % 2 =!= 0), "p2")
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = s"$tmp/ckpt",
      maxFilesPerTrigger = 1)
    Incremental.compactMinHashMaintained(spark, idx)
    // fabricate the post-marker pre-sweep crash: superseded batch dirs
    // reappear holding victim rows (readers ignore them, bytes persist)
    Seq((3L, Seq(1L, 2L))).toDF("id", "shingle_set")
      .write.parquet(s"$idx/sets/batch_0")
    Seq((3L, 0, 42L)).toDF("id", "band", "bucket")
      .write.parquet(s"$idx/buckets/batch_0")
    Incremental.eraseMinHashMaintained(spark, idx,
      docs.filter(col("doc_id") === 3).select("doc_id"))
    assert(!new java.io.File(s"$idx/sets/batch_0").exists &&
      !new java.io.File(s"$idx/buckets/batch_0").exists,
      "attested erasure left victim bytes in superseded dirs")
  }

  test("compactBm25Maintained and compactSimJoinMaintained: generation " +
      "serve stays identical; snapshots and frozen freq untouched") {
    import spark.implicits._
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    // BM25
    val t1 = Files.createTempDirectory("graft_cbm").toString
    val src1 = s"$t1/src"
    new java.io.File(src1).mkdirs()
    stage(src1, docs.filter(col("doc_id") % 3 === 0), "p1")
    stage(src1, docs.filter(col("doc_id") % 3 === 1), "p2")
    stage(src1, docs.filter(col("doc_id") % 3 === 2), "p3")
    Incremental.streamBm25Maintain(spark, src1, s"$t1/index", "doc_id", "text",
      checkpointPath = s"$t1/ckpt", maxFilesPerTrigger = 1)
    val qs = Seq((1L, "hash"), (1L, "join"), (2L, "window"), (2L, "sort"))
      .toDF("q_id", "term")
    def bm25Serve() = graft.ops.Bm25Index.topK(
        Incremental.readBm25Maintained(spark, s"$t1/index"),
        qs, "q_id", "term", k = 10)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    val before = bm25Serve()
    assert(Incremental.compactBm25Maintained(spark, s"$t1/index") == 2L)
    assert(bm25Serve() == before, "BM25 compaction changed the serve")
    val postFiles = Incremental.readBm25Maintained(spark, s"$t1/index")
      .postings.inputFiles
    assert(postFiles.nonEmpty && postFiles.forall(_.contains("/compact_2/")))
    assert(postFiles.length <= 8,
      "compaction must merge tiny per-batch files into the numFiles layout")
    // the term pushdown must survive the compacted layout — the whole
    // point of re-range-partitioning the merged postings by term is that
    // footer-stat pruning now spans the compacted corpus's files
    val plan = graft.ops.Bm25Index.topK(
        Incremental.readBm25Maintained(spark, s"$t1/index"),
        qs, "q_id", "term", k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"expected a pushed In(term, …) filter on the compacted postings scan:\n$plan")
    // SimJoin
    val t2 = Files.createTempDirectory("graft_csj").toString
    val src2 = s"$t2/src"
    new java.io.File(src2).mkdirs()
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val probe = docs.filter(col("doc_id") % 5 === 0)
    stage(src2, corpus.filter(col("doc_id") % 2 === 0), "p1")
    stage(src2, corpus.filter(col("doc_id") % 2 =!= 0), "p2")
    Incremental.streamSimJoinMaintain(spark, src2, s"$t2/index",
      "doc_id", "text", shingleK = 3, threshold = 0.5,
      checkpointPath = s"$t2/ckpt", maxFilesPerTrigger = 1)
    def sjServe() = graft.ops.SimJoinIndex.pairs(
        Incremental.readSimJoinMaintained(spark, s"$t2/index"),
        probe, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sjBefore = sjServe()
    assert(Incremental.compactSimJoinMaintained(spark, s"$t2/index") == 1L)
    assert(sjServe() == sjBefore, "SimJoin compaction changed the pair set")
    val sjFiles = Incremental.readSimJoinMaintained(spark, s"$t2/index")
      .prefixes.inputFiles
    assert(sjFiles.nonEmpty && sjFiles.forall(_.contains("/compact_1/")))
  }

  test("a compaction crash BEFORE the marker leaves half-written compact " +
      "dirs no reader resolves; the re-run overwrites and commits them") {
    import spark.implicits._
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_cpremk").toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"
    new java.io.File(src).mkdirs()
    stage(src, docs.filter(col("doc_id") % 2 === 0), "p1")
    stage(src, docs.filter(col("doc_id") % 2 =!= 0), "p2")
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = s"$tmp/ckpt",
      maxFilesPerTrigger = 1)
    def serve() = graft.ops.MinHashIndex.query(
        Incremental.readMinHashMaintained(spark, idx),
        docs.filter(col("doc_id") < 30)
          .withColumn("doc_id", col("doc_id") + lit(7000000L)),
        "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = serve()
    // fabricate the pre-marker crash: ONE member's compact dir written
    // (with wrong content, as a torn merge could leave), the other and
    // the _compacted_ marker missing
    Seq((99999999L, Seq(1L, 2L))).toDF("id", "shingle_set")
      .write.parquet(s"$idx/sets/compact_1")
    assert(serve() == want,
      "an uncommitted compact dir must be invisible to the reader")
    // the re-run overwrites the torn dir and commits the generation
    assert(Incremental.compactMinHashMaintained(spark, idx) == 1L)
    assert(serve() == want, "recompaction must heal the torn generation")
    assert(Incremental.readMinHashMaintained(spark, idx).sets
      .filter(col("id") === 99999999L).isEmpty,
      "torn content must not survive the overwrite")
  }

  test("compactIfStale: compacts only past the tail budget") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_cstale2").toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"
    new java.io.File(src).mkdirs()
    (0 until 3).foreach(i =>
      stage(src, docs.filter(col("doc_id") % 3 === i), s"p$i"))
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = s"$tmp/ckpt",
      maxFilesPerTrigger = 1)
    assert(Incremental.maintainedTailBatches(spark, idx) == 3)
    // within budget: no compaction, batch legs untouched
    assert(Incremental.compactIfStale(spark, idx, maxTailBatches = 3)(
      Incremental.compactMinHashMaintained(spark, idx)).isEmpty)
    assert(new java.io.File(s"$idx/sets/batch_0").exists)
    // past budget: compacts and the tail drops to zero
    assert(Incremental.compactIfStale(spark, idx, maxTailBatches = 2)(
      Incremental.compactMinHashMaintained(spark, idx)).contains(2L))
    assert(Incremental.maintainedTailBatches(spark, idx) == 0)
    intercept[IllegalArgumentException](
      Incremental.compactIfStale(spark, idx, 0)(0L))
  }

  test("eraseBm25Maintained: rewrites only victim-bearing legs, rolls the " +
      "df/stats snapshot back once, and finishes a crashed erase") {
    import spark.implicits._
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_ebm").toString
    val src = s"$tmp/src"; val idx = s"$tmp/index"
    new java.io.File(src).mkdirs()
    stage(src, docs.filter(col("doc_id") % 3 === 0), "p1")
    stage(src, docs.filter(col("doc_id") % 3 === 1), "p2")
    stage(src, docs.filter(col("doc_id") % 3 === 2), "p3")
    Incremental.streamBm25Maintain(spark, src, idx, "doc_id", "text",
      checkpointPath = s"$tmp/ckpt", maxFilesPerTrigger = 1)
    val qs = Seq((1L, "hash"), (1L, "join"), (1L, "dup"),
      (2L, "window"), (2L, "sort"), (2L, "merge")).toDF("q_id", "term")
    def serve(ix: graft.ops.Bm25Index) =
      graft.ops.Bm25Index.topK(ix, qs, "q_id", "term", k = 10)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    def maintained() = Incremental.readBm25Maintained(spark, idx)
    val victims = docs.filter(col("doc_id") % 10 === 3).select("doc_id")
    val ledger = Incremental.eraseBm25Maintained(spark, idx, victims)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ledger.nonEmpty && ledger.forall(l => l._2 - l._3 == l._4))
    assert(ledger.map(_._4).sum == victims.count(),
      "ledger must account every victim doc exactly once")
    val retained = docs.filter(col("doc_id") % 10 =!= 3)
    assert(serve(maintained()) ==
      serve(graft.ops.Bm25Index.build(retained, "doc_id", "text")),
      "erased maintained BM25 must serve exactly like a rebuild on the " +
        "retained corpus (df/stats roll-back included)")
    // n/avgdl rolled back exactly (not just rank-invariant)
    val st = maintained().stats.head()
    val want = graft.ops.Bm25Index.build(retained, "doc_id", "text").stats.head()
    assert(st.getDouble(0) == want.getDouble(0), "n must roll back exactly")
    assert(math.abs(st.getDouble(1) - want.getDouble(1)) < 1e-9, "avgdl drifted")
    // idempotent: nothing left to erase, stats unchanged
    assert(Incremental.eraseBm25Maintained(spark, idx, victims).isEmpty)
    assert(maintained().stats.head().getDouble(0) == want.getDouble(0),
      "re-erase must not double-subtract")
    // CRASH RECOVERY — "journal committed, nothing else done": fabricate
    // the exact state a crash right after the journal write leaves, for a
    // fresh victim set, then let the next erase finish it
    val victims2 = docs.filter(col("doc_id") % 10 === 7).select("doc_id")
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val legs = new java.io.File(s"$idx/postings").listFiles
      .filter(_.isDirectory).map(_.toString).toSeq
    val gen = 2 // latest committed is _e1 after the erase above
    spark.read.parquet(legs: _*)
      .join(victims2.withColumnRenamed("doc_id", "id"), Seq("id"), "left_semi")
      .select(lit(gen).as("gen"), col("id"), col("term"), col("dl"))
      .write.mode("overwrite").parquet(s"$idx/_erase_pending")
    // pending journal: serving, maintaining and compacting all refuse
    val eR = intercept[IllegalArgumentException](maintained())
    assert(eR.getMessage.contains("interrupted subject erasure"), eR.getMessage)
    val eC = intercept[IllegalArgumentException](
      Incremental.compactBm25Maintained(spark, idx))
    assert(eC.getMessage.contains("interrupted subject erasure"), eC.getMessage)
    // the next erase call FINISHES the journal before its own (empty) ids
    val none = docs.filter(col("doc_id") < 0).select("doc_id")
    assert(Incremental.eraseBm25Maintained(spark, idx, none).isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_erase_pending")),
      "finishing must consume the journal")
    val retained2 = retained.filter(col("doc_id") % 10 =!= 7)
    assert(serve(maintained()) ==
      serve(graft.ops.Bm25Index.build(retained2, "doc_id", "text")),
      "a finished crashed erase must equal the clean erase")
    // "everything done but the journal delete": re-plant victims2's
    // journal pointing at the NOW-COMMITTED generation (_e2) — finishing
    // must see the generation committed and only delete the journal,
    // never subtract the same victims twice
    val preStats = maintained().stats.head()
    victims2.withColumnRenamed("doc_id", "id")
      .select(lit(2).as("gen"), col("id"),
        lit("xyz").as("term"), lit(1.0).as("dl"))
      .write.mode("overwrite").parquet(s"$idx/_erase_pending")
    assert(Incremental.eraseBm25Maintained(spark, idx, none).isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_erase_pending")))
    assert(maintained().stats.head().getDouble(0) == preStats.getDouble(0),
      "an already-applied journal must not subtract again")
  }

  test("eraseIvfPqMaintained + compactIvfPqMaintained: victims vanish from " +
      "base and batch lists alike; compaction keeps the serve identical") {
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_eivf").toString
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    graft.ops.IvfPqIndex.write(
      graft.ops.IvfPqIndex.build(base, "vec_id", "embedding",
        nlist = 16, numSubspaces = 8, numCodes = 16), s"$tmp/index")
    delta.repartition(2, col("vec_id")).write.parquet(s"$tmp/src")
    Incremental.streamIvfPqMaintain(spark, s"$tmp/src", s"$tmp/index",
      "vec_id", "embedding", maxFilesPerTrigger = 1)
    def listRows() = Incremental.readIvfPqMaintained(spark, s"$tmp/index")
      .lists.select("cluster", "n_id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    val allRows = listRows()
    // COMPACT first: lists identical, batch legs merged into one dir
    assert(Incremental.compactIvfPqMaintained(spark, s"$tmp/index") == 1L)
    assert(listRows() == allRows, "IVF-PQ compaction changed the lists")
    val files = Incremental.readIvfPqMaintained(spark, s"$tmp/index")
      .lists.inputFiles
    assert(files.exists(_.contains("/lists_compact_1/")) &&
      !files.exists(_.contains("/lists_batch_")),
      "post-compaction serve must read base + one compacted leg")
    // ERASE victims that live in the BASE (v%6==0, v%10!=0: e.g. 6, 12)
    // AND in the streamed/compacted leg (e.g. 30, 60)
    val victims = emb.filter(col("vec_id") % 6 === 0).select("vec_id")
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    assert(victimIds.exists(_ % 10 == 0) && victimIds.exists(_ % 10 != 0),
      "fixture must place victims on both sides")
    val ledger = Incremental.eraseIvfPqMaintained(spark, s"$tmp/index", victims)
      .collect().map(r => (r.getString(0), r.getLong(3)))
    assert(ledger.map(_._1).toSet == Set("lists", "lists_compact_1"),
      s"both the base and the compacted leg must rewrite, got ${ledger.toSeq}")
    assert(ledger.map(_._2).sum == victimIds.size)
    assert(listRows() == allRows.filterNot(r => victimIds.contains(r._2)),
      "erased lists must equal the functional erase row set")
    // idempotent; serve still healthy through the partitioned layout
    assert(Incremental.eraseIvfPqMaintained(spark, s"$tmp/index", victims).isEmpty)
    val served = graft.ops.IvfPqIndex.topK(
        Incremental.readIvfPqMaintained(spark, s"$tmp/index"),
        emb.filter(col("vec_id") < 20), emb.filter(col("vec_id") % 6 =!= 0),
        "vec_id", "embedding", k = 3, nprobe = 8)
      .collect()
    assert(served.nonEmpty &&
      !served.exists(r => victimIds.contains(r.getAs[Long]("n_id"))),
      "erased vectors must never resurface in the serve")
  }

  test("eraseIvfPqMaintained: a streamed leg that loses every row rewrites to " +
      "a plain empty leg; the other rows still serve and a repeat erase is a no-op") {
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_eivf_empty").toString
    graft.ops.IvfPqIndex.write(
      graft.ops.IvfPqIndex.build(emb.filter(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
        nlist = 4, numSubspaces = 8, numCodes = 16), s"$tmp/index")
    new java.io.File(s"$tmp/src").mkdirs()
    val delta = emb.filter(col("vec_id") % 10 === 0)
    // one source file per maintain: batch 0 holds exactly the victims
    Seq(col("vec_id") % 20 === 0, col("vec_id") % 20 =!= 0).zipWithIndex.foreach { case (c, i) =>
      stage(s"$tmp/src", delta.filter(c), s"p$i")
      Incremental.streamIvfPqMaintain(spark, s"$tmp/src", s"$tmp/index", "vec_id", "embedding",
        checkpointPath = s"$tmp/ckpt", maxFilesPerTrigger = 1)
    }
    def listIds() = Incremental.readIvfPqMaintained(spark, s"$tmp/index")
      .lists.select("n_id").collect().map(_.getLong(0)).toSet
    val before = listIds()
    val victims = delta.filter(col("vec_id") % 20 === 0).select("vec_id")
    val n = victims.count()
    assert(n > 0)
    val ledger = Incremental.eraseIvfPqMaintained(spark, s"$tmp/index", victims).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(ledger == Seq(("lists_batch_0", n, 0L, n)),
      s"only the all-victim leg rewrites, to n_after = 0: $ledger")
    val victimIds = victims.collect().map(_.getLong(0)).toSet
    assert(listIds() == before -- victimIds && listIds().size == before.size - n,
      "the emptied leg must read as empty and every other row still serve")
    assert(Incremental.eraseIvfPqMaintained(spark, s"$tmp/index", victims).isEmpty)
  }

  test("single-pass victim probe: erase job count does not grow with the " +
      "number of committed batch dirs") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    def buildRoot(nBatches: Int): String = {
      val tmp = Files.createTempDirectory(s"graft_probe$nBatches").toString
      val src = s"$tmp/src"
      new java.io.File(src).mkdirs()
      (0 until nBatches).foreach(i =>
        stage(src, docs.filter(col("doc_id") % nBatches === i), s"p$i"))
      Incremental.streamMinHashMaintain(spark, src, s"$tmp/index",
        "doc_id", "text", shingleK = 3, bands = 8, rowsPerBand = 2,
        checkpointPath = s"$tmp/ckpt", maxFilesPerTrigger = 1)
      s"$tmp/index"
    }
    val small = buildRoot(2)
    val large = buildRoot(6)
    val absent = docs.filter(col("doc_id") < 0).select("doc_id")
    // count ONLY this test's jobs: tag each measured body with its own
    // job group — on the shared test session, untagged counting would
    // attribute other suites' stragglers (broadcast cleanup, lazy
    // fixture work) to whichever body is being measured
    val counter = new java.util.concurrent.atomic.AtomicInteger
    @volatile var group: String = ""
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          counter.incrementAndGet()
    }
    def jobsOf(tag: String)(body: => Unit): Int = {
      counter.set(0)
      group = tag
      spark.sparkContext.setJobGroup(tag, tag)
      try body finally spark.sparkContext.clearJobGroup()
      // the listener bus posts asynchronously — poll until stable
      val deadline = System.nanoTime + 10L * 1000000000L
      var last = -1
      while (System.nanoTime < deadline && counter.get != last) {
        last = counter.get
        Thread.sleep(400)
      }
      counter.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val jSmall = jobsOf("probe-small")(
        assert(Incremental.eraseMinHashMaintained(spark, small, absent).isEmpty))
      val jLarge = jobsOf("probe-large")(
        assert(Incremental.eraseMinHashMaintained(spark, large, absent).isEmpty))
      assert(jSmall > 0 && jLarge > 0)
      assert(jLarge <= jSmall + 1,
        s"victim-probe job count must not grow with batch count " +
          s"(2 batches: $jSmall jobs, 6 batches: $jLarge jobs)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
