package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Bm25Index, IndexSidecar, IvfPqIndex, MinHashIndex, SimJoinIndex}
import graft.sources.Parquet

import MaintainedRoot._

/** The four maintained index types, one [[MaintainedRoot.IndexCodec]]
  * value each. [[Incremental]]'s entry points and each index's
  * `write`/`read` delegate to the generic operations over these values;
  * what only one index does (BM25's snapshots and erase journal, IVF-PQ's
  * model generation and rebuild) stays here, in that index's codec.
  */
private[graft] object IndexCodecs {

  /** BM25: postings batch dirs (term-range partitioned within, so the
    * serve-time term pushdown skips files by footer stats) plus the
    * vocabulary-sized df dictionary and the 1-row (n, avgdl) stats, which
    * roll forward per batch as batch-stamped snapshots in the exact closed
    * form [[graft.ops.Bm25Index.append]] uses; a written index's are
    * snapshot `-1`, the prior of stream batch 0. The erase rolls the
    * snapshots back once, through a journal (see [[rewrite]]).
    */
  object Bm25 extends IndexCodec[Bm25Index]("bm25 index", Seq(Bm25Postings),
      distinctPerDoc = true) {

    /** The encode: the delta pays one build pass over ITSELF only, and
      * the df/stats snapshots roll forward from the latest committed
      * snapshot BEFORE this batch (a replay must not read its own
      * superseded output), at that snapshot's latest ERASE generation, so
      * maintenance after an erase carries the rolled-back df/stats
      * forward. The snapshots are vocabulary-sized and 1-row: one file
      * each.
      */
    def encoder(r: Root, idCol: String, textCol: String, postingsFilesPerBatch: Int): Encode = {
      require(postingsFilesPerBatch >= 1,
        s"postingsFilesPerBatch must be >= 1: $postingsFilesPerBatch")
      assertNoPendingErase(r)
      (batch, batchId, done) => {
        val d = Bm25Index.build(batch, idCol, textCol)
        val (terms, stats) = done.filter(_ < batchId).lastOption match {
          case Some(p) =>
            val g = latestSnapGen(r, p)
            (Bm25Index.mergeTerms(snap(r, "terms", p, g), d.terms),
              Bm25Index.mergeStats(snap(r, "stats", p, g), d.stats))
          case None => (d.terms, d.stats)
        }
        Encoded(
          Seq(Bm25Postings -> termRanges(d.postings, postingsFilesPerBatch)),
          snapshots(r, batchId, 0, terms, stats))
      }
    }

    def written(r: Root, index: Bm25Index): Encoded =
      Encoded(Seq(Bm25Postings -> index.postings),
        snapshots(r, WrittenBatch, 0, index.terms, index.stats))

    override def sideNames: String = "(?:terms|stats)_snap_.*|_erase_pending"

    /** Postings range-partitioned by term into `numFiles` files, sorted
      * by (term, id) within: each file holds a contiguous term range.
      */
    private def termRanges(postings: DataFrame, numFiles: Int): DataFrame =
      postings.repartitionByRange(numFiles, col("term")).sortWithinPartitions("term", "id")

    /** The writes of one df/stats snapshot pair, one file each: stats
      * first and terms last, so run in order the terms dir's `_SUCCESS`
      * commits the pair ([[applyJournal]]).
      */
    private def snapshots(r: Root, id: Long, gen: Int, terms: DataFrame,
        stats: DataFrame): Seq[() => Unit] =
      Seq("stats" -> stats, "terms" -> terms).map { case (kind, df) => () =>
        df.coalesce(1).write.mode("overwrite").parquet(snapDir(r, kind, id, gen).toString)
      }

    /** Retire superseded snapshots (every erase generation with them);
      * keep two ids so the reader of the previous snapshot (a concurrent
      * replay) is never yanked.
      */
    override def afterCommit(r: Root, committed: Seq[Long]): Unit =
      committed.dropRight(2).foreach { id =>
        val gens = s"(?:terms|stats)_snap_$id(?:_e.*)?".r
        r.fs.listStatus(r.dir).map(_.getPath).filter(p => gens.matches(p.getName))
          .foreach(p => r.fs.delete(p, true))
      }

    /** The compacted generation (if any) + tail batch dirs; the df/stats
      * snapshots resolve to the latest ERASE generation of the newest
      * batch-stamped snapshot.
      */
    def serve(r: Root, done: Seq[Long]): Bm25Index = {
      assertNoPendingErase(r)
      val g = latestSnapGen(r, done.last)
      Bm25Index(live(r, Bm25Postings, done),
        snap(r, "terms", done.last, g).select("term", "df"),
        snap(r, "stats", done.last, g).select("n", "avgdl"))
    }

    /** One term-range-partitioned generation, the layout a written index
      * serves from; the snapshots are untouched.
      */
    override def writeGeneration(m: MemberLayout, df: DataFrame, out: Path, numFiles: Int): Unit =
      termRanges(df, numFiles).write.mode("overwrite").parquet(out.toString)

    override def beforeCompact(r: Root): Unit = assertNoPendingErase(r)

    /** Finish a crashed erase before starting on the new ids. */
    override def beforeErase(r: Root, done: Seq[Long]): Unit = {
      val journal = journalPath(r)
      if (r.fs.exists(new Path(journal, "_SUCCESS"))) {
        // crash recovery cannot trust pre-crash state: every step re-derives
        val j = Parquet.read(r.spark, journal.toString).localCheckpoint()
        if (j.isEmpty) r.fs.delete(journal, true) // zero-delta journal
        else {
          val jk = j.select("id").distinct().localCheckpoint()
          val bearing = victimLegProbe(probeRows(r, done), jk, idCol, distinctPerDoc = false)
          applyJournal(r, done, j, bearing.map(_._1), jk, j.select("gen").head().getInt(0))
        }
      } else if (r.fs.exists(journal))
        r.fs.delete(journal, true) // uncommitted journal: the erase never started
    }

    /** Unlike the stat-free erases, TWO artifact families must stay
      * consistent across crashes: the postings dirs and the snapshot
      * algebra (subtraction is not re-detectable, so the
      * probe-member-last order alone cannot make it idempotent). So the
      * victims' posting rows are JOURNALED first (`_erase_pending`, a
      * committed parquet dir), and the rewrites and the roll-back run off
      * the committed journal — the same path a crash-recovery re-run
      * takes ([[beforeErase]]). This fresh path already holds the
      * victim-bearing legs, the distinct victim keys and the target
      * generation, so it reads the journal directly: an anti-join with
      * the keys removes exactly the rows one with the journal ids removes,
      * since victim ids with no postings match no row.
      */
    override def rewrite(r: Root, done: Seq[Long], affected: Seq[(String, Long, Long)], k: DataFrame): Unit = {
      val targetGen = latestSnapGen(r, done.last) + 1
      live(r, Bm25Postings, done).select("id", "term", "dl")
        .join(k, Seq("id"), "left_semi")
        .select(lit(targetGen).as("gen"), col("id"), col("term"), col("dl"))
        .write.mode("overwrite").parquet(journalPath(r).toString)
      applyJournal(r, done, Parquet.read(r.spark, journalPath(r).toString), affected.map(_._1), k, targetGen)
    }

    /** The journal-driven half of the erase: idempotent postings rewrites
      * of the `bearing` legs, then the exactly-once snapshot roll-back
      * ([[graft.ops.Bm25Index.rollBack]], skipped if the target
      * generation already committed: stats first, terms LAST, so the
      * terms dir's _SUCCESS commits it, and both derive from the journal
      * and the PRIOR generation, which is never overwritten), then the
      * journal delete and the keep-2 retirement of older generations.
      */
    private def applyJournal(
        r: Root,
        done: Seq[Long],
        j: DataFrame,
        bearing: Seq[String],
        keys: DataFrame,
        gen: => Int): Unit = {
      rewriteLegs(r, bearing, keys)(_ => write)
      val lastId = done.last
      val targetGen = gen
      if (!r.fs.exists(new Path(snapDir(r, "terms", lastId, targetGen), "_SUCCESS"))) {
        val (terms, stats) = Bm25Index.rollBack(snap(r, "terms", lastId, targetGen - 1),
          snap(r, "stats", lastId, targetGen - 1), j.select("id", "term", "dl"))
        snapshots(r, lastId, targetGen, terms, stats).foreach(_())
      }
      r.fs.delete(journalPath(r), true)
      for (g <- 0 until targetGen - 1; kind <- Seq("terms", "stats"))
        r.fs.delete(snapDir(r, kind, lastId, g), true)
    }

    /** gen 0 = the `terms_snap_<id>`/`stats_snap_<id>` a batch or a write commits;
      * each erase rolls the pair back into a NEW generation
      * `…_snap_<id>_e<g>`. The latest committed generation is the serving
      * truth for that snapshot id.
      */
    private def snapDir(r: Root, kind: String, id: Long, gen: Int) =
      new Path(r.dir, s"${kind}_snap_$id${if (gen == 0) "" else s"_e$gen"}")

    private def snap(r: Root, kind: String, id: Long, gen: Int) =
      Parquet.read(r.spark, snapDir(r, kind, id, gen).toString)

    private def latestSnapGen(r: Root, id: Long): Int = {
      val Gen = s"terms_snap_$id(?:_e(\\d+))?".r
      r.fs.listStatus(r.dir).toSeq.map(_.getPath.getName)
        .collect { case Gen(g) => Option(g).fold(0)(_.toInt) }
        .filter(g => r.fs.exists(new Path(snapDir(r, "terms", id, g), "_SUCCESS")))
        .sorted.lastOption.getOrElse(0)
    }

    private def journalPath(r: Root) = new Path(r.dir, "_erase_pending")

    /** The root refuses to serve, maintain or compact while an erase
      * journal is pending: postings rewrites and the df/stats roll-back
      * commit separately, so mid-erase state is inconsistent until the
      * re-run finishes.
      */
    private def assertNoPendingErase(r: Root): Unit =
      require(!r.fs.exists(new Path(journalPath(r), "_SUCCESS")),
        s"$what at ${r.path} has an interrupted subject erasure " +
          "(_erase_pending journal committed): re-run eraseBm25Maintained " +
          "to completion before serving, maintaining or compacting this root")
  }

  /** MinHash-LSH: buckets and sets, both per-document rows with no
    * corpus-level statistics, so a batch is a pure map-side encode and
    * every other step is the default. Shape parameters live in the
    * standard sidecar, written by the index's write or the first run and
    * REQUIRED equal on every later run — appending under different (k,
    * bands, rows) would silently mix incomparable signatures.
    */
  object MinHash extends IndexCodec[MinHashIndex]("minhash index",
      Seq(MinHashBuckets, MinHashSets)) {

    def encoder(r: Root, idCol: String, textCol: String, shingleK: Int, bands: Int,
        rowsPerBand: Int): Encode = {
      if (IndexSidecar.exists(r.conf, r.path)) {
        val (k0, b0, r0) = MinHashIndex.sidecarParams(r.conf, r.path)
        require(k0 == shingleK && b0 == bands && r0 == rowsPerBand,
          s"minhash index at ${r.path} was built with (shingleK=$k0, bands=$b0, " +
            s"rowsPerBand=$r0); appending with ($shingleK, $bands, $rowsPerBand) " +
            "would mix incomparable signatures")
      } else MinHashIndex.writeSidecarParams(r.conf, r.path, shingleK, bands, rowsPerBand)
      (batch, _, _) => {
        val d = MinHashIndex.build(batch, idCol, textCol, shingleK, bands, rowsPerBand)
        Encoded(Seq(MinHashBuckets -> d.buckets, MinHashSets -> d.sets))
      }
    }

    def written(r: Root, index: MinHashIndex): Encoded =
      Encoded(Seq(MinHashBuckets -> index.buckets, MinHashSets -> index.sets),
        Seq(() => MinHashIndex.writeSidecarParams(r.conf, r.path,
          index.shingleK, index.bands, index.rowsPerBand)))

    /** Buckets hash-clustered by (band, bucket) and sorted within, so
      * equal keys share a file: the serve's partial bucket-size aggregate
      * collapses them before its exchange. Sets concat.
      */
    override def writeGeneration(m: MemberLayout, df: DataFrame, out: Path, numFiles: Int): Unit =
      if (m != MinHashBuckets) super.writeGeneration(m, df, out, numFiles)
      else df.repartition(numFiles, col("band"), col("bucket")).sortWithinPartitions("band", "bucket")
        .write.mode("overwrite").parquet(out.toString)

    def serve(r: Root, done: Seq[Long]): MinHashIndex = {
      val (k, b, rows) = MinHashIndex.sidecarParams(r.conf, r.path)
      MinHashIndex(live(r, MinHashBuckets, done), live(r, MinHashSets, done), k, b, rows)
    }
  }

  /** Prefix-filter similarity join: the FIRST batch freezes the model —
    * its shingle document frequencies become the rarity total order
    * (`freq/`), exactly as [[graft.ops.SimJoinIndex.append]] freezes the
    * build-time order; later batches fold in under it (unseen shingles
    * take df 0 and sort first); on a written root the index's own
    * build-time order is the frozen one. The frozen order affects only
    * PRUNING quality, never the pair set. The sidecar is written with the
    * frozen order and REQUIRED equal on later runs. A generation clusters
    * the prefixes by shingle hash (serve probes read co-located posting
    * lists); the sets concat.
    */
  object SimJoin extends IndexCodec[SimJoinIndex]("simjoin index",
      Seq(SimJoinPrefixes, SimJoinSets)) {

    def encoder(r: Root, idCol: String, textCol: String, shingleK: Int,
        threshold: Double): Encode = {
      if (IndexSidecar.exists(r.conf, r.path)) {
        val (k0, t0) = SimJoinIndex.sidecarParams(r.conf, r.path)
        require(k0 == shingleK && math.abs(t0 - threshold) < 1e-12,
          s"simjoin index at ${r.path} was frozen with (shingleK=$k0, " +
            s"threshold=$t0); appending with ($shingleK, $threshold) would " +
            "mix incomparable prefixes")
      }
      (batch, _, done) =>
        if (done.isEmpty && !IndexSidecar.exists(r.conf, r.path)) {
          // the first batch freezes the order (deterministic, so a
          // pre-marker crash replays cleanly); the sidecar lands only
          // after the freq dir it describes is fully written
          written(r, SimJoinIndex.build(batch, idCol, textCol, shingleK, threshold))
        } else {
          val (p, s) = SimJoinIndex.encodeDelta(freq(r), batch, idCol, textCol,
            shingleK, threshold)
          Encoded(Seq(SimJoinPrefixes -> p, SimJoinSets -> s))
        }
    }

    /** The prefixes and sets, then the frozen order and the sidecar that
      * describes it, in that order.
      */
    def written(r: Root, index: SimJoinIndex): Encoded =
      Encoded(Seq(SimJoinPrefixes -> index.prefixes, SimJoinSets -> index.sets),
        Seq { () =>
          index.freq.write.mode("overwrite").parquet(freqPath(r))
          SimJoinIndex.writeSidecar(r.conf, r.path, index.shingleK, index.threshold)
        })

    def serve(r: Root, done: Seq[Long]): SimJoinIndex = {
      val (shingleK, threshold) = SimJoinIndex.sidecarParams(r.conf, r.path)
      SimJoinIndex(freq(r), live(r, SimJoinPrefixes, done),
        live(r, SimJoinSets, done), shingleK, threshold)
    }

    override def writeGeneration(m: MemberLayout, df: DataFrame, out: Path, numFiles: Int): Unit =
      if (m != SimJoinPrefixes) super.writeGeneration(m, df, out, numFiles)
      else df.repartition(numFiles, col("h")).sortWithinPartitions("h", "id")
        .write.mode("overwrite").parquet(out.toString)

    override def sideNames: String = "freq"

    private def freqPath(r: Root) = new Path(r.dir, "freq").toString

    private def freq(r: Root) = Parquet.read(r.spark, freqPath(r)).select("h", "freq")
  }

  /** IVF-PQ: the root is a [[IvfPqIndex.write]]-written index (model
    * sidecar + the written lists generation) whose FROZEN model encodes
    * each batch into a cluster-partitioned lists dir. Every leg is read on
    * its own (a multi-path read of several cluster-partitioned dirs trips
    * partition discovery: CONFLICTING_DIRECTORY_STRUCTURES) and the legs
    * are unioned. The model generation is stamped on the first run and
    * checked before every serve, compaction and erase: an in-place
    * rebuild would decode the batch legs through foreign codebooks.
    */
  object IvfPq extends IndexCodec[IvfPqIndex]("ivfpq index", Seq(IvfLists), idCol = "n_id") {

    /** Reads the frozen model once (and fails loudly if the root is not a
      * written index — the model MUST predate the stream), then stamps or
      * checks its generation.
      */
    def encoder(r: Root, idCol: String, vecCol: String): Encode = {
      val (centroids, codebooks, _, residual) = IvfPqIndex.model(r.conf, r.path)
      assertModelGeneration(r, stampIfAbsent = true)
      (batch, _, _) => Encoded(Seq(IvfLists ->
        IvfPqIndex.encodeLists(centroids, codebooks, residual, batch, idCol, vecCol)))
    }

    def written(r: Root, index: IvfPqIndex): Encoded =
      Encoded(Seq(IvfLists -> index.lists), Seq(() => IvfPqIndex.writeModel(r.conf, r.path, index)))

    /** The cluster-partitioned serving layout, one file per cluster: one
      * exchange of slim code rows instead of up to one file per task per
      * cluster dir.
      */
    override def write(df: DataFrame, p: Path): Unit =
      df.repartition(col("cluster"))
        .write.mode("overwrite").partitionBy("cluster").parquet(p.toString)

    /** Either physical shape of a lists dir: the cluster-partitioned
      * serving layout, or the plain (possibly empty) shape an erase
      * rewrite leaves when a dir lost all its rows. A dir with neither
      * cluster subdirs nor data files reads as absent (an empty
      * micro-batch's dynamic-partition write leaves exactly that).
      */
    override def readLeg(r: Root)(p: Path): Option[DataFrame] =
      Some(p).filter(r.fs.exists).filter(r.fs.listStatus(_).exists { st =>
        val n = st.getPath.getName
        if (st.isDirectory) n.startsWith("cluster=") else !n.startsWith("_") && !n.startsWith(".")
      }).map(p => Parquet.read(r.spark, p.toString).select(IvfLists.cols.map(col): _*))

    /** Each leg read on its own, then unioned. */
    override def readLegs(r: Root, m: MemberLayout, legs: Seq[Path]): Option[DataFrame] =
      legs.flatMap(readLeg(r)).reduceOption(_ unionByName _)

    def serve(r: Root, done: Seq[Long]): IvfPqIndex = {
      assertModelGeneration(r, stampIfAbsent = false)
      val (centroids, codebooks, numCodes, residual) = IvfPqIndex.model(r.conf, r.path)
      IvfPqIndex(live(r, IvfLists, done), centroids, codebooks, numCodes, residual)
    }

    /** One cluster-partitioned generation; `numFiles` does not apply. */
    override def writeGeneration(m: MemberLayout, df: DataFrame, out: Path, numFiles: Int): Unit =
      write(df, out)

    override def beforeCompact(r: Root): Unit = assertModelGeneration(r, stampIfAbsent = false)

    override def beforeErase(r: Root, done: Seq[Long]): Unit =
      assertModelGeneration(r, stampIfAbsent = false)

    /** A leg that lost ALL rows rewrites to a plain schema-bearing empty
      * file: a partitioned write of zero rows leaves an unreadable dir.
      * Under the lease the probe's counts are exact, so a leg empties
      * exactly when all its rows are victims.
      */
    override def rewrite(r: Root, done: Seq[Long], affected: Seq[(String, Long, Long)], k: DataFrame): Unit = {
      val emptied = affected.collect { case (leg, before, erased) if before == erased =>
        new Path(r.dir, IvfLists.rel(leg)) }.toSet
      rewriteLegs(r, affected.map(_._1), k) { live =>
        if (emptied(live)) super.write else write
      }
    }

    /** `leg` names the dir ("lists_batch_<id>", "lists_compact_<gen>"). */
    override def ledger(spark: SparkSession, affected: Seq[(String, Long, Long)]): DataFrame = {
      import spark.implicits._
      affected.map { case (leg, before, erased) => (leg, before, before - erased, erased) }
        .toDF("leg", "n_before", "n_after", "n_erased")
    }

    override def sideNames: String = ModelGenName

    private val ModelGenName = "_graft_model_gen"

    /** Checks the model-generation stamp against the sidecar, or with
      * `stampIfAbsent` writes it; an unstamped root (a written index no
      * maintainer has run on) reads no sidecar here.
      */
    private def assertModelGeneration(r: Root, stampIfAbsent: Boolean): Unit = {
      val stampPath = new Path(r.dir, ModelGenName)
      lazy val current = IvfPqIndex.sidecarHash(r.conf, r.path)
      if (r.fs.exists(stampPath)) {
        val stamped = readUtf8(r.conf, stampPath).trim
        require(stamped == current,
          s"ivfpq model at ${r.path} was REBUILT in place (sidecar " +
            s"fingerprint $current != maintained generation $stamped): the " +
            "lists_batch_* dirs hold codes encoded under the old codebooks " +
            "and would decode to garbage — start a fresh maintained root " +
            "for the new model (the rebuild-cadence contract)")
      } else if (stampIfAbsent) writeUtf8(r.fs, stampPath, current)
    }
  }
}

/** IVF-PQ's model rebuild and its rebuild-cadence gate: that index's own
  * code around its maintained root, reachable as
  * `Incremental.rebuildIvfPqMaintained` and `Incremental.rebuildIfDrifted`
  * ([[Incremental]] mixes this trait in).
  */
trait IvfPqRebuild {
  import IndexCodecs.IvfPq

  /** MODEL REBUILD for a [[Incremental.streamIvfPqMaintain]]ed root — the remedy
    * operator the frozen-model contract defers to ("production rebuilds
    * on a slow cadence while appending fast"): retrain coarse centroids +
    * PQ codebooks from the raw vectors of exactly the ids the maintained
    * root serves (its written generation + every committed batch, minus
    * erased victims), re-encode, and write the result as a FRESH written
    * root at `destPath` — the next serving generation, ready to be
    * stream-maintained in turn. Blue/green by construction: the old root
    * is never touched, so a crash mid-rebuild leaves the old generation
    * serving and the half-written destination is simply overwritten by
    * the re-run; cutover is the caller flipping the serve path (then
    * retiring the old root). An in-place rebuild is exactly what the
    * model-generation stamp exists to refuse: the old root's batch dirs
    * hold codes of the OLD codebooks ([[Incremental.streamIvfPqMaintain]]'s guard).
    * Measure the drift that sets the cadence with
    * [[graft.ops.IvfPqIndex.recallAudit]] on the maintained read — the
    * frozen/rebuilt pair is the declared `knn_maintained_recall_audit`
    * evidence.
    */
  def rebuildIvfPqMaintained(
      spark: SparkSession,
      indexPath: String,
      destPath: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 16,
      numSubspaces: Int = 8,
      numCodes: Int = 16,
      lloydIters: Int = 2,
      residual: Boolean = true,
      trainSampleMod: Int = 1): IvfPqIndex = {
    val r = new Root(spark, indexPath)
    val dst = new Path(destPath)
    require(r.fs.makeQualified(r.dir) != dst.getFileSystem(r.conf).makeQualified(dst),
      s"rebuild writes a FRESH serving generation: destPath == indexPath " +
        s"($indexPath) would overwrite the lists the rebuild is still " +
        "reading and strand batch dirs encoded under the old model")
    // the retrain's multi-pass read of the old root runs under its
    // mutator lease: a concurrent compaction sweeping legs mid-pass (or
    // an erase rewriting them between passes) would train on a corpus no
    // generation ever served
    val rebuilt = Incremental.withRootLease(r.conf, r.fs, r.dir, IvfPq.what, "rebuilder") {
      IvfPqIndex.rebuildModel(read(IvfPq, spark, indexPath),
        corpus, idCol, vecCol, nlist, numSubspaces, numCodes, lloydIters,
        residual, trainSampleMod)
    }
    IvfPqIndex.write(rebuilt, destPath)
    // the retrain corpus's localCheckpoint blocks are superseded by the
    // persisted layout — free them (rebuildModel pinned one snapshot for
    // its multi-pass training)
    graft.ops.Checkpoints.free(rebuilt.lists)
    // serve from the written layout (cluster-pruned), not the build plan
    IvfPqIndex.read(spark, destPath)
  }

  /** Rebuild-cadence POLICY gate — the [[Incremental.compactIfStale]] counterpart for
    * MODEL quality: measure the maintained root's frozen-model recall
    * with [[graft.ops.IvfPqIndex.recallAudit]] and run
    * [[Incremental.rebuildIvfPqMaintained]] into `destPath` iff it has drifted below
    * `minRecall`. The one knob a production maintainer calls on its audit
    * cadence so model staleness is bounded by policy, not hope:
    * {{{
    * Incremental.streamIvfPqMaintain(spark, src, root, "id", "vec")
    * Incremental.rebuildIfDrifted(spark, root, s"$root-gen2", corpus,
    *   "id", "vec", queries, minRecall = 0.8, k = 5)
    * }}}
    * Returns (measuredRecall, Some(rebuiltIndex)) when it rebuilt,
    * (measuredRecall, None) with the root untouched when recall is
    * within budget (the common case — one audit job, no rebuild; the
    * measurement is returned EITHER way so a caller logging the cadence
    * never pays a second corpus-sized audit). The audit's brute-force
    * side is query-set × corpus sized BY PURPOSE (audit cadence, not
    * serve path); keep `queries` a representative sample. On rebuild the
    * caller cuts the serve path over to `destPath` (blue/green — see
    * [[Incremental.rebuildIvfPqMaintained]]).
    *
    * CADENCE NOTE: the audit holds the root mutator lease for its whole
    * corpus-sized brute-force pass, and [[Incremental.withRootLease]] fails loudly
    * rather than waits — any maintain/compact/erase attempted on this
    * root during the audit throws, and vice versa. Schedule drift audits
    * OFF the maintenance windows (they gate a rebuild; they have no
    * freshness requirement of their own).
    */
  def rebuildIfDrifted(
      spark: SparkSession,
      indexPath: String,
      destPath: String,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      minRecall: Double,
      k: Int,
      nprobe: Int = 8,
      nlist: Int = 16,
      numSubspaces: Int = 8,
      numCodes: Int = 16,
      lloydIters: Int = 2,
      residual: Boolean = true,
      trainSampleMod: Int = 1): (Double, Option[IvfPqIndex]) = {
    require(minRecall > 0.0 && minRecall <= 1.0,
      s"minRecall must be in (0, 1]: $minRecall")
    // an empty query sample can only produce a vacuous audit (n_truth 0,
    // recall null/NaN — which a bare `>= minRecall` compare would read as
    // DRIFTED, silently rebuilding on every cadence). Fail loudly before
    // paying the corpus-sized audit.
    require(!queries.isEmpty,
      s"rebuildIfDrifted at $indexPath was given an EMPTY query sample: " +
        "the recall audit would be vacuous (n_truth=0) and could not " +
        "gate a rebuild — fix the audit inputs")
    // the audit's multi-pass read (served-id snapshot, brute-force pass,
    // topK serve) runs under the root lease, like the rebuild's retrain
    // read: an interleaved compaction sweep or erase between passes
    // would measure a state no generation served — skewing the recall
    // that GATES the rebuild. The lease is released before the rebuild
    // re-acquires it (withRootLease is non-reentrant); a mutation landing
    // in that gap only makes the measurement one cadence stale, never
    // torn.
    val r = new Root(spark, indexPath)
    val audit = Incremental.withRootLease(r.conf, r.fs, r.dir, IvfPq.what, "drift-auditor") {
      IvfPqIndex.recallAudit(read(IvfPq, spark, indexPath),
        queries, corpus, idCol, vecCol, k, nprobe).head()
    }
    // the post-audit guard: an empty served∩corpus truth ALSO yields
    // n_truth 0 (same vacuous-audit failure as an empty query sample,
    // but only detectable after the audit has run over the corpus)
    require(audit.getAs[Long]("n_truth") > 0L,
      s"rebuildIfDrifted audit at $indexPath measured an EMPTY ground " +
        "truth (n_truth=0): the query sample produced no brute-force " +
        "neighbors over the served ids — fix the audit inputs; refusing " +
        "to gate a rebuild on a vacuous recall")
    val recall = audit.getAs[Double]("recall_at_k")
    if (recall >= minRecall) (recall, None)
    else (recall, Some(rebuildIvfPqMaintained(spark, indexPath, destPath,
      corpus, idCol, vecCol, nlist, numSubspaces, numCodes, lloydIters,
      residual, trainSampleMod)))
  }
}
