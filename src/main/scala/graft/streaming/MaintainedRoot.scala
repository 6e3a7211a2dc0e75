package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.Concurrent
import graft.sources.Parquet

/** The exactly-once protocol every stream-maintained index root (bm25,
  * minhash, simjoin, ivfpq — see [[Incremental]]) shares:
  *  - the BATCH COMMIT: each micro-batch's artifacts commit under ONE
  *    `_committed_<id>` marker written last, which records the batch's
  *    source-file fingerprint for the replay check;
  *  - the RUN IDENTITY: the root carries the maintaining query's id
  *    (`_graft_query_id`), so a fresh checkpoint cannot silently skip
  *    live batches as replays;
  *  - the MEMBER LAYOUT: per-member batch dirs plus at most one committed
  *    compacted generation (`_compacted_<gen>`, written last);
  *  - the ERASE: one prologue, one single-pass victim probe and one
  *    per-leg anti-join rewrite.
  * Each index's own steps stay in [[Incremental]]: how a batch encodes,
  * how a serve reads, its compaction merges and its erase. The mutator lease
  * ([[Incremental.withRootLease]]) stays there too. The marker names and
  * the batch / compact dir names are spelled only here, which a
  * source-scan spec enforces.
  */
private[graft] object MaintainedRoot {
  import Incremental.{streamSource, withRootLease}

  private val CommittedPrefix = "_committed_"
  private val CompactedPrefix = "_compacted_"

  /** Read a small filesystem artifact fully — Hadoop FS resolved from the
    * path itself (the checkpoint may live on a different scheme than the
    * maintained state, and opening a foreign path through the wrong
    * handle throws 'Wrong FS').
    */
  private[streaming] def readUtf8(
      conf: Configuration,
      p: Path): String = {
    val pfs = p.getFileSystem(conf)
    val s = pfs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(s), "UTF-8")
    finally s.close()
  }

  private[streaming] def writeUtf8(
      fs: FileSystem,
      p: Path,
      content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** The checkpoint a maintainer runs under: the caller's, or the stable
    * `<root>/_checkpoint` when none is given, so the shorthand call is
    * incremental across runs.
    */
  private[streaming] def checkpointOf(rootPath: String, checkpointPath: String): String =
    if (checkpointPath != null) checkpointPath
    else new Path(rootPath, "_checkpoint").toString

  /** The streaming query id in `<ckpt>/metadata` (`{"id":"<uuid>"}`) —
    * present iff this checkpoint has run before. Stable across checkpoint
    * COPIES/restores, fresh for a new checkpoint.
    */
  private def checkpointQueryId(
      conf: Configuration,
      ckptStr: String): Option[String] = {
    val meta = new Path(ckptStr, "metadata")
    val mfs = meta.getFileSystem(conf)
    if (!mfs.exists(meta)) None
    else "\"id\"\\s*:\\s*\"([^\"]+)\"".r
      .findFirstMatchIn(readUtf8(conf, meta)).map(_.group(1))
  }

  /** RUN-IDENTITY GUARD shared by the batch-stamped maintainers
    * ([[Incremental.streamRollupMaintain]] and [[runBatchCommitted]]):
    * batch ids are comparable only within ONE checkpoint lineage — a
    * fresh checkpoint restarts them at 0, so its live batches would
    * collide with historical batch-stamped artifacts and be silently
    * skipped as "already committed" (data loss). The maintained state
    * carries a `_graft_query_id` stamp; a run whose checkpoint identity
    * does not match fails loudly instead of merging.
    */
  private[streaming] def assertRunIdentity(
      conf: Configuration,
      fs: FileSystem,
      root: Path,
      ckptStr: String,
      what: String): Unit = {
    val stampPath = new Path(root, "_graft_query_id")
    if (fs.exists(stampPath)) {
      val stamped = readUtf8(conf, stampPath).trim
      val current = checkpointQueryId(conf, ckptStr)
      require(current.contains(stamped),
        s"$what at $root was maintained by streaming query '$stamped' " +
          s"but checkpoint '$ckptStr' carries ${current.fold("no run yet (fresh checkpoint)")(id => s"query '$id'")}: " +
          "its batch ids would restart and live batches would be silently " +
          "skipped as stale snapshots. Reuse the original checkpoint " +
          "(or a restored copy of it), or start a fresh target path.")
    }
  }

  /** Stamp (once) the checkpoint identity whose batch ids the maintained
    * state carries; the checkpoint's `metadata` exists once the query has
    * started.
    */
  private[streaming] def stampRunIdentity(
      conf: Configuration,
      fs: FileSystem,
      root: Path,
      ckptStr: String): Unit = {
    val stampPath = new Path(root, "_graft_query_id")
    if (!fs.exists(stampPath))
      checkpointQueryId(conf, ckptStr).foreach(writeUtf8(fs, stampPath, _))
  }

  /** Shared machinery of the four batch-stamped streaming index
    * maintainers ([[Incremental.streamBm25Maintain]],
    * [[Incremental.streamMinHashMaintain]],
    * [[Incremental.streamSimJoinMaintain]],
    * [[Incremental.streamIvfPqMaintain]]): an AvailableNow foreachBatch
    * stream over `srcPath` where each micro-batch's artifacts are written
    * under `indexPath` by `writeBatch(batch, batchId, committedBefore)`
    * and then committed by ONE `_committed_<batchId>` marker — a replayed
    * committed batch skips entirely; a crash before the marker leaves the
    * batch uncommitted so the replay rewrites the same deterministic
    * artifacts (writers use mode overwrite). `afterCommit` runs with the
    * post-marker committed id list (snapshot retirement). The whole run
    * holds the root's mutator lease, and the RUN-IDENTITY GUARD applies:
    * `indexPath` carries the maintaining query's id and a fresh checkpoint
    * (batch ids restarting at 0) fails loudly instead of silently skipping
    * live batches as replays. Returns the committed batch ids after the
    * run.
    */
  private[streaming] def runBatchCommitted(
      spark: SparkSession,
      srcPath: String,
      indexPath: String,
      checkpointPath: String,
      what: String,
      maxFilesPerTrigger: Int)(
      writeBatch: (DataFrame, Long, Seq[Long]) => Unit)(
      afterCommit: Seq[Long] => Unit): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(indexPath)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    val ckptStr = checkpointOf(indexPath, checkpointPath)
    withRootLease(conf, fs, root, what, "maintainer") {
    assertRunIdentity(conf, fs, root, ckptStr, what)
    val srcOpts =
      if (maxFilesPerTrigger > 0)
        Map("maxFilesPerTrigger" -> maxFilesPerTrigger.toString)
      else Map.empty[String, String]
    val in = streamSource(spark, srcPath, srcOpts)
    val q = in.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val done = committedBatchIds(fs, root)
        val marker = new Path(root, s"$CommittedPrefix$batchId")
        if (done.contains(batchId)) {
          // at-least-once replay of an already-committed batch: skip —
          // but only if it replays the SAME file set it committed with (a
          // restored-older checkpoint re-plans this id over MORE files;
          // see batchFilesSig)
          assertReplayedBatchUnchanged(conf, marker,
            batchFilesSig(conf, ckptStr, batchId), what, batchId)
        } else {
          // stamp BEFORE the first marker ever lands (no-op once
          // stamped): a first-run crash after markers but before a
          // post-run stamp would let a fresh-checkpoint restart pass the
          // identity guard and silently skip live batches as replays —
          // the checkpoint's metadata file exists once the query started,
          // i.e. here
          stampRunIdentity(conf, fs, root, ckptStr)
          writeBatch(batch, batchId, done)
          // ONE commit point covers every artifact the batch wrote — a
          // crash between any artifact write and this create leaves the
          // batch uncommitted, so the replay rewrites it wholesale. The
          // marker body records the batch's source-file fingerprint for
          // the replay check above.
          writeUtf8(fs, marker, batchFilesSig(conf, ckptStr, batchId))
          afterCommit(committedBatchIds(fs, root))
        }
      }
      .option("checkpointLocation", ckptStr)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // zero-batch runs (empty source) still stamp, closing the lineage
    stampRunIdentity(conf, fs, root, ckptStr)
    requireCommitted(fs, root, what)
    }
  }

  /** The sorted ids of the root-level `<prefix><id>` markers. */
  private def markerIds(fs: FileSystem, root: Path, prefix: String): Seq[Long] =
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).toLong).sorted

  /** The sorted committed batch ids under a [[runBatchCommitted]] index
    * root — ONE definition of the load-bearing `_committed_<id>` marker
    * scheme, shared by the writer, the compactor, the erases and the
    * maintained-index readers.
    */
  private[streaming] def committedBatchIds(
      fs: FileSystem,
      root: Path): Seq[Long] =
    markerIds(fs, root, CommittedPrefix)

  /** [[committedBatchIds]], failing loudly on a root that has none. */
  private[streaming] def requireCommitted(fs: FileSystem, root: Path, what: String): Seq[Long] = {
    val done = committedBatchIds(fs, root)
    require(done.nonEmpty, s"no committed $what batch under $root")
    done
  }

  /** Whether `root` is a stream-maintained root (batch-commit markers
    * present) — the static index writers and readers refuse such roots.
    */
  private[graft] def isMaintained(fs: FileSystem, root: Path): Boolean =
    fs.exists(root) && committedBatchIds(fs, root).nonEmpty

  /** Deterministic fingerprint of a micro-batch's SOURCE-FILE set.
    * Recorded inside each `_committed_<id>` marker and re-checked on
    * replay: a batch id only maps to the same files within one checkpoint
    * HISTORY — a checkpoint restored to an OLDER state re-plans an
    * already-committed id over whatever is now available (with
    * AvailableNow and no maxFilesPerTrigger, EVERYTHING unseen packs into
    * that one batch), and skipping it by marker alone would silently drop
    * the newer files.
    *
    * The file set comes from the checkpoint's FileStreamSource metadata
    * log (`<ckpt>/sources/0/<batchId>`, written when the batch is
    * planned) — the foreachBatch DataFrame itself is a LogicalRDD whose
    * file lineage is already erased. An unreadable/missing log entry
    * yields an empty (unverifiable) signature, which both sides treat as
    * "skip the check" — never a false trigger.
    */
  private[streaming] def batchFilesSig(
      conf: Configuration,
      ckptStr: String,
      batchId: Long): String = {
    val dir = new Path(ckptStr, "sources/0")
    val fs = dir.getFileSystem(conf)
    // the log compacts every N batches into "<id>.compact" (all entries
    // up to id); either shape carries this batch's entries
    val logFile = Seq(
      new Path(dir, s"$batchId.compact"),
      new Path(dir, batchId.toString)).find(fs.exists)
    logFile.fold("") { p =>
      val entryRe = """\{[^{}]*\}""".r
      val bidRe = """"batchId"\s*:\s*(-?\d+)""".r
      val pathRe = """"path"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      val files = entryRe.findAllIn(readUtf8(conf, p)).toSeq.flatMap { e =>
        if (bidRe.findFirstMatchIn(e).exists(_.group(1).toLong == batchId))
          pathRe.findFirstMatchIn(e).map(_.group(1))
        else None
      }.sorted
      if (files.isEmpty) "" // unparseable or foreign layout: unverifiable
      else {
        val md = java.security.MessageDigest.getInstance("SHA-256")
        files.foreach(f => md.update((f + "\n").getBytes("UTF-8")))
        s"files=${files.length} sha256=${md.digest().map("%02x".format(_)).mkString}"
      }
    }
  }

  private val FilesSigShape = "files=\\d+ sha256=[0-9a-f]{64}".r

  /** Fail loudly when a replayed committed batch id arrives with a
    * DIFFERENT source-file set than the one its marker recorded (see
    * [[batchFilesSig]]). An empty recorded sig (pre-sig roots), an empty
    * current sig (unreadable source log), or a recorded value that does
    * not parse as a signature (a TORN marker write — the content is
    * advisory hardening, so a truncated flush must degrade to
    * unverifiable, never wedge the stream with a false mismatch) all
    * skip the check, as the markers without content always did.
    */
  private[streaming] def assertReplayedBatchUnchanged(
      conf: Configuration,
      marker: Path,
      sig: String,
      what: String,
      batchId: Long): Unit = {
    val recorded = readUtf8(conf, marker).trim
    val verifiable =
      FilesSigShape.matches(recorded) && FilesSigShape.matches(sig)
    require(!verifiable || recorded == sig,
      s"$what batch $batchId replayed with a DIFFERENT source-file set " +
        s"(committed: $recorded; replayed: $sig). The checkpoint was " +
        "restored to a state older than files that have since arrived, so " +
        "skipping this batch as already-committed would silently drop " +
        "them. Restore a checkpoint no older than the newest committed " +
        "batch, or start a fresh maintained root.")
  }

  /** One data member of a maintained index root under the COMPACTION
    * scheme: batch dirs (`<parent>/batch_<id>` — or root-level
    * `lists_batch_<id>` for the IVF-PQ layout) plus at most one committed
    * compacted generation (`compact_<gen>`, gen = the highest batch id
    * folded in). The generation is committed by a single root-level
    * `_compacted_<gen>` marker written LAST (shared across members), so
    * the serve/erase surface is compact dir + tail batch dirs — bounded
    * by compaction cadence instead of growing one leg per batch forever.
    */
  private[streaming] final case class MemberLayout(
      parentRel: String,
      batchPrefix: String = "batch_",
      compactPrefix: String = "compact_") {
    def rel(n: String): String =
      if (parentRel.isEmpty) n else s"$parentRel/$n"
    def batchPath(root: Path, id: Long) =
      new Path(root, rel(s"$batchPrefix$id"))
    def compactPath(root: Path, gen: Long) =
      new Path(root, rel(s"$compactPrefix$gen"))
    /** The live data dirs: the committed compacted generation (when
      * present — an all-empty member may have written none) plus batch
      * dirs NEWER than it. Batch dirs at or below the generation are
      * superseded (they exist only inside the post-marker pre-sweep
      * crash window) and are never read.
      */
    def legs(
        fs: FileSystem,
        root: Path,
        done: Seq[Long]): Seq[Path] = {
      val gen = compactedGenId(fs, root)
      gen.map(g => compactPath(root, g)).filter(fs.exists).toSeq ++
        done.filter(id => gen.forall(id > _)).map(id => batchPath(root, id))
    }
    /** The member as served: every live leg, projected to `cols`. */
    def read(
        spark: SparkSession,
        fs: FileSystem,
        root: Path,
        done: Seq[Long],
        cols: String*): DataFrame =
      Parquet.read(spark, legs(fs, root, done).map(_.toString): _*)
        .select(cols.map(col): _*)
    /** Remove dirs superseded by the COMMITTED compaction generation:
      * batch dirs at or below it and older compact dirs. Idempotent.
      * Called by [[compactCore]]'s sweep AND at erase entry — a
      * compaction that crashed between its `_compacted_` marker and its
      * sweep leaves superseded dirs whose rows (victim rows included)
      * no reader resolves but which still physically persist; an erase
      * must remove them BEFORE attesting, not leave the bytes for a
      * future compaction to clean.
      */
    def sweepSuperseded(
        fs: FileSystem,
        root: Path): Unit =
      compactedGenId(fs, root).foreach { gen =>
        val parent =
          if (parentRel.isEmpty) root else new Path(root, parentRel)
        if (fs.exists(parent)) fs.listStatus(parent).toSeq.foreach { st =>
          val n = st.getPath.getName
          def num(prefix: String): Option[Long] = {
            val s = n.stripPrefix(prefix)
            if (n.startsWith(prefix) && s.nonEmpty && s.forall(_.isDigit))
              Some(s.toLong)
            else None
          }
          val superseded =
            num(batchPrefix).exists(_ <= gen) || num(compactPrefix).exists(_ < gen)
          if (superseded) fs.delete(st.getPath, true)
        }
      }
  }

  private[streaming] val Bm25Postings = MemberLayout("postings")
  private[streaming] val MinHashBuckets = MemberLayout("buckets")
  private[streaming] val MinHashSets = MemberLayout("sets")
  private[streaming] val SimJoinPrefixes = MemberLayout("prefixes")
  private[streaming] val SimJoinSets = MemberLayout("sets")
  private[streaming] val IvfLists = MemberLayout("", "lists_batch_", "lists_compact_")
  /** The static base lists an IVF-PQ root is maintained on top of. */
  private[streaming] val IvfBaseLists = "lists"

  /** One write per member frame, each into that member's batch dir (mode
    * overwrite, so a pre-marker crash replays cleanly). The writes are
    * independent until the batch's one `_committed_` marker, so callers
    * run them concurrently.
    */
  private[streaming] def batchWrites(
      root: Path,
      batchId: Long,
      frames: Seq[(MemberLayout, DataFrame)]): Seq[() => Unit] =
    frames.map { case (m, df) => () =>
      df.write.mode("overwrite").parquet(m.batchPath(root, batchId).toString)
    }

  /** The committed compaction generation under a maintained root (highest
    * `_compacted_<gen>` marker), shared by every member of the root.
    */
  private[streaming] def compactedGenId(
      fs: FileSystem,
      root: Path): Option[Long] =
    markerIds(fs, root, CompactedPrefix).lastOption

  /** Shared compaction protocol for the four stream-maintained indexes:
    * merge the previous compacted generation (if any) and every committed
    * batch dir into ONE `compact_<newGen>` dir per member
    * (newGen = the highest committed batch id), committed by a single
    * `_compacted_<newGen>` marker written LAST, then sweep the superseded
    * dirs. Closes the r15 scale gap: without compaction, serve-plan union
    * width and erase-probe cost grow one leg per committed batch forever
    * (10⁴–10⁵ dirs at production micro-batch cadence).
    *
    * Crash-safe at every point: a crash before the marker leaves
    * half-written compact dirs no reader resolves (and a re-run
    * overwrites or sweeps them); a crash after the marker but before the
    * sweep leaves superseded batch dirs that readers already ignore
    * (legs() excludes ids ≤ the generation) and the next compaction
    * removes. The `_committed_<id>` markers are NEVER removed: a replay
    * of a pre-compaction batch id must stay a no-op (and its recorded
    * file signature stays checkable). The compactor holds the root's
    * mutator lease, so no maintainer or erase runs against the root
    * meanwhile.
    *
    * `merge(inputDirs, outDir)` writes one member's merged generation in
    * that member's serving layout; it may decline to write when every
    * input is empty (readers tolerate a missing compact dir). Returns the
    * committed generation id.
    */
  private[streaming] def compactCore(
      spark: SparkSession,
      indexPath: String,
      what: String,
      members: Seq[(MemberLayout, (Seq[String], String) => Unit)]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(indexPath)
    val fs = root.getFileSystem(conf)
    withRootLease(conf, fs, root, what, "compactor") {
    val done = requireCommitted(fs, root, what)
    // superseded or half-written older generations, then older markers
    def sweep(gen: Long): Unit = {
      members.foreach(_._1.sweepSuperseded(fs, root))
      markerIds(fs, root, CompactedPrefix).filter(_ < gen)
        .foreach(g => fs.delete(new Path(root, s"$CompactedPrefix$g"), false))
    }
    val prev = compactedGenId(fs, root)
    // finish any interrupted sweep for the current generation first
    prev.foreach(sweep)
    val newGen = done.last
    if (prev.contains(newGen)) newGen // everything is already compacted
    else {
      // members merge into disjoint compact dirs under ONE marker —
      // concurrent (guide §2.6)
      Concurrent.awaitAll(members.map { case (m, merge) => () =>
        val inputs = m.legs(fs, root, done).filter(fs.exists)
        if (inputs.nonEmpty)
          merge(inputs.map(_.toString), m.compactPath(root, newGen).toString)
      })
      // ONE commit point covers every member's merged generation
      writeUtf8(fs, new Path(root, s"$CompactedPrefix$newGen"),
        s"merged=${done.mkString(",")}")
      sweep(newGen)
      newGen
    }
    }
  }

  /** Reject a maintained root that holds (any part of) a STATICALLY
    * written index: a static layout keeps part files directly under the
    * member dirs, which the maintained readers (batch / compact dirs
    * only) silently ignore — cohabiting would hide every statically
    * written document. Checked on EVERY member dir, even without a
    * sidecar: a static write interrupted between members leaves exactly
    * one member in the static shape.
    */
  private[streaming] def assertMaintainerOwnsLayout(
      fs: FileSystem,
      root: Path,
      members: Seq[MemberLayout],
      what: String,
      serveHint: String): Unit =
    members.foreach { m =>
      val p = new Path(root, m.parentRel)
      val static = fs.exists(p) && fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        !n.startsWith(m.batchPrefix) && !n.startsWith(m.compactPrefix) &&
          !n.startsWith("_")
      }
      require(!static,
        s"$root holds a statically-written $what (non-batch entries under " +
          s"${m.parentRel}/); stream maintainers own their roots ($serveHint)")
    }

  /** The erase prologue every maintained root shares: a single key
    * column, the root's mutator lease, at least one committed batch, and
    * a crashed compaction's sweep finished first — superseded dirs are
    * invisible to readers but still hold victim BYTES, and an erase that
    * left them would attest an erasure that physically did not happen.
    * `body(fs, root, done, keys)` then runs under the lease with the
    * distinct victim keys materialized once as column `idCol`.
    */
  private[streaming] def erasing[T](
      spark: SparkSession,
      indexPath: String,
      ids: DataFrame,
      what: String,
      idCol: String,
      members: Seq[MemberLayout])(
      body: (FileSystem, Path, Seq[Long], DataFrame) => T): T = {
    require(ids.columns.length == 1,
      s"ids must be a single key column, got ${ids.columns.toSeq}")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(indexPath)
    val fs = root.getFileSystem(conf)
    withRootLease(conf, fs, root, what, "eraser") {
      val done = requireCommitted(fs, root, what)
      members.foreach(_.sweepSuperseded(fs, root))
      body(fs, root, done, ids.toDF(idCol).distinct().localCheckpoint())
    }
  }

  /** ONE-JOB victim probe over a union of leg reads: tag each row with
    * the leg dir it came from ([[withLegColumn]]), left-join the
    * (broadcast, GDPR-request-sized) victim keys, aggregate per leg →
    * victim-bearing legs with (rows, victim rows) — or distinct-doc
    * counts for members that repeat a doc across rows (BM25 postings).
    * Probe cost is one job regardless of committed-batch count.
    */
  private[streaming] def victimLegProbe(
      rows: DataFrame,
      k: DataFrame,
      idColName: String,
      distinctPerDoc: Boolean): Seq[(String, Long, Long)] = {
    val flagged = withLegColumn(rows)
      .join(broadcast(k.withColumn("__v", lit(1))), Seq(idColName), "left")
    val agg =
      if (distinctPerDoc)
        flagged.groupBy("__leg").agg(
          countDistinct(col(idColName)).as("nb"),
          countDistinct(when(col("__v").isNotNull, col(idColName))).as("nv"))
      else
        flagged.groupBy("__leg").agg(
          count(lit(1)).as("nb"), count(col("__v")).as("nv"))
    agg.filter(col("nv") > 0).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
  }

  /** [[victimLegProbe]] over every live leg of member `m`, keyed by its
    * `id` column.
    */
  private[streaming] def probeMember(
      spark: SparkSession, fs: FileSystem, root: Path, done: Seq[Long],
      m: MemberLayout, keys: DataFrame, distinctPerDoc: Boolean): Seq[(String, Long, Long)] =
    victimLegProbe(
      Parquet.read(spark, m.legs(fs, root, done).filter(fs.exists).map(_.toString): _*)
        .select("id"),
      keys, "id", distinctPerDoc)

  /** The leg-dir names a maintained member can have, for the probe's
    * leg tag: every layout's batch and compact prefixes, plus the IVF-PQ
    * base lists.
    */
  private val LegDir = {
    val prefixes = Seq(Bm25Postings, MinHashBuckets, MinHashSets,
      SimJoinPrefixes, SimJoinSets, IvfLists)
      .flatMap(m => Seq(m.batchPrefix, m.compactPrefix)).distinct
    s"/((?:${prefixes.mkString("|")})[0-9]+|$IvfBaseLists)(?:/cluster=[^/]+)?/[^/]+$$"
  }

  /** Tag file-sourced rows with the maintained-root leg dir they came
    * from: the dir immediately containing the file, or one above a
    * `cluster=` partition dir (the IVF-PQ layout) — anchored to the path
    * TAIL so upstream dirs that happen to contain a batch prefix never
    * match.
    */
  private def withLegColumn(df: DataFrame): DataFrame =
    df.withColumn("__leg", regexp_extract(input_file_name(), LegDir, 1))

  /** The shared per-leg erase rewrite: for every victim-bearing `legs`
    * dir, each member's copy of it (in `members` order — the caller puts
    * its probe member LAST) is read with `read`, anti-joined against the
    * victim `keys` on `idCol`, materialized (localCheckpoint) BEFORE the
    * overwrite of its source, and written back with `write`. Legs are
    * disjoint dirs and crash-idempotence is per leg, so they rewrite
    * CONCURRENTLY (guide §2.6): however many legs a crash leaves
    * half-done, every unfinished leg still bears victims for the re-run's
    * probe.
    */
  private[streaming] def rewriteLegs(
      root: Path,
      legs: Seq[String],
      members: Seq[MemberLayout],
      keys: DataFrame,
      idCol: String)(
      read: Path => Option[DataFrame])(
      write: (DataFrame, Path) => Unit): Unit =
    Concurrent.awaitAll(legs.map { leg => () =>
      members.foreach { m =>
        val p = new Path(root, m.rel(leg))
        read(p).foreach { df =>
          val retained = df.join(keys, Seq(idCol), "left_anti")
            .select(df.columns.map(col).toIndexedSeq: _*).localCheckpoint()
          write(retained, p)
        }
      }
    })

  /** [[rewriteLegs]]' plain leg read: the dir's parquet, when it exists. */
  private[streaming] def readIfExists(spark: SparkSession, fs: FileSystem)(
      p: Path): Option[DataFrame] =
    if (fs.exists(p)) Some(Parquet.read(spark, p.toString)) else None

  /** [[rewriteLegs]]' plain leg write. */
  private[streaming] def overwrite(df: DataFrame, p: Path): Unit =
    df.write.mode("overwrite").parquet(p.toString)

  /** The per-leg erase ledger (batch_id, n_before, n_after, n_erased): a
    * batch leg reports its batch id, the compacted generation its gen id
    * (the highest batch id folded into it).
    */
  private[streaming] def batchLedger(
      spark: SparkSession,
      affected: Seq[(String, Long, Long)]): DataFrame = {
    import spark.implicits._
    affected.map { case (leg, before, erased) =>
      (leg.filter(_.isDigit).toLong, before, before - erased, erased)
    }.toDF("batch_id", "n_before", "n_after", "n_erased")
  }
}
