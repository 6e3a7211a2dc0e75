package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.etl.StagedSwap
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
  *    per-leg anti-join rewrite, published by [[StagedSwap]].
  * Four generic operations run these steps over an [[IndexCodec]], one
  * value per index type ([[IndexCodecs]]): [[maintain]], [[read]],
  * [[erase]] and [[compact]]. The public entry points stay in
  * [[Incremental]] as delegations, and so does the mutator lease
  * ([[Incremental.withRootLease]]). The marker names and the batch /
  * compact dir names are spelled only here, which a source-scan spec
  * enforces.
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
    * `cols` are the member's columns as served and compacted.
    */
  private[streaming] final case class MemberLayout(
      parentRel: String,
      cols: Seq[String],
      batchPrefix: String = "batch_",
      compactPrefix: String = "compact_") {
    def rel(n: String): String =
      if (parentRel.isEmpty) n else s"$parentRel/$n"
    /** The dir holding the member's legs. */
    def parent(root: Path): Path =
      if (parentRel.isEmpty) root else new Path(root, parentRel)
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
    def legs(fs: FileSystem, root: Path, done: Seq[Long]): Seq[Path] = {
      val gen = compactedGenId(fs, root)
      gen.map(g => compactPath(root, g)).filter(fs.exists).toSeq ++
        done.filter(id => gen.forall(id > _)).map(id => batchPath(root, id))
    }
    /** The member as served: every live leg, projected to `cols`. */
    def read(r: Root, done: Seq[Long]): DataFrame =
      Parquet.read(r.spark, legs(r.fs, r.dir, done).map(_.toString): _*)
        .select(cols.map(col): _*)
    /** Remove dirs superseded by the COMMITTED compaction generation:
      * batch dirs at or below it and older compact dirs. Idempotent.
      * Called by [[compact]]'s sweep AND at erase entry — a compaction
      * that crashed between its `_compacted_` marker and its sweep leaves
      * superseded dirs whose rows (victim rows included) no reader
      * resolves but which still physically persist; an erase must remove
      * them BEFORE attesting, not leave the bytes for a future compaction
      * to clean.
      */
    def sweepSuperseded(fs: FileSystem, root: Path): Unit =
      compactedGenId(fs, root).foreach { gen =>
        val Batch = s"$batchPrefix(\\d+)".r
        val Compact = s"$compactPrefix(\\d+)".r
        if (fs.exists(parent(root))) fs.listStatus(parent(root)).toSeq.foreach { st =>
          val superseded = st.getPath.getName match {
            case Batch(id) => id.toLong <= gen
            case Compact(g) => g.toLong < gen
            case _ => false
          }
          if (superseded) fs.delete(st.getPath, true)
        }
      }
  }

  private[streaming] val Bm25Postings = MemberLayout("postings", Seq("term", "id", "tf", "dl"))
  private[streaming] val MinHashBuckets = MemberLayout("buckets", Seq("id", "band", "bucket"))
  private[streaming] val MinHashSets = MemberLayout("sets", Seq("id", "shingle_set"))
  private[streaming] val SimJoinPrefixes = MemberLayout("prefixes", Seq("h", "id", "n"))
  private[streaming] val SimJoinSets = MemberLayout("sets", Seq("id", "set", "n"))
  private[streaming] val IvfLists = MemberLayout("", Seq("cluster", "n_id", "codes", "n_norm"),
    "lists_batch_", "lists_compact_")
  /** The static base lists an IVF-PQ root is maintained on top of. */
  private[streaming] val IvfBaseLists = "lists"

  /** The committed compaction generation under a maintained root (highest
    * `_compacted_<gen>` marker), shared by every member of the root.
    */
  private[streaming] def compactedGenId(fs: FileSystem, root: Path): Option[Long] =
    markerIds(fs, root, CompactedPrefix).lastOption

  /** Reject a maintained root that holds (any part of) a STATICALLY
    * written index: a static layout keeps part files directly under the
    * member dirs, which the maintained readers (batch / compact dirs
    * only) silently ignore — cohabiting would hide every statically
    * written document. Checked on EVERY member dir, even without a
    * sidecar: a static write interrupted between members leaves exactly
    * one member in the static shape. Hidden names (an erase's
    * [[StagedSwap]] dirs, checksums) and `_` markers are not entries.
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
          !n.startsWith("_") && !n.startsWith(".")
      }
      require(!static,
        s"$root holds a statically-written $what (non-batch entries under " +
          s"${m.parentRel}/); stream maintainers own their roots ($serveHint)")
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

  /** [[StagedSwap.recover]] of every member's leg dir: run under the
    * lease before an erase or a compaction lists a leg, so neither reads
    * a root whose leg sits in an interrupted erase's backup.
    */
  private def recoverLegs(c: IndexCodec[_], r: Root): Unit =
    c.members.map(_.parent(r.dir)).distinct.foreach(StagedSwap.recover(r.fs, _))

  /** A maintained root as the generic operations see it: the session, the
    * root path as the caller gave it, and its Hadoop filesystem.
    */
  private[streaming] final class Root(val spark: SparkSession, val path: String) {
    val conf: Configuration = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs: FileSystem = dir.getFileSystem(conf)
  }

  /** One encoded micro-batch: a frame per data member, each written to
    * that member's batch dir, and the index's `side` artifacts (BM25's
    * df/stats snapshots, SimJoin's frozen rarity order). All of them are
    * written concurrently before the batch's one marker.
    */
  private[streaming] final case class Encoded(
      frames: Seq[(MemberLayout, DataFrame)],
      side: Seq[() => Unit] = Nil)

  /** A maintainer run's per-batch encode: (batch, batchId, committed ids
    * before it) to the encoded batch.
    */
  private[streaming] type Encode = (DataFrame, Long, Seq[Long]) => Encoded

  /** One stream-maintained index type, as the generic [[maintain]],
    * [[read]], [[erase]] and [[compact]] run it:
    *  - `members`: its data members, the erase PROBE member LAST. The
    *    erase rewrites a leg's members in this order, so a crash mid-leg
    *    leaves the probe member victim-bearing and the idempotent re-run
    *    finishes the leg instead of attesting it;
    *  - `idCol`: the document key every member carries;
    *  - `staticHint`: where a maintainer must refuse a root holding a
    *    statically written index of this type, how to serve that one
    *    ([[assertMaintainerOwnsLayout]]); IVF-PQ has none, because its
    *    root is maintained on top of a static base by design;
    *  - `distinctPerDoc`: the probe member repeats a document across rows
    *    (BM25 postings), so ledger counts are distinct documents.
    * Its methods are the index's own steps: the serve, the per-member
    * compaction merge, the member write and read, and the erase's probe
    * rows, rewrite and ledger. The defaults fit plain per-document
    * parquet members (MinHash, SimJoin); BM25 (snapshot roll-forward and
    * the erase journal) and IVF-PQ (the static base, the model
    * generation, cluster-partitioned legs) override what differs. The
    * per-batch encode depends on the maintainer run's own parameters, so
    * each codec builds it in an `encoder(...)` that [[maintain]] takes.
    */
  private[streaming] abstract class IndexCodec[I](
      val what: String,
      val members: Seq[MemberLayout],
      val idCol: String = "id",
      val staticHint: Option[String] = None,
      val distinctPerDoc: Boolean = false) {

    /** The index value served from the committed legs `done`. */
    def serve(r: Root, done: Seq[Long]): I

    /** The committed batch ids a serve needs: at least one. */
    def committed(r: Root): Seq[Long] = requireCommitted(r.fs, r.dir, what)

    /** Runs once a batch has committed, with every committed id. */
    def afterCommit(r: Root, committed: Seq[Long]): Unit = ()

    /** Writes one member frame into a leg dir (mode overwrite, so a
      * pre-marker crash replays cleanly).
      */
    def write(df: DataFrame, p: Path): Unit = df.write.mode("overwrite").parquet(p.toString)

    /** Reads one member leg dir, when it exists. */
    def readLeg(r: Root)(p: Path): Option[DataFrame] =
      if (r.fs.exists(p)) Some(Parquet.read(r.spark, p.toString)) else None

    /** Member `m`'s compaction merge into `numFiles` files: by default a
      * plain concat of per-document rows with no global state.
      */
    def merge(r: Root, m: MemberLayout, numFiles: Int): (Seq[String], String) => Unit =
      (ins, out) => Parquet.read(r.spark, ins: _*).select(m.cols.map(col): _*)
        .repartition(numFiles)
        .write.mode("overwrite").parquet(out)

    /** The index's own check before a compaction. */
    def beforeCompact(r: Root): Unit = ()

    /** The index's own step before an erase probes, under the lease. */
    def beforeErase(r: Root, done: Seq[Long]): Unit = ()

    /** The rows the erase probes: the probe member's live legs, key only. */
    def probeRows(r: Root, done: Seq[Long]): DataFrame =
      Parquet.read(r.spark,
          members.last.legs(r.fs, r.dir, done).filter(r.fs.exists).map(_.toString): _*)
        .select(idCol)

    /** Removes the victim keys `k` from every victim-bearing leg, given
      * as the probe's (leg, n_before, n_erased).
      */
    def rewrite(r: Root, done: Seq[Long], affected: Seq[(String, Long, Long)], k: DataFrame): Unit =
      rewriteLegs(r, affected.map(_._1), k)(_ => write)

    /** The shared per-leg erase rewrite: each member's copy of every
      * `legs` dir is read with [[readLeg]], anti-joined against the
      * victim `keys` on `idCol`, and written with `write(live)` into the
      * member's [[StagedSwap]] staging dir; once all of a member's legs
      * are staged (concurrently — legs are disjoint dirs, guide §2.6),
      * [[StagedSwap.publish]] swaps them in. Members go in `members`
      * order, the probe member LAST, so a crash anywhere leaves every
      * unfinished leg's probe-member copy live and victim-bearing (a leg
      * whose live dir sits in backup is restored by [[recoverLegs]]
      * first), and the rerun's probe finishes it.
      */
    final def rewriteLegs(r: Root, legs: Seq[String], keys: DataFrame)(
        write: Path => (DataFrame, Path) => Unit): Unit =
      members.foreach { m =>
        val staging = StagedSwap.staging(m.parent(r.dir))
        val staged = Concurrent.awaitAll(legs.map { leg => () =>
          val live = new Path(r.dir, m.rel(leg))
          readLeg(r)(live).map { df =>
            write(live)(df.join(keys, Seq(idCol), "left_anti")
              .select(df.columns.map(col).toIndexedSeq: _*), new Path(staging, leg))
            leg
          }
        }).flatten
        StagedSwap.publish(r.fs, m.parent(r.dir), staged)
      }

    /** The per-leg erase ledger (batch_id, n_before, n_after, n_erased): a
      * batch leg reports its batch id, the compacted generation its gen
      * id (the highest batch id folded into it).
      */
    def ledger(spark: SparkSession, affected: Seq[(String, Long, Long)]): DataFrame = {
      import spark.implicits._
      affected.map { case (leg, before, erased) =>
        (leg.filter(_.isDigit).toLong, before, before - erased, erased)
      }.toDF("batch_id", "n_before", "n_after", "n_erased")
    }
  }

  /** MAINTAIN: refuse a root holding a static index of this type, build
    * the run's encode (`encoder` runs the index's own preconditions), then
    * one [[runBatchCommitted]] run in which every micro-batch is encoded
    * and its member frames (each into its member's batch dir) and side
    * artifacts are written concurrently before the marker. Returns the
    * maintained index ([[read]]).
    */
  private[streaming] def maintain[I](
      c: IndexCodec[I],
      spark: SparkSession,
      indexPath: String,
      srcPath: String,
      checkpointPath: String,
      maxFilesPerTrigger: Int)(
      encoder: Root => Encode): I = {
    val r = new Root(spark, indexPath)
    c.staticHint.foreach(assertMaintainerOwnsLayout(r.fs, r.dir, c.members, c.what, _))
    val encode = encoder(r)
    runBatchCommitted(spark, srcPath, indexPath, checkpointPath, c.what,
      maxFilesPerTrigger) { (batch, batchId, done) =>
      val e = encode(batch, batchId, done)
      Concurrent.awaitAll(e.frames.map { case (m, df) =>
        () => c.write(df, m.batchPath(r.dir, batchId)) } ++ e.side)
    }(c.afterCommit(r, _))
    read(c, spark, indexPath)
  }

  /** READ: the index served from its committed legs. */
  private[streaming] def read[I](c: IndexCodec[I], spark: SparkSession, indexPath: String): I = {
    val r = new Root(spark, indexPath)
    c.serve(r, c.committed(r))
  }

  /** ERASE, under the root's mutator lease: a single key column, an
    * interrupted erase's leg swaps recovered ([[recoverLegs]]), at least
    * one committed batch, and a crashed compaction's sweep finished first
    * — superseded dirs are invisible to readers but still hold victim
    * BYTES, and an erase that left them would attest an erasure that
    * physically did not happen. Then the index's own step, ONE
    * single-pass probe over the probe rows with the distinct victim keys
    * materialized once, the rewrite of the victim-bearing legs only, and
    * the per-leg ledger. Untouched legs are never opened; work is
    * O(probe scan + affected legs), no rebuild.
    */
  private[streaming] def erase[I](
      c: IndexCodec[I],
      spark: SparkSession,
      indexPath: String,
      ids: DataFrame): DataFrame = {
    require(ids.columns.length == 1,
      s"ids must be a single key column, got ${ids.columns.toSeq}")
    val r = new Root(spark, indexPath)
    withRootLease(r.conf, r.fs, r.dir, c.what, "eraser") {
      recoverLegs(c, r)
      val done = requireCommitted(r.fs, r.dir, c.what)
      c.members.foreach(_.sweepSuperseded(r.fs, r.dir))
      val k = distinctKeys(ids.toDF(c.idCol))
      c.beforeErase(r, done)
      val affected = victimLegProbe(c.probeRows(r, done), k, c.idCol, c.distinctPerDoc)
      if (affected.nonEmpty) c.rewrite(r, done, affected, k)
      c.ledger(spark, affected)
    }
  }

  /** The distinct victim keys, materialized once. A local batch (a
    * driver-built request list: its optimized plan is a `LocalRelation`)
    * collects with no Spark job and is deduplicated on the driver; a
    * distributed one pays a distinct and a checkpoint.
    */
  private def distinctKeys(ids: DataFrame): DataFrame =
    if (ids.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      ids.sparkSession.createDataFrame(
        java.util.Arrays.asList(ids.collect().distinct: _*), ids.schema)
    else ids.distinct().localCheckpoint()

  /** COMPACT, under the root's mutator lease, after the index's own
    * check and the recovery of an interrupted erase's leg swaps
    * ([[recoverLegs]]: a leg whose live dir sits in backup would be left
    * out of the merge): merge the previous compacted generation (if any)
    * and every committed batch dir into ONE `compact_<newGen>` dir per member
    * (newGen = the highest committed batch id, `merge(inputDirs, outDir)`
    * in that member's serving layout; it may decline to write when every
    * input is empty, which readers tolerate), committed by a single
    * `_compacted_<newGen>` marker written LAST, then sweep the superseded
    * dirs. Without compaction, serve-plan union width and erase-probe
    * cost grow one leg per committed batch forever (10⁴–10⁵ dirs at
    * production micro-batch cadence).
    *
    * Crash-safe at every point: a crash before the marker leaves
    * half-written compact dirs no reader resolves (and a re-run
    * overwrites or sweeps them); a crash after the marker but before the
    * sweep leaves superseded batch dirs that readers already ignore
    * (legs() excludes ids ≤ the generation) and the next compaction
    * removes. The `_committed_<id>` markers are NEVER removed: a replay
    * of a pre-compaction batch id must stay a no-op (and its recorded
    * file signature stays checkable). Returns the committed generation
    * id.
    */
  private[streaming] def compact[I](
      c: IndexCodec[I],
      spark: SparkSession,
      indexPath: String,
      numFiles: Int): Long = {
    require(numFiles >= 1, s"numFiles must be >= 1: $numFiles")
    val r = new Root(spark, indexPath)
    c.beforeCompact(r)
    val (fs, root) = (r.fs, r.dir)
    withRootLease(r.conf, fs, root, c.what, "compactor") {
      recoverLegs(c, r)
      val done = requireCommitted(fs, root, c.what)
      // superseded or half-written older generations, then older markers
      def sweep(gen: Long): Unit = {
        c.members.foreach(_.sweepSuperseded(fs, root))
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
        Concurrent.awaitAll(c.members.map { m => () =>
          val inputs = m.legs(fs, root, done).filter(fs.exists)
          if (inputs.nonEmpty)
            c.merge(r, m, numFiles)(inputs.map(_.toString), m.compactPath(root, newGen).toString)
        })
        // ONE commit point covers every member's merged generation
        writeUtf8(fs, new Path(root, s"$CompactedPrefix$newGen"),
          s"merged=${done.mkString(",")}")
        sweep(newGen)
        newGen
      }
    }
  }

  /** The number of committed batch dirs NEWER than the compacted
    * generation — the per-member serve-plan fan-out (and erase-probe leg
    * count) the next compaction would fold away.
    */
  private[streaming] def tailBatches(spark: SparkSession, indexPath: String): Int = {
    val r = new Root(spark, indexPath)
    val gen = compactedGenId(r.fs, r.dir)
    committedBatchIds(r.fs, r.dir).count(id => gen.forall(id > _))
  }
}
