package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The public surface of the stream-maintained index roots and the
  * stream analytics ([[StreamAnalytics]], mixed in): the exclusive mutator
  * lease every maintained-root mutator runs under, and the entry points of
  * the four maintained indexes (bm25, minhash, simjoin, ivfpq), each a
  * delegation to a generic operation of [[MaintainedRoot]] over the
  * index's codec ([[IndexCodecs]]). IVF-PQ's model rebuild and drift
  * check are that index's own code ([[IvfPqRebuild]], mixed in).
  */
object Incremental extends StreamAnalytics with IvfPqRebuild {
  import MaintainedRoot._

  /** EXCLUSIVE MUTATOR LEASE on a maintained index root. Every mutator —
    * a [[MaintainedRoot.runBatchCommitted]] maintainer run, a compaction,
    * an erase, a model rebuild's multi-pass read — runs under this fence:
    * the `_graft_lease` marker is created atomically (NIO `O_EXCL` create on
    * local paths — Hadoop's local create-without-overwrite is a
    * non-atomic exists-then-create — and the atomic namespace create on
    * HDFS-class stores; object stores without atomic create need an
    * external lock service), so when two
    * mutators interleave the LOSER FAILS LOUDLY before touching a byte —
    * instead of, say, a compaction sweeping a batch dir whose erase
    * rewrite then lands nowhere (victims silently resurfacing) or a
    * maintainer's mid-commit batch dir being merged half-written. The
    * former "caller contract: the maintainer is not running during
    * compaction" is now ENFORCED, not assumed. An exception inside the
    * body releases the lease (the mutation stopped; every mutator is
    * crash-idempotent, so the re-run completes the interrupted work); a
    * hard crash leaves the lease behind BY DESIGN — fail-safe — and the
    * operator, having confirmed the holder is dead, clears it with
    * [[breakRootLease]].
    */
  // private[streaming]: the non-atomic-create shim spec drives the
  // object-store branch directly (no public mutator takes a mockfs root)
  private[streaming] def withRootLease[T](
      conf: org.apache.hadoop.conf.Configuration,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      what: String,
      holder: String)(body: => T): T = {
    val lease = new org.apache.hadoop.fs.Path(root, LeaseName)
    val token = s"holder=$holder pid=${ProcessHandle.current().pid()} " +
      s"nonce=${java.util.UUID.randomUUID()}"
    def leasedError(e: Exception): Nothing = {
      val held =
        try readUtf8(conf, lease).trim
        catch { case _: Exception => "holder unreadable" }
      throw new IllegalStateException(
        s"$what at $root is LEASED by a concurrent mutator ($held): " +
          "maintain/compact/erase/rebuild must not interleave on one " +
          "root — wait for the holder, or if it crashed, clear the " +
          "lease with Incremental.breakRootLease (every mutator is " +
          "crash-idempotent, so the re-run completes its work)", e)
    }
    try {
      val scheme = Option(fs.makeQualified(lease).toUri.getScheme).getOrElse("file")
      if (scheme == "file") {
        // local filesystems: Hadoop's create(overwrite=false) is a
        // non-atomic exists-check-then-create — use NIO's O_EXCL create
        // (token written after; the CREATE is the lock)
        val p = java.nio.file.Paths.get(
          fs.makeQualified(lease).toUri.getPath)
        java.nio.file.Files.createFile(p)
        // a failure AFTER the atomic create must not orphan an empty
        // lease that blocks every future mutator (the HDFS branch's
        // convention): delete the just-created file and rethrow
        try java.nio.file.Files.writeString(p, token)
        catch { case e: Throwable =>
          java.nio.file.Files.deleteIfExists(p); throw e }
      } else if (leaseObjectStoreSchemes(conf).contains(scheme) &&
          !leaseConditionalCreate(conf, scheme)) {
        // object stores WITHOUT an atomic create-no-overwrite (S3-class:
        // create may be a HEAD-then-PUT, and a plain PUT overwrites):
        // explicit exists-check (some connectors skip even the HEAD),
        // then create, then READ-BACK-VERIFY — every contender writes its
        // own unique token, and only the contender whose token is stored
        // proceeds; a settle re-read narrows the last-writer-overwrite
        // window. RESIDUAL RACE, documented: two contenders whose
        // exists-to-PUT windows overlap can both pass when the second PUT
        // lands after the first's settle re-read — only a true
        // conditional put closes it (S3 If-None-Match). Connectors that
        // ADVERTISE the conditional put (see [[leaseConditionalCreate]])
        // are routed to the atomic branch below instead, where the create
        // itself is the decision and this verify never runs.
        if (fs.exists(lease)) leasedError(
          new org.apache.hadoop.fs.FileAlreadyExistsException(lease.toString))
        writeTokenOrCleanUp(fs, lease, token, guardedCleanup = true)
        // the loser must NOT delete here: the stored token is the winner's
        def verifyHeld(): Unit = {
          val held = try readUtf8(conf, lease).trim
                     catch { case _: Exception => "" }
          if (held != token) leasedError(
            new org.apache.hadoop.fs.FileAlreadyExistsException(
              s"read-back-verify lost the lease race at $lease"))
        }
        verifyHeld()
        Thread.sleep(conf.getLong("graft.lease.settle.ms", 100L))
        verifyHeld()
      } else {
        // HDFS-class stores — and object stores whose connector advertises
        // an ATOMIC create-no-overwrite (Hadoop 3.4.1+ S3 If-None-Match):
        // the create itself decides the race; exactly one contender's
        // create succeeds, so no exists-check or read-back-verify is
        // needed and the residual overlapping-PUT window does not exist
        writeTokenOrCleanUp(fs, lease, token)
      }
    } catch {
      // only already-exists means "someone holds it" — other IO failures
      // (permissions, read-only store) surface as themselves
      case e: org.apache.hadoop.fs.FileAlreadyExistsException => leasedError(e)
      case e: java.nio.file.FileAlreadyExistsException => leasedError(e)
    }
    try body finally fs.delete(lease, false)
  }

  /** Create `lease` (no-overwrite) and write `token` — with close()
    * INSIDE the guarded region: on object stores the close IS the PUT
    * (write only buffers), and on HDFS it performs the flush, so a
    * close-time failure could otherwise orphan a created-but-dead lease
    * that blocks every future mutator. On any failure: best-effort close,
    * best-effort delete of the just-created lease, rethrow the ORIGINAL
    * exception.
    */
  private def writeTokenOrCleanUp(
      fs: org.apache.hadoop.fs.FileSystem,
      lease: org.apache.hadoop.fs.Path,
      token: String,
      guardedCleanup: Boolean = false): Unit = {
    val out = fs.create(lease, false)
    var closed = false
    try { out.write(token.getBytes("UTF-8")); out.close(); closed = true }
    catch { case e: Throwable =>
      if (!closed) { try out.close() catch { case _: Throwable => () } }
      // Guarded mode (the silently-overwriting object-store branch): a
      // concurrent winner's PUT may have landed between this contender's
      // failed PUT and now, so an unconditional delete could evict the
      // WINNER's lease and let a third mutator acquire alongside it.
      // Delete only when the stored token is OURS (our PUT landed despite
      // the close-time failure); anything else — another holder's token,
      // or an unreadable/partial object — is left in place for the
      // operator's breakRootLease, the documented orphan path. Atomic
      // branches (local O_EXCL, HDFS-class, conditional create) keep the
      // unconditional delete: there the created object is provably ours.
      val ours = !guardedCleanup || {
        try {
          val in = fs.open(lease)
          try new String(in.readAllBytes(), "UTF-8").trim == token
          finally in.close()
        } catch { case _: Throwable => false }
      }
      if (ours) { try fs.delete(lease, false) catch { case _: Throwable => () } }
      throw e
    }
  }

  private val LeaseName = "_graft_lease"

  /** Schemes [[withRootLease]] treats as S3-class object stores (no
    * atomic create-no-overwrite). Extensible without a rebuild via the
    * Hadoop conf key `graft.lease.objectstore.schemes` (comma-separated)
    * — also the test seam for the non-atomic-create shim spec. Schemes
    * in neither this set nor {file} take the HDFS-class branch (atomic
    * namespace create). private[streaming]: LeaseSpec pins the dispatch.
    */
  private[streaming] def leaseObjectStoreSchemes(
      conf: org.apache.hadoop.conf.Configuration): Set[String] =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs",
        "oss", "cos", "cosn", "swift") ++
      conf.getTrimmedStrings("graft.lease.objectstore.schemes").toSet

  /** Whether `scheme`'s connector advertises an ATOMIC
    * create-no-overwrite, closing the object-store branch's residual
    * overlapping-PUT race end-to-end: Hadoop 3.4.1+'s s3a exposes the S3
    * If-None-Match conditional put behind
    * `fs.s3a.create.conditional.enabled` (create(overwrite=false) then
    * throws atomically). Such schemes take [[withRootLease]]'s atomic
    * branch — no exists-check, no read-back-verify, no settle. Other
    * connectors with the same guarantee opt in via the conf key
    * `graft.lease.conditional.schemes` (comma-separated) — also the test
    * seam for the conditional-store shim spec.
    */
  private[streaming] def leaseConditionalCreate(
      conf: org.apache.hadoop.conf.Configuration, scheme: String): Boolean =
    (scheme == "s3a" &&
      conf.getBoolean("fs.s3a.create.conditional.enabled", false)) ||
      conf.getTrimmedStrings("graft.lease.conditional.schemes").toSet
        .contains(scheme)

  /** Clear a crashed mutator's root lease — the OPERATOR's break-glass
    * step after confirming the recorded holder is dead (see
    * [[withRootLease]]). Returns true when a lease was present.
    */
  def breakRootLease(spark: SparkSession, indexPath: String): Boolean = {
    val lease = new org.apache.hadoop.fs.Path(indexPath, LeaseName)
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(lease, false)
  }

  /** Compact a [[streamBm25Maintain]]ed root: merge every committed
    * postings batch dir into one term-range-partitioned generation (the
    * layout of the generation [[graft.ops.Bm25Index.write]] writes, so
    * serve-time term pushdown skips files by footer stats across the
    * WHOLE compacted corpus, not per tiny batch dir). The df/stats snapshots already roll
    * forward wholesale and are untouched. Serves byte-identically before
    * and after (the declared `stream_bm25_compact` query shares the
    * maintained serve's oracle).
    */
  def compactBm25Maintained(spark: SparkSession, indexPath: String, numFiles: Int = 8): Long =
    compact(IndexCodecs.Bm25, spark, indexPath, numFiles)

  /** Compact a [[streamMinHashMaintain]]ed root (buckets + sets concat —
    * both members are per-document rows with no global state).
    */
  def compactMinHashMaintained(spark: SparkSession, indexPath: String, numFiles: Int = 8): Long =
    compact(IndexCodecs.MinHash, spark, indexPath, numFiles)

  /** Compact a [[streamSimJoinMaintain]]ed root: prefixes re-cluster by
    * shingle hash (the layout of the generation
    * [[graft.ops.SimJoinIndex.write]] writes — serve probes read
    * co-located posting lists), sets concat; the frozen `freq` model
    * stays as built.
    */
  def compactSimJoinMaintained(spark: SparkSession, indexPath: String, numFiles: Int = 8): Long =
    compact(IndexCodecs.SimJoin, spark, indexPath, numFiles)

  /** Compact a [[streamIvfPqMaintain]]ed root: merge the written
    * generation and every committed `lists_batch_<id>` dir into one
    * cluster-partitioned `lists_compact_<gen>` dir (one read PER input
    * dir — the CONFLICTING_DIRECTORY_STRUCTURES constraint from
    * [[readIvfPqMaintained]] — then one partitioned write), shrinking the
    * serve union from one leg per batch to ONE compacted leg + tail. The
    * frozen model is untouched; the model-generation stamp is asserted
    * first.
    */
  def compactIvfPqMaintained(spark: SparkSession, indexPath: String): Long =
    compact(IndexCodecs.IvfPq, spark, indexPath, numFiles = 1)

  /** The number of committed batch dirs NEWER than the compacted
    * generation — i.e. the per-member serve-plan fan-out (and erase-probe
    * leg count) the next compaction would fold away. The cadence signal
    * for [[compactIfStale]].
    */
  def maintainedTailBatches(spark: SparkSession, indexPath: String): Int =
    tailBatches(spark, indexPath)

  /** Compaction POLICY gate: run `compact` iff the uncompacted tail
    * exceeds `maxTailBatches` — the one knob a production maintainer
    * calls right after its maintainer run so
    * serve-plan width stays bounded without a separate scheduler:
    * {{{
    * Incremental.streamMinHashMaintain(spark, src, root, ...)
    * Incremental.compactIfStale(spark, root, maxTailBatches = 16)(
    *   Incremental.compactMinHashMaintained(spark, root))
    * }}}
    * Returns the new generation when it compacted, None when the tail is
    * within budget (the common, free case — one marker listing).
    */
  def compactIfStale(
      spark: SparkSession,
      indexPath: String,
      maxTailBatches: Int)(compact: => Long): Option[Long] = {
    require(maxTailBatches >= 1, s"maxTailBatches must be >= 1: $maxTailBatches")
    if (maintainedTailBatches(spark, indexPath) > maxTailBatches) Some(compact)
    else None
  }

  /** Streaming BM25 index maintenance:
    * [[graft.ops.Bm25Index.append]]-semantics applied PER MICRO-BATCH via
    * foreachBatch — the streaming leg that completes the persisted-index
    * lifecycle (build → stream-append → erase → serve). Each batch of
    * NEW documents pays one build pass over ITSELF only:
    *  - its postings land in an append-only `postings/batch_<id>` dir
    *    (term-range partitioned within, so the serve-time term pushdown
    *    still skips files by footer stats — the layout of the generation
    *    [[graft.ops.Bm25Index.write]] writes, per batch);
    *  - the vocabulary-sized df dictionary and the 1-row (n, avgdl)
    *    stats roll forward as batch-stamped snapshots, recombined in the
    *    EXACT closed form append uses — so the maintained index serves
    *    identically to a rebuild on everything ingested (asserted in
    *    IncrementalSpec; the declared `stream_index_maintain` query
    *    shares `text_bm25_persisted`'s oracle).
    * Per-trigger work is O(|batch| + |vocab|): corpus-sized postings are
    * never rewritten — unlike [[streamRollupMaintain]], whose whole
    * state is group-bounded and can snapshot wholesale.
    *
    * Exactly-once across at-least-once foreachBatch replays: the three
    * per-batch artifacts (postings dir, terms snapshot, stats snapshot)
    * commit under ONE `_committed_<batchId>` marker written LAST — a
    * replayed committed batch skips entirely; a crash anywhere earlier
    * leaves no marker, and the replay rewrites the same deterministic
    * artifacts (mode overwrite). The [[streamRollupMaintain]]
    * RUN-IDENTITY GUARD applies unchanged: the index root carries the
    * maintaining query's id, and a fresh checkpoint (batch ids
    * restarting at 0) fails loudly instead of silently skipping live
    * batches as replays. Superseded df/stats snapshots are retired
    * (latest two kept); postings batch dirs ARE the data and all stay
    * live.
    *
    * Doc-id disjointness across batches is the caller's contract, as in
    * [[graft.ops.Bm25Index.append]]. Returns the maintained index
    * ([[readBm25Maintained]]) for serving.
    */
  def streamBm25Maintain(spark: SparkSession, srcPath: String, indexPath: String,
      idCol: String, textCol: String, checkpointPath: String = null,
      maxFilesPerTrigger: Int = 0, postingsFilesPerBatch: Int = 2): graft.ops.Bm25Index =
    maintain(IndexCodecs.Bm25, spark, indexPath, srcPath, checkpointPath, maxFilesPerTrigger)(
      IndexCodecs.Bm25.encoder(_, idCol, textCol, postingsFilesPerBatch))

  /** Read the [[streamBm25Maintain]]ed index: its compacted (or
    * written) generation and every later committed postings batch dir,
    * plus the LATEST committed df/stats snapshots — what
    * [[graft.ops.Bm25Index.read]] also serves. Term pushdown prunes
    * across all legs' files alike (footer stats are per-file, not
    * per-layout).
    */
  def readBm25Maintained(spark: SparkSession, indexPath: String): graft.ops.Bm25Index =
    read(IndexCodecs.Bm25, spark, indexPath)

  /** Subject ERASURE on a [[streamBm25Maintain]]ed root — with
    * [[eraseIvfPqMaintained]] this completes the 4×2 maintain×erase
    * matrix. Postings rewrite only in victim-BEARING legs (one
    * single-pass probe, then keys-only anti-joins); the vocab-sized df
    * dictionary and the 1-row (n, avgdl) stats roll BACK once in the
    * static [[graft.ops.Bm25Index.erase]] closed form against the LATEST
    * snapshot — applied once per erase, never per batch, never a corpus
    * rescan.
    *
    * Unlike the stat-free MinHash/SimJoin erases, TWO artifact families
    * must stay consistent across crashes (postings dirs and the snapshot
    * algebra — subtraction is not re-detectable, so the
    * probe-member-last trick alone cannot make it idempotent). The erase
    * therefore JOURNALS the victims' posting rows first
    * (`_erase_pending`, a committed parquet dir): a re-run FINISHES a
    * crashed erase from the journal — rewrites any legs still bearing
    * the journal's victims, applies the snapshot subtraction exactly
    * once (the adjusted pair lands under a NEW erase generation
    * `…_snap_<id>_e<g>`, stats first, terms last, so "already applied"
    * is a visible commit, never an in-place overwrite of the state the
    * subtraction reads) — then deletes the journal and starts on the new
    * ids. Readers, the maintainer and compaction refuse a root with a
    * pending journal.
    *
    * Work: two postings-member passes (ledger counts + victim-row
    * capture; the roll-back inherently needs the victims' rows) plus one
    * anti-join per affected leg — O(postings scan + affected legs), no
    * corpus text, no rebuild. Contract: every erased id carries ≥ 1
    * posting (the [[graft.ops.Bm25Index.erase]] no-token caveat).
    * Returns the per-leg ledger (batch_id, n_before, n_after, n_erased)
    * in DISTINCT DOCS over the postings member.
    */
  def eraseBm25Maintained(spark: SparkSession, indexPath: String, ids: DataFrame): DataFrame =
    erase(IndexCodecs.Bm25, spark, indexPath, ids)

  /** Streaming MinHash-LSH index maintenance — [[streamBm25Maintain]]'s
    * machinery applied to the dedup
    * index, whose state is EVEN simpler: both members (buckets, sets) are
    * per-document rows with no corpus-level statistics, so each
    * micro-batch is a pure map-side encode into append-only
    * `buckets/batch_<id>` + `sets/batch_<id>` dirs — no snapshots to roll
    * forward, nothing to retire. Signatures are content-deterministic
    * hashes, so the maintained index QUERIES identically to a rebuild on
    * everything ingested (the declared `stream_minhash_maintain` query
    * shares the static-index serve's oracle). Shape parameters live in the standard
    * sidecar, written on the first run and REQUIRED equal on every later
    * run — appending under different (k, bands, rows) would silently mix
    * incomparable signatures.
    */
  def streamMinHashMaintain(spark: SparkSession, srcPath: String, indexPath: String,
      idCol: String, textCol: String, shingleK: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 4, checkpointPath: String = null,
      maxFilesPerTrigger: Int = 0): graft.ops.MinHashIndex =
    maintain(IndexCodecs.MinHash, spark, indexPath, srcPath, checkpointPath, maxFilesPerTrigger)(
      IndexCodecs.MinHash.encoder(_, idCol, textCol, shingleK, bands, rowsPerBand))

  /** Read the [[streamMinHashMaintain]]ed index: the compacted (or
    * written) generation and every later committed batch dir pair, shape
    * parameters from the sidecar.
    */
  def readMinHashMaintained(spark: SparkSession, indexPath: String): graft.ops.MinHashIndex =
    read(IndexCodecs.MinHash, spark, indexPath)

  /** Subject ERASURE on a [[streamMinHashMaintain]]ed root — the GDPR
    * leg for the MAINTAINED artifact (the static-index
    * [[graft.ops.MinHashIndex.erase]] returns new frames; a maintained
    * root's state lives in committed batch dirs, so forgetting a subject
    * means REWRITING exactly the dirs that contain it). Per committed
    * batch: one keys-only membership probe; affected dirs rewrite
    * buckets+sets through an anti-join into a staging dir swapped in
    * afterwards (the rewrite never reads its own output),
    * untouched dirs are never opened. Work is O(affected dirs ×
    * anti-join), no corpus scan, no rebuild, and committed-replay safety
    * is preserved: the dirs stay committed, so no replay of a COMMITTED
    * batch can resurrect the erased rows.
    *
    * Scope: erasure covers COMMITTED batches of this root. The SOURCE
    * stream is a separate artifact — if it still contains the victims, a
    * pending (uncommitted) batch replay or any future ingest re-adds
    * them, exactly as appending a victim-bearing delta to a static index
    * would. A compliance pipeline quiesces the maintainer and erases the
    * source alongside (the `e2e_forget_me` composition), then erases the
    * index.
    *
    * Partial-failure window (the [[graft.etl.FileLoads.erasePartitioned]]
    * contract): a crash between two dir swaps leaves the erase
    * incomplete with no ledger — the operation is IDEMPOTENT (an
    * interrupted swap is recovered, remaining victims are re-detected),
    * so a failed run must be re-run to completion before the erasure is
    * attested. Returns the per-batch
    * ledger (batch_id, n_before, n_after, n_erased) over the SETS member
    * (one row per doc).
    */
  def eraseMinHashMaintained(spark: SparkSession, indexPath: String, ids: DataFrame): DataFrame =
    erase(IndexCodecs.MinHash, spark, indexPath, ids)

  /** Streaming prefix-filter similarity-index maintenance —
    * The batch-commit protocol applied to
    * [[graft.ops.SimJoinIndex]]. The FIRST batch freezes the model: its
    * shingle document frequencies become the rarity total order (written
    * once to `freq/`), exactly as
    * the batch [[graft.ops.SimJoinIndex.append]] freezes the build-time
    * order — later batches' unseen shingles take df 0 and sort first.
    * Each micro-batch then pays one shingle pass over ITSELF into
    * append-only `prefixes/batch_<id>` + `sets/batch_<id>` dirs. The
    * frozen order affects only PRUNING quality (posting-list lengths),
    * never the pair set — prefix completeness needs only a common total
    * order and the verify is exact — so the maintained index serves the
    * EXACT bipartite pair set (the declared `stream_simjoin_maintain`
    * query shares `simjoin_incremental`'s full-corpus oracle); a
    * production deployment refreezes (rebuilds) on a slow cadence like
    * the IVF-PQ model. Shape parameters live in the standard sidecar,
    * written with the frozen order and REQUIRED equal on later runs.
    */
  def streamSimJoinMaintain(spark: SparkSession, srcPath: String, indexPath: String,
      idCol: String, textCol: String, shingleK: Int = 3, threshold: Double = 0.5,
      checkpointPath: String = null, maxFilesPerTrigger: Int = 0): graft.ops.SimJoinIndex =
    maintain(IndexCodecs.SimJoin, spark, indexPath, srcPath, checkpointPath, maxFilesPerTrigger)(
      IndexCodecs.SimJoin.encoder(_, idCol, textCol, shingleK, threshold))

  /** Read the [[streamSimJoinMaintain]]ed index: the frozen df table plus
    * every committed batch dir pair.
    */
  def readSimJoinMaintained(spark: SparkSession, indexPath: String): graft.ops.SimJoinIndex =
    read(IndexCodecs.SimJoin, spark, indexPath)

  /** [[eraseMinHashMaintained]] for a [[streamSimJoinMaintain]]ed root —
    * identical shape: both members are per-document rows with no global
    * state to adjust (the frozen rarity order is MODEL state and stays,
    * exactly like [[graft.ops.SimJoinIndex.erase]] on the static index —
    * the served pair set still equals a rebuild on the retained corpus).
    * Declared as `stream_simjoin_erase`.
    */
  def eraseSimJoinMaintained(spark: SparkSession, indexPath: String, ids: DataFrame): DataFrame =
    erase(IndexCodecs.SimJoin, spark, indexPath, ids)

  /** Streaming IVF-PQ index maintenance —
    * The batch-commit protocol applied to the vector index. The
    * FROZEN model is the contract
    * ([[graft.ops.IvfPqIndex.append]]: no retraining; production rebuilds
    * on a slow cadence while appending fast): `indexPath` must already
    * hold a [[graft.ops.IvfPqIndex.write]]-written index (model sidecar
    * + the written lists generation), and each micro-batch encodes
    * through that model —
    * ONE map-side pass over the batch — into an append-only
    * `lists_batch_<id>` dir (cluster-partitioned like the written one, so
    * serve-time cluster probes prune files in every batch dir alike).
    * Exactly-once and run-identity exactly as [[streamBm25Maintain]].
    * Encoding is deterministic, so the maintained index serves
    * IDENTICALLY to the batch [[graft.ops.IvfPqIndex.append]] on the same
    * delta — the declared `stream_knn_maintain` query shares
    * `knn_index_append`'s pinned oracle.
    */
  def streamIvfPqMaintain(spark: SparkSession, srcPath: String, indexPath: String,
      idCol: String, vecCol: String, checkpointPath: String = null,
      maxFilesPerTrigger: Int = 0): graft.ops.IvfPqIndex =
    maintain(IndexCodecs.IvfPq, spark, indexPath, srcPath, checkpointPath, maxFilesPerTrigger)(
      IndexCodecs.IvfPq.encoder(_, idCol, vecCol))

  /** Read the [[streamIvfPqMaintain]]ed index: the persisted model, the
    * compacted (or written) lists generation and every later committed
    * batch-list dir.
    */
  def readIvfPqMaintained(spark: SparkSession, indexPath: String): graft.ops.IvfPqIndex =
    read(IndexCodecs.IvfPq, spark, indexPath)

  /** Subject ERASURE on a [[streamIvfPqMaintain]]ed root: the frozen-model
    * [[graft.ops.IvfPqIndex.erase]] applied dir-wise — one keys-only
    * anti-join per victim-BEARING lists dir, found by ONE single-pass
    * probe across the compacted or written generation (victims may
    * predate the stream) and the tail batch dirs. The model is frozen
    * state and stays (erase never retrains — erased ids can never
    * resurface because candidates come only from the lists); there is no
    * corpus-level statistic to roll back, so the per-dir rewrite is
    * idempotent by re-detection like the MinHash/SimJoin erases (no
    * journal needed). Rewritten dirs keep the cluster-partitioned serving
    * layout; a dir that lost ALL rows rewrites to a plain schema-bearing
    * empty file (readable, served as absent). Returns the per-leg ledger
    * (leg, n_before, n_after, n_erased) — `leg` names the dir
    * ("lists_batch_<id>", "lists_compact_<gen>"; the written generation
    * is "lists_compact_-1").
    */
  def eraseIvfPqMaintained(spark: SparkSession, indexPath: String, ids: DataFrame): DataFrame =
    erase(IndexCodecs.IvfPq, spark, indexPath, ids)
}
