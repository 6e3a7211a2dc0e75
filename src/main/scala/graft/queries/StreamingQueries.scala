package graft.queries

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.PinnedOracles
import graft.etl.{FileLoads, Loads, Sanitize, Tables, Windows}
import graft.ops.{Bpe, Dedup, Multimodal, Pca, Similarity, TextAnalysis}
import graft.schema.Ddl
import graft.queries.Fixtures._
import graft.queries.OracleCtes._

/** Structured Streaming jobs (SURVEY.md §2.9): incremental windowed
  * aggregation, dedup, sessionization, interval joins, drift monitoring.
  *
  * One registry slice of [[graft.SparkEntry]] (split r14 — the single
  * 6.6k-line file was the bottleneck): `queries` feeds the driver's
  * Verify/Bench maps, `oracles` the DuckDB compare. Keys and bodies are
  * unchanged from the pre-split registry.
  */
object StreamingQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // L8 in STREAMING: each micro-batch of raw facts partial-aggregates
    // and merges into the parquet rollup via foreachBatch — the
    // continuously-maintained materialized view, O(|batch| + |rollup|)
    // per trigger. Shares l8_merge_aggregate's full-recompute oracle, so
    // the record states streaming ≡ batch-incremental ≡ from-scratch.
    "stream_rollup_maintain" -> ((s, dir) => {
      val rollup = java.nio.file.Files
        .createTempDirectory("graft_rollup").toString
      graft.streaming.Incremental.streamRollupMaintain(
          s, s"$dir/lineitem.parquet", rollup,
          Seq("l_returnflag"),
          Seq(Loads.AggSpec("l_quantity", "sum"),
            Loads.AggSpec("l_extendedprice", "min"),
            Loads.AggSpec("l_shipdate", "max")), "n", null,
          snapshotPartitions = 1)
        .select(col("l_returnflag"), col("n"),
          round(col("l_quantity"), 4).as("sum_qty"),
          round(col("l_extendedprice"), 4).as("min_price"),
          col("l_shipdate").as("max_ship"))
        .orderBy("l_returnflag")
    }),


    // Stream-static enrichment: streaming events join the static customer
    // dimension (broadcast, stateless) and count per (7-day event-time
    // window, market segment); watermark-closed via the sentinel harness.
    "stream_enrich_static" -> ((s, dir) =>
      graft.streaming.Incremental.streamEnrichStatic(
          s, s"$dir/events.parquet", "ts", "user_id",
          Tables.customer(s, dir), "c_custkey", "c_mktsegment",
          windowSec = 7L * 86400, watermarkSec = 30L * 86400,
          statePartitions = 8) // state keys = ~5 windows × 5 segments
        .orderBy("window_start", "c_mktsegment")),


    // ---- Streaming (SURVEY.md §2.9): real Structured Streaming job,
    //      AvailableNow micro-batches in APPEND mode to a file sink —
    //      state bounded by the watermark, nothing on the driver (the
    //      complete-mode/memory-sink round-1 form kept as the comparison
    //      baseline in IncrementalSpec); windows are epoch-aligned so the
    //      result is batch/DuckDB-checkable ----
    "stream_window_counts" -> ((s, dir) =>
      graft.streaming.Incremental.windowedCountsAppend(s, s"$dir/lineitem.parquet",
        "l_shipdate", "l_returnflag", "l_quantity",
        windowSec = 30L * 86400, watermarkSec = 30L * 86400,
        statePartitions = 8) // state keys = windows × 3 flags ≈ 75
        .orderBy("window_start", "l_returnflag")),


    // Continuously-maintained drift gate (the Kappa split on the Drift
    // family): daily event-type-mix counts close in append mode
    // (watermark-bounded state), each closed day PSI-scores against the
    // first week's reference profile in a batch pass over the sink.
    // Full DuckDB oracle (epoch-aligned daily windows).
    "stream_drift_monitor" -> ((s, dir) =>
      graft.streaming.Incremental.streamDriftMonitor(
          s, s"$dir/events.parquet", "ts", "event_type", "value",
          refEnd = "2024-01-08",
          statePartitions = 8) // state keys = ~30 days × 5 types
        .orderBy("day")),


    // Streaming trending event types: 7-day windows close in append mode
    // (bounded watermark state), top-3 per CLOSED window ranks in a batch
    // pass over the sink — ranking isn't expressible in append-mode
    // streaming, so the Kappa split serves it from the closed windows.
    // The rank window spans one window's key counts (vocab-bounded).
    "stream_topk_trending" -> ((s, dir) => {
      Tables.events(s, dir) // ensures nanosAsLong is set for the raw read
      graft.streaming.Incremental.streamTopKPerWindow(
        s, s"$dir/events.parquet", "ts", "event_type", "value",
        windowSec = 7L * 86400, watermarkSec = 30L * 86400,
        k = 3, statePartitions = 8) // state keys = ~5 windows × 5 types
        .orderBy("window_start", "rank")
    }),


    // stream-stream interval join: view→purchase attribution within 1 h,
    // both sides watermarked (state bounded by delay + lateness)
    "stream_interval_join" -> ((s, dir) => {
      Tables.events(s, dir) // ensures nanosAsLong is set for the raw stream read
      graft.streaming.Incremental.streamIntervalJoin(
        s, s"$dir/events.parquet", "ts", "user_id", "event_type",
        leftValue = "view", rightValue = "purchase",
        maxDelaySec = 3600, watermarkSec = 7200,
        // state keys = active users in the join horizon. A stream-stream
        // join keeps 4 store instances per partition, so over-provisioning
        // multiplies commit overhead — size to the INPUT, not the shuffle
        // default: ~1 partition per 16 MB of source parquet, clamped to
        // [2, defaultParallelism] (sf0.1 → 2; 100 TB → defaultParallelism).
        statePartitions = statePartitionsFor(s, s"$dir/events.parquet"))
        .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
        .withColumn("user_id", col("user_id").cast("bigint"))
        .orderBy("user_id")
    }),


    // custom-state streaming (flatMapGroupsWithState, event-time timeout,
    // append-mode file sink): same result contract as the batch
    // events_sessionize, so it shares that oracle
    "stream_stateful_sessions" -> ((s, dir) => {
      Tables.events(s, dir) // ensures nanosAsLong is set for the raw stream read
      graft.streaming.Incremental.statefulSessionCounts(
        s, s"$dir/events.parquet", "ts", "user_id", gapUs = 1800L * 1000000,
        statePartitions = statePartitionsFor(s, s"$dir/events.parquet"))
        .orderBy("user_id")
    }),


    // Streaming last-touch attribution (streaming/Incremental
    // .streamingLastTouch): purchases credit the subject's latest touch
    // within 7 days AS THEY ARRIVE — flatMapGroupsWithState whose state
    // is ONE triple per recently-touched subject (event-time timeout at
    // last touch + lookback evicts the rest). The batch equivalent is
    // attribution_last_touch (as-of join), whose channel roll-up and
    // ORACLE this shares — streamed and batch answers are provably the
    // same numbers.
    "stream_attribution" -> ((s, dir) => {
      Tables.events(s, dir) // ensures nanosAsLong is set for the raw stream read
      graft.streaming.Incremental.streamingLastTouch(
          s, s"$dir/events.parquet", lookbackUs = 7L * 86400L * 1000000L,
          statePartitions = statePartitionsFor(s, s"$dir/events.parquet"))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          round(sum("value"), 4).as("attributed_value"))
        .orderBy("channel")
    }),


    // Native session_window streaming aggregation: gap-based dynamic
    // windows merging in the state store (the built-in complement of
    // stream_stateful_sessions' custom flatMapGroupsWithState — same
    // 30-min gap, zero custom state code). One row per CLOSED session;
    // the oracle replays the sessionization as gaps-and-islands SQL.
    "stream_session_window" -> ((s, dir) => {
      Tables.events(s, dir) // ensures nanosAsLong is set for the raw stream read
      graft.streaming.Incremental.sessionWindowCounts(
          s, s"$dir/events.parquet", "ts", "user_id", "value",
          gapSec = 1800L, watermarkSec = 30L * 86400,
          statePartitions = statePartitionsFor(s, s"$dir/events.parquet"))
        .orderBy("user_id", "session_start")
    }),


    // streaming ingest dedup (dropDuplicatesWithinWatermark, append-mode
    // file sink): with a horizon covering the whole fixture span, the kept
    // rows projected to their keys are exactly the distinct keys. WHICH row
    // of a dup group survives is stream-order-dependent, so only the keys
    // are declared — deterministic and oracle-checkable
    "stream_dedup" -> ((s, dir) => {
      Tables.events(s, dir) // ensures nanosAsLong is set for the raw stream read
      graft.streaming.Incremental.streamingDedup(
        s, s"$dir/events.parquet", Seq("user_id", "event_type"), "ts",
        watermark = "3650 days",
        statePartitions = statePartitionsFor(s, s"$dir/events.parquet"))
        .select(col("user_id").cast("bigint").as("user_id"), col("event_type"))
        .orderBy("user_id", "event_type")
    }),


    // streaming benchmark decontamination (stateless codegen'd filter at
    // ingest, append-mode file sink): deterministic, shares the batch
    // decontam_corpus semantics — docs sharing any word 8-gram with the
    // bench set never land in the corpus
    "stream_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.streaming.Incremental.streamingDecontaminate(
        s, s"$dir/documents.parquet", docs.filter(col("doc_id") % 25 === 0),
        "doc_id", "text", n = 8)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),


    // streaming NEAR-dup of an arriving batch against the PERSISTED
    // MinHash index: stream-static (band,bucket) join, exactly-once per
    // pair via the first-shared-band filter — ZERO streaming state, no
    // watermark. Same semantics as dedup_incremental (shares its oracle
    // shape); the corpus is never re-shingled (reads the persisted sets)
    "stream_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("minhash1", dir) { tmp =>
        graft.ops.MinHashIndex.write(
          graft.ops.MinHashIndex.build(docs, "doc_id", "text",
            shingleK = 3, bands = 8, rowsPerBand = 2), tmp)
      }
      graft.streaming.Incremental.streamingNearDedup(
          s, s"$dir/documents.parquet",
          graft.ops.MinHashIndex.read(s, idxDir), "doc_id", "text",
          threshold = 0.8,
          batchTransform = df => df.filter(col("doc_id").between(100, 149))
            .withColumn("doc_id", col("doc_id") + lit(1000000L)))
        .orderBy("batch_id", "corpus_id")
    }),


    // Streaming IVF-PQ index MAINTENANCE (streaming/Incremental
    // .streamIvfPqMaintain): the FROZEN model — base 9/10 of the vectors,
    // trained + written once — stays put while the held-out 1/10 STREAMS
    // in as micro-batches, each a map-side encode through the persisted
    // codebooks into an append-only cluster-partitioned lists_batch dir
    // (exactly-once via the _committed_ markers, run-identity guarded).
    // Encoding is deterministic, so the maintained index serves
    // IDENTICALLY to the batch IvfPqIndex.append on the same delta — the
    // serve SHARES knn_index_append's pinned oracle.
    "stream_knn_maintain" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxDir = ivfpqStreamFixture(s, dir)
      graft.ops.IvfPqIndex.topK(
          graft.streaming.Incremental.readIvfPqMaintained(s, s"$idxDir/index"),
          emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
          k = 3, nprobe = 8)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("q_id", "rank")
    }),


    // Streaming prefix-filter similarity-index MAINTENANCE (streaming/
    // Incremental.streamSimJoinMaintain): the FIRST micro-batch freezes
    // the rarity order (its df table, written once), later batches pay
    // one shingle pass over themselves into append-only batch dirs —
    // the frozen order affects only pruning, never the pair set, so the
    // maintained index serves the EXACT full-corpus bipartite pair set
    // and SHARES simjoin_incremental's oracle.
    "stream_simjoin_maintain" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.SimJoinIndex.pairs(
          graft.streaming.Incremental.readSimJoinMaintained(
            s, s"${simjoinStreamFixture(s, dir)}/index"),
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("batch_id", "corpus_id")
    }),


    // fleet-consistency audit across ALL FOUR stream-maintained roots:
    // each root's served id universe (distinct ids across its compacted
    // generation + tail legs) must equal its base table's — the check a
    // compliance pipeline runs after maintenance/compaction/erase cycles
    // to catch silent index/corpus divergence. Probes the SAME memoized
    // fixture roots the stream_*_maintain serves read; four bounded
    // aggregates, one row per index.
    "maintained_roots_consistency" -> ((s, dir) => {
      val bm25 = graft.streaming.Incremental.readBm25Maintained(
        s, s"${bm25StreamFixture(s, dir)}/index")
      val mh = graft.streaming.Incremental.readMinHashMaintained(
        s, s"${minhashStreamFixture(s, dir)}/index")
      val ivf = graft.streaming.Incremental.readIvfPqMaintained(
        s, s"${ivfpqStreamFixture(s, dir)}/index")
      val sj = graft.streaming.Incremental.readSimJoinMaintained(
        s, s"${simjoinStreamFixture(s, dir)}/index")
      Seq(
        ("bm25", bm25.postings.select(col("id"))),
        ("ivfpq", ivf.lists.select(col("n_id").as("id"))),
        ("minhash", mh.sets.select(col("id"))),
        ("simjoin", sj.sets.select(col("id"))))
        .map { case (name, ids) =>
          ids.agg(countDistinct(col("id")).as("n_ids"))
            .select(lit(name).as("index_name"), col("n_ids"))
        }
        .reduce(_ unionByName _)
        .orderBy("index_name")
    }),


    // COMPACTION on the stream-maintained simjoin root (streaming/
    // Incremental.compactSimJoinMaintained): every committed batch dir
    // merges into ONE hash-clustered generation under the _compacted_
    // marker contract — the serve union stops growing with batch count.
    // Compaction never touches rows or the frozen order, so the compacted
    // root serves the EXACT same pair set and SHARES the maintained
    // serve's oracle.
    "stream_simjoin_compact" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("simjoin_stream_c1", dir) { tmp =>
        docs.filter(col("doc_id") % 5 =!= 0).repartition(3, col("doc_id"))
          .write.parquet(s"$tmp/src")
        graft.streaming.Incremental.streamSimJoinMaintain(
          s, s"$tmp/src", s"$tmp/index", "doc_id", "text",
          shingleK = 3, threshold = 0.5, maxFilesPerTrigger = 1)
        graft.streaming.Incremental.compactSimJoinMaintained(s, s"$tmp/index")
      }
      graft.ops.SimJoinIndex.pairs(
          graft.streaming.Incremental.readSimJoinMaintained(s, s"$idxDir/index"),
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("batch_id", "corpus_id")
    }),


    // PRUNING-DECAY AUDIT for the maintained root's first-batch-frozen
    // rarity order (ops/SimJoinIndex.pruneAudit): the pair set is exact
    // regardless, but prefix selectivity decays as the corpus drifts from
    // the first batch's shingle statistics — this measures it (candidate
    // pairs under the frozen order vs a FRESH order recomputed from the
    // stored sets, never a corpus re-shingle), the dedup_oversized_buckets
    // recall-evidence convention. Deterministic counts → pinned oracle.
    "simjoin_maintained_prune_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.SimJoinIndex.pruneAudit(
        graft.streaming.Incremental.readSimJoinMaintained(
          s, s"${simjoinStreamFixture(s, dir)}/index"),
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
    }),


    // RE-FREEZE (ops/SimJoinIndex.rebuildFromSets): the rebuild-cadence
    // answer to pruning decay — a fresh rarity order and fresh prefixes
    // recomputed from the index's own stored sets (no corpus re-shingle).
    // Exactness never depended on the order, so the re-frozen index
    // serves the IDENTICAL pair set and SHARES the maintained oracle.
    "simjoin_refreeze" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.SimJoinIndex.pairs(
          graft.ops.SimJoinIndex.rebuildFromSets(
            graft.streaming.Incremental.readSimJoinMaintained(
              s, s"${simjoinStreamFixture(s, dir)}/index")),
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("batch_id", "corpus_id")
    }),


    // ERASURE on the stream-MAINTAINED simjoin root (streaming/
    // Incremental.eraseSimJoinMaintained — the same victim-bearing-dir
    // rewrite as stream_minhash_erase; the frozen rarity order is MODEL
    // state and stays, so the served pair set is provably the rebuild on
    // the retained corpus). Mutating query: fresh maintained root per
    // run, serve from the erased root, scratch dropped.
    "stream_simjoin_erase" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_sje").toString
      docs.filter(col("doc_id") % 5 =!= 0).repartition(3, col("doc_id"))
        .write.parquet(s"$tmp/src")
      graft.streaming.Incremental.streamSimJoinMaintain(
        s, s"$tmp/src", s"$tmp/index", "doc_id", "text",
        shingleK = 3, threshold = 0.5, maxFilesPerTrigger = 1)
      graft.streaming.Incremental.eraseSimJoinMaintained(
        s, s"$tmp/index",
        docs.filter(pmod(col("doc_id"), lit(10)) === 3).select(col("doc_id")))
      val served = graft.ops.SimJoinIndex.pairs(
          graft.streaming.Incremental.readSimJoinMaintained(s, s"$tmp/index"),
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("batch_id", "corpus_id").localCheckpoint()
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      served
    }),


    // Streaming MinHash index MAINTENANCE (streaming/Incremental
    // .streamMinHashMaintain — the runBatchCommitted machinery applied to
    // the dedup index): the corpus streams in as micro-batches, each a
    // pure map-side encode into append-only buckets/sets batch dirs (no
    // corpus-level stats — nothing to snapshot or retire), exactly-once
    // via the _committed_<batchId> markers, shape params pinned by the
    // sidecar. Signatures are content-deterministic, so the maintained
    // index queries IDENTICALLY to the static built index — the serve
    // mirrors stream_dedup_incremental (same batch, same parameters) and
    // SHARES ITS ORACLE.
    "stream_minhash_maintain" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = minhashStreamFixture(s, dir)
      graft.ops.MinHashIndex.query(
          graft.streaming.Incremental.readMinHashMaintained(s, s"$idxDir/index"),
          docs.filter(col("doc_id").between(100, 149))
            .withColumn("doc_id", col("doc_id") + lit(1000000L)),
          "doc_id", "text", threshold = 0.8)
        .orderBy("batch_id", "corpus_id")
    }),


    // COMPACTION on the stream-maintained MinHash root (streaming/
    // Incremental.compactMinHashMaintained): the committed batch dirs
    // merge into ONE generation per member under the root-level
    // _compacted_<gen> marker (batch markers stay, so pre-compaction
    // replays remain no-ops). Rows are untouched, so the compacted root
    // queries IDENTICALLY and SHARES the maintained serve's oracle; what
    // changes is the serve plan — one leg per member instead of one per
    // batch (asserted in CompactionSpec on inputFiles).
    "stream_minhash_compact" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxDir = IndexFixture.dir("minhash_stream_c1", dir) { tmp =>
        docs.repartition(3, col("doc_id")).write.parquet(s"$tmp/src")
        graft.streaming.Incremental.streamMinHashMaintain(
          s, s"$tmp/src", s"$tmp/index", "doc_id", "text",
          shingleK = 3, bands = 8, rowsPerBand = 2, maxFilesPerTrigger = 1)
        graft.streaming.Incremental.compactMinHashMaintained(s, s"$tmp/index")
      }
      graft.ops.MinHashIndex.query(
          graft.streaming.Incremental.readMinHashMaintained(s, s"$idxDir/index"),
          docs.filter(col("doc_id").between(100, 149))
            .withColumn("doc_id", col("doc_id") + lit(1000000L)),
          "doc_id", "text", threshold = 0.8)
        .orderBy("batch_id", "corpus_id")
    }),


    // ERASURE on the stream-MAINTAINED MinHash root (streaming/
    // Incremental.eraseMinHashMaintained — GDPR applied to the maintained
    // artifact, beside the static-index dedup_minhash_erase): only the
    // batch dirs CONTAINING victims rewrite (keys-only anti-joins,
    // retained rows checkpointed before the overwrite), untouched dirs
    // never open, replays can't resurrect the erased rows (the dirs stay
    // committed). A MUTATING query, so it builds a fresh maintained root
    // per run (the l11 convention), serves from the erased root, and
    // drops the scratch. Oracle: the exact bipartite pair set WITHOUT
    // the victims — erasure on the maintained index is provably a
    // rebuild on the retained corpus.
    "stream_minhash_erase" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_mhe").toString
      docs.repartition(3, col("doc_id")).write.parquet(s"$tmp/src")
      graft.streaming.Incremental.streamMinHashMaintain(
        s, s"$tmp/src", s"$tmp/index", "doc_id", "text",
        shingleK = 3, bands = 8, rowsPerBand = 2, maxFilesPerTrigger = 1)
      graft.streaming.Incremental.eraseMinHashMaintained(
        s, s"$tmp/index",
        docs.filter(pmod(col("doc_id"), lit(10)) === 3).select(col("doc_id")))
      val served = graft.ops.MinHashIndex.query(
          graft.streaming.Incremental.readMinHashMaintained(s, s"$tmp/index"),
          docs.filter(col("doc_id").between(100, 149))
            .withColumn("doc_id", col("doc_id") + lit(1000000L)),
          "doc_id", "text", threshold = 0.8)
        .orderBy("batch_id", "corpus_id").localCheckpoint()
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      served
    }),


    // Streaming BM25 index MAINTENANCE (streaming/Incremental
    // .streamBm25Maintain): the corpus arrives as micro-batches
    // (maxFilesPerTrigger=1 over a 3-file hash-split staging, disjoint
    // doc ids) and folds into the persisted inverted index PER BATCH —
    // postings land append-only (term-range partitioned per batch dir),
    // the vocab-sized df dictionary and 1-row (n, avgdl) stats roll
    // forward in Bm25Index.append's exact closed form, all three
    // artifacts committed by one _committed_<batchId> marker
    // (exactly-once across foreachBatch replays; streamRollupMaintain's
    // run-identity guard rejects fresh-checkpoint batch-id collisions).
    // The maintained index serves the SAME query set as
    // text_bm25_persisted and SHARES ITS ORACLE: streaming ingest is
    // provably a rebuild.
    "stream_index_maintain" -> ((s, dir) => {
      import s.implicits._
      val idxDir = bm25StreamFixture(s, dir)
      val qs = Seq((1L, "hash"), (1L, "join"), (1L, "dup"),
        (2L, "window"), (2L, "sort"), (2L, "merge")).toDF("q_id", "term")
      graft.ops.Bm25Index.topK(
          graft.streaming.Incremental.readBm25Maintained(s, s"$idxDir/index"),
          qs, "q_id", "term", k = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy("q_id", "rank")
    }),


    // COMPACTION on the stream-maintained BM25 root (streaming/
    // Incremental.compactBm25Maintained): every committed postings batch
    // dir merges into ONE term-range-partitioned generation — the static
    // Bm25Index.write layout, so serve-time term pushdown prunes files
    // across the whole compacted corpus; the df/stats snapshots already
    // roll forward wholesale and are untouched. Rows unchanged → the
    // compacted root serves IDENTICALLY and SHARES text_bm25_persisted's
    // oracle like the maintained serve it compacts.
    "stream_bm25_compact" -> ((s, dir) => {
      import s.implicits._
      val idxDir = IndexFixture.dir("bm25_stream_c1", dir) { tmp =>
        Tables.documents(s, dir).repartition(3, col("doc_id"))
          .write.parquet(s"$tmp/src")
        graft.streaming.Incremental.streamBm25Maintain(
          s, s"$tmp/src", s"$tmp/index", "doc_id", "text",
          maxFilesPerTrigger = 1)
        graft.streaming.Incremental.compactBm25Maintained(s, s"$tmp/index")
      }
      val qs = Seq((1L, "hash"), (1L, "join"), (1L, "dup"),
        (2L, "window"), (2L, "sort"), (2L, "merge")).toDF("q_id", "term")
      graft.ops.Bm25Index.topK(
          graft.streaming.Incremental.readBm25Maintained(s, s"$idxDir/index"),
          qs, "q_id", "term", k = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy("q_id", "rank")
    }),


    // COMPACTION on the stream-maintained IVF-PQ root (streaming/
    // Incremental.compactIvfPqMaintained): the committed lists_batch dirs
    // merge into ONE cluster-partitioned generation, so the serve union
    // is base + one compacted leg + tail instead of one leg per batch —
    // the bound the r15 design left to rebuild cadence alone. Rows and
    // the frozen model are untouched → SHARES knn_index_append's pinned
    // oracle like the maintained serve.
    "stream_knn_compact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idxDir = IndexFixture.dir("ivfpq_stream_c1", dir) { tmp =>
        graft.ops.IvfPqIndex.write(
          graft.ops.IvfPqIndex.build(emb.filter(col("vec_id") % 10 =!= 0),
            "vec_id", "embedding", nlist = 16, numSubspaces = 8, numCodes = 16),
          s"$tmp/index")
        emb.filter(col("vec_id") % 10 === 0).repartition(2, col("vec_id"))
          .write.parquet(s"$tmp/src")
        graft.streaming.Incremental.streamIvfPqMaintain(
          s, s"$tmp/src", s"$tmp/index", "vec_id", "embedding",
          maxFilesPerTrigger = 1)
        graft.streaming.Incremental.compactIvfPqMaintained(s, s"$tmp/index")
      }
      graft.ops.IvfPqIndex.topK(
          graft.streaming.Incremental.readIvfPqMaintained(s, s"$idxDir/index"),
          emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
          k = 3, nprobe = 8)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("q_id", "rank")
    }),


    // ERASURE on the stream-MAINTAINED BM25 root (streaming/Incremental
    // .eraseBm25Maintained — with stream_knn_erase this completes the 4×2
    // maintain×erase matrix): victim-bearing postings dirs rewrite via
    // keys-only anti-joins (single-pass probe), and the df/(n, avgdl)
    // state rolls back ONCE in the static Bm25Index.erase closed form —
    // journaled for crash-exactness. Mutating query (fresh maintained
    // root per run, the l11 convention); the erased root serves the SAME
    // BM25 answers as an index built on the retained corpus, so the
    // oracle is text_bm25_erase's retained-corpus recompute.
    "stream_bm25_erase" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_bme").toString
      docs.repartition(3, col("doc_id")).write.parquet(s"$tmp/src")
      graft.streaming.Incremental.streamBm25Maintain(
        s, s"$tmp/src", s"$tmp/index", "doc_id", "text",
        maxFilesPerTrigger = 1)
      graft.streaming.Incremental.eraseBm25Maintained(
        s, s"$tmp/index",
        docs.filter(pmod(col("doc_id"), lit(10)) === 3).select(col("doc_id")))
      val qs = Seq((1L, "hash"), (1L, "join"), (1L, "dup"),
        (2L, "window"), (2L, "sort"), (2L, "merge")).toDF("q_id", "term")
      val served = graft.ops.Bm25Index.topK(
          graft.streaming.Incremental.readBm25Maintained(s, s"$tmp/index"),
          qs, "q_id", "term", k = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy("q_id", "rank").localCheckpoint()
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      served
    }),


    // ERASURE on the stream-MAINTAINED IVF-PQ root (streaming/Incremental
    // .eraseIvfPqMaintained): victims vanish from the base lists AND the
    // streamed batch dirs alike (vec_id % 6 spans both sides of the
    // base/stream split), one keys-only anti-join per victim-bearing
    // dir, model frozen. Mutating query: the static base index is a
    // build-once fixture COPIED to scratch per run (re-written through
    // IvfPqIndex read→write, cheap), streamed into, erased, served.
    // Deterministic frozen-model serve → pinned VALUES oracle.
    "stream_knn_erase" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val baseDir = IndexFixture.dir("ivfpq_base1", dir) { tmp =>
        graft.ops.IvfPqIndex.write(
          graft.ops.IvfPqIndex.build(emb.filter(col("vec_id") % 10 =!= 0),
            "vec_id", "embedding", nlist = 16, numSubspaces = 8, numCodes = 16),
          s"$tmp/index")
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_kne").toString
      graft.ops.IvfPqIndex.write(
        graft.ops.IvfPqIndex.read(s, s"$baseDir/index"), s"$tmp/index")
      emb.filter(col("vec_id") % 10 === 0).repartition(2, col("vec_id"))
        .write.parquet(s"$tmp/src")
      graft.streaming.Incremental.streamIvfPqMaintain(
        s, s"$tmp/src", s"$tmp/index", "vec_id", "embedding",
        maxFilesPerTrigger = 1)
      graft.streaming.Incremental.eraseIvfPqMaintained(
        s, s"$tmp/index",
        emb.filter(col("vec_id") % 6 === 0).select(col("vec_id")))
      val served = graft.ops.IvfPqIndex.topK(
          graft.streaming.Incremental.readIvfPqMaintained(s, s"$tmp/index"),
          emb.filter(col("vec_id") < 20),
          emb.filter(col("vec_id") % 6 =!= 0),
          "vec_id", "embedding", k = 3, nprobe = 8)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("q_id", "rank").localCheckpoint()
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      served
    }),


    // RECALL-DRIFT AUDIT on the stream-maintained IVF-PQ root (ops/
    // IvfPqIndex.recallAudit — the SimJoinIndex.pruneAudit convention
    // applied to the frozen ANN model): recall@5 of the frozen-model
    // maintained serve vs brute-force ground truth over exactly the ids
    // the root serves (base + every streamed batch), PAIRED with the same
    // audit on the rebuilt model so the frozen model's drift and its
    // remedy are one pinned record. Deterministic (id-seeded k-means,
    // hash-free encode) → pinned VALUES oracle; the planted
    // drift-and-recovery proof is in IvfPqIndexSpec.
    "knn_maintained_recall_audit" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // the fleet form: both generations serve the SAME id universe
      // (rebuild preserves it — spec-asserted), so the corpus-sized
      // brute-force ground truth is computed ONCE for the pair
      graft.ops.IvfPqIndex.recallAudits(
          Seq(
            "frozen" -> graft.streaming.Incremental.readIvfPqMaintained(
              s, s"${ivfpqStreamFixture(s, dir)}/index"),
            "rebuilt" -> graft.ops.IvfPqIndex.read(
              s, s"${ivfpqRebuildFixture(s, dir)}/index")),
          emb.filter(col("vec_id") < 100), emb, "vec_id", "embedding",
          k = 5, nprobe = 8)
        .orderBy("model")
    }),


    // MODEL REBUILD serve — the next serving generation the audit's
    // cadence produces (streaming/Incremental.rebuildIvfPqMaintained:
    // retrain coarse + PQ codebooks from the raw vectors of exactly the
    // served ids, re-encode, write a FRESH static root — blue/green, the
    // maintained root untouched, its model-generation stamp intact).
    // Serves through IvfPqIndex.read → cluster-pruned scan like
    // knn_ivfpq_persisted. Deterministic → pinned VALUES oracle.
    "knn_maintained_rebuild" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ops.IvfPqIndex.topK(
          graft.ops.IvfPqIndex.read(s, s"${ivfpqRebuildFixture(s, dir)}/index"),
          emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
          k = 3, nprobe = 8)
        .withColumn("rank", col("rank").cast("bigint"))
        .orderBy("q_id", "rank")
    }),


    // REBUILD-CADENCE POLICY GATE as a declared record (streaming/
    // Incremental.rebuildIfDrifted — the compactIfStale counterpart for
    // model quality): the SAME maintained root (frozen recall 0.508 at
    // sf0.01, the knn_maintained_recall_audit pin) gated at two budgets.
    // Within budget (0.4 ≤ 0.508): NO-OP — no rebuild, the destination
    // is never created, the untouched maintained root keeps serving.
    // Drifted (0.6 > 0.508): the rebuild fires and the NEXT GENERATION
    // serves. One row per branch (rebuilt/dest_created as 0/1);
    // n_serve_rows counts the serving generation's k=3 serve over 20
    // probes. Deterministic (id-seeded k-means, pinned audit) → pinned
    // VALUES oracle; the planted-drift recovery proof is in
    // IncrementalSpec's rebuildIfDrifted test.
    "knn_rebuild_gate" -> ((s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val fixture = s"${ivfpqStreamFixture(s, dir)}/index"
      // the audit's brute side is query-sample × corpus: every 4th of
      // the original 100-query sample keeps the measured recall inside
      // the (0.4, 0.6) decision window that pins both branches, at a
      // quarter of the audit cost (the gate pays TWO such audits by
      // purpose — one per branch). An even stride, not a contiguous
      // slice: the first 25 vec_ids alone measure 0.6+ recall and flip
      // the drifted branch's decision.
      val queries = emb.filter(col("vec_id") < 100 && col("vec_id") % 4 === 0)
      val probe = emb.filter(col("vec_id") < 20)
      // the gate takes the crash-persistent root lease (and the drifted
      // branch rebuilds FROM the root), so it runs against a PER-RUN
      // CLONE of the shared cross-session fixture: a killed run can then
      // never poison the fixture with a stale lease (same content, same
      // pinned record). Both branches are exercised END-TO-END by
      // purpose — two audits; a production cadence calls once and gets
      // the measured recall back in EITHER branch.
      val scratch =
        java.nio.file.Files.createTempDirectory("graft_gate").toString
      try {
        val conf = s.sparkContext.hadoopConfiguration
        val srcP = new org.apache.hadoop.fs.Path(fixture)
        val rootP = new org.apache.hadoop.fs.Path(s"$scratch/index")
        org.apache.hadoop.fs.FileUtil.copy(srcP.getFileSystem(conf), srcP,
          rootP.getFileSystem(conf), rootP, false, conf)
        val root = rootP.toString
        def decide(branch: String, minRecall: Double) = {
          val dest = s"$scratch/gen_$branch"
          val (_, rebuilt) = graft.streaming.Incremental.rebuildIfDrifted(
            s, root, dest, emb, "vec_id", "embedding", queries,
            minRecall = minRecall, k = 5, nprobe = 8, nlist = 16,
            numSubspaces = 8, numCodes = 16)
          val serveIdx = rebuilt.getOrElse(
            graft.streaming.Incremental.readIvfPqMaintained(s, root))
          val n = graft.ops.IvfPqIndex.topK(serveIdx, probe, emb,
            "vec_id", "embedding", k = 3, nprobe = 8).count()
          (branch, minRecall, if (rebuilt.isDefined) 1L else 0L,
            if (new java.io.File(dest).exists()) 1L else 0L, n)
        }
        // both decisions run eagerly (counts above), so the scratch
        // generation can be deleted before the literal record returns.
        // Thresholds straddle the measured recall at BOTH declared-and-
        // bench scales (sf0.01 ≈ 0.4-0.6, sf0.1 ≈ 0.34): 0.3 keeps the
        // within-budget branch a true no-op everywhere (with 0.4 it
        // silently rebuilt at sf0.1 — two corpus rebuilds per gate run),
        // 0.6 keeps the drifted branch rebuilding everywhere.
        val rows = Seq(decide("within_budget", 0.3), decide("drifted", 0.6))
        rows.toDF("branch", "min_recall", "rebuilt", "dest_created",
          "n_serve_rows").orderBy("branch")
      } finally {
        val p = new org.apache.hadoop.fs.Path(scratch)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
    }),
  )

  /** The maintained simjoin root fixture (first-batch-frozen order, 3
    * micro-batches over the 4/5 corpus) — built once per (machine, sf)
    * and shared by the maintained serve, the pruning audit and the
    * re-freeze serve. The stream reads one part per micro-batch in
    * modification-time order, and the FIRST batch freezes the rarity
    * order, so the parts get distinct modification times in part-name
    * order: every build freezes the same order (a parallel write leaves
    * the parts' times to chance).
    */
  private def simjoinStreamFixture(s: SparkSession, dir: String): String =
    IndexFixture.dir("simjoin_stream_v2", dir) { tmp =>
      Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
        .repartition(3, col("doc_id"))
        .write.parquet(s"$tmp/src")
      val src = new org.apache.hadoop.fs.Path(s"$tmp/src")
      val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(src).map(_.getPath).filter(_.getName.startsWith("part-"))
        .sortBy(_.getName).zipWithIndex.foreach { case (part, i) =>
          fs.setTimes(part, 1000000000000L + i, -1L)
        }
      graft.streaming.Incremental.streamSimJoinMaintain(
        s, s"$tmp/src", s"$tmp/index", "doc_id", "text",
        shingleK = 3, threshold = 0.5, maxFilesPerTrigger = 1)
    }

  private def bm25StreamFixture(s: SparkSession, dir: String): String =
    IndexFixture.dir("bm25_stream", dir) { tmp =>
      Tables.documents(s, dir).repartition(3, col("doc_id"))
        .write.parquet(s"$tmp/src")
      graft.streaming.Incremental.streamBm25Maintain(
        s, s"$tmp/src", s"$tmp/index", "doc_id", "text",
        maxFilesPerTrigger = 1)
    }

  private def minhashStreamFixture(s: SparkSession, dir: String): String =
    IndexFixture.dir("minhash_stream", dir) { tmp =>
      Tables.documents(s, dir).repartition(3, col("doc_id"))
        .write.parquet(s"$tmp/src")
      graft.streaming.Incremental.streamMinHashMaintain(
        s, s"$tmp/src", s"$tmp/index", "doc_id", "text",
        shingleK = 3, bands = 8, rowsPerBand = 2, maxFilesPerTrigger = 1)
    }

  /** The REBUILT serving generation of [[ivfpqStreamFixture]]'s maintained
    * root (`Incremental.rebuildIvfPqMaintained` into a fresh static root)
    * — built once per (machine, sf), shared by the rebuild serve and the
    * recall audit's rebuilt leg.
    */
  private def ivfpqRebuildFixture(s: SparkSession, dir: String): String =
    IndexFixture.dir("ivfpq_rebuild", dir) { tmp =>
      graft.streaming.Incremental.rebuildIvfPqMaintained(
        s, s"${ivfpqStreamFixture(s, dir)}/index", s"$tmp/index",
        Tables.embeddings(s, dir), "vec_id", "embedding",
        nlist = 16, numSubspaces = 8, numCodes = 16)
      ()
    }

  private def ivfpqStreamFixture(s: SparkSession, dir: String): String =
    IndexFixture.dir("ivfpq_stream", dir) { tmp =>
      val emb = Tables.embeddings(s, dir)
      graft.ops.IvfPqIndex.write(
        graft.ops.IvfPqIndex.build(emb.filter(col("vec_id") % 10 =!= 0),
          "vec_id", "embedding", nlist = 16, numSubspaces = 8, numCodes = 16),
        s"$tmp/index")
      emb.filter(col("vec_id") % 10 === 0).repartition(2, col("vec_id"))
        .write.parquet(s"$tmp/src")
      graft.streaming.Incremental.streamIvfPqMaintain(
        s, s"$tmp/src", s"$tmp/index", "vec_id", "embedding",
        maxFilesPerTrigger = 1)
    }

  // exact all-pairs over the relabeled 100–149 batch vs the full corpus —
  // shared by the zero-state streaming near-dedup and the maintained-index
  // serve (lazy: referenced by the oracles map below).
  private lazy val StreamNearDedupSql: String =
    ("WITH batch AS (SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id BETWEEN 100 AND 149), " +
      "bsets AS (SELECT doc_id, list_distinct(" +
      "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
      "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
      "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM batch), " +
      "csets AS (SELECT doc_id, list_distinct(" +
      "CASE WHEN len(string_split(text, ' ')) < 3 THEN [text] " +
      "ELSE list_transform(range(len(string_split(text, ' ')) - 2), " +
      "i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')) END) AS s FROM documents) " +
      "SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, " +
      "round(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(b.s, c.s))) AS DOUBLE), 4) AS jaccard " +
      "FROM bsets b, csets c " +
      "WHERE CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(b.s, c.s))) AS DOUBLE) >= 0.8 " +
      "ORDER BY batch_id, corpus_id")

  // a silent-no-op String.replace would hand the erase serves an
  // UNFILTERED oracle (looking like an erasure bug) if the shared SQL is
  // ever reworded — fail at registry construction instead
  private def mustReplace(sql: String, from: String, to: String): String = {
    require(sql.contains(from),
      s"oracle rewrite pattern not found (shared SQL reworded?): $from")
    sql.replace(from, to)
  }

  val oracles: Map[String, String] = Map(

    // the streamed-maintained MinHash index must serve the IDENTICAL
    // pair set as the static index (content-deterministic signatures)
    "stream_minhash_maintain" -> StreamNearDedupSql,

    // compaction merges dirs, never rows — the compacted root shares the
    // maintained serve's oracle byte-identically (all four indexes)
    "stream_minhash_compact" -> StreamNearDedupSql,
    "stream_bm25_compact" -> TextQueries.oracles("text_bm25_persisted"),
    "stream_knn_compact" -> graft.PinnedOracles.sql("knn_index_append"),
    "stream_simjoin_compact" -> DedupQueries.oracles("simjoin_incremental"),

    // the re-frozen (rebuilt-from-sets) index serves the IDENTICAL exact
    // pair set — only pruning selectivity changes
    "simjoin_refreeze" -> DedupQueries.oracles("simjoin_incremental"),

    // erase on the maintained BM25 root = the BM25 recompute on the
    // retained corpus (df subtraction + closed-form stats roll-back are
    // exact) — shares the static text_bm25_erase oracle
    "stream_bm25_erase" -> TextQueries.oracles("text_bm25_erase"),

    // stream_knn_erase and simjoin_maintained_prune_audit carry pinned
    // VALUES oracles under their OWN keys — SparkEntry merges
    // PinnedOracles in automatically (and rejects a key carrying both)

    // erase on the maintained root = the bipartite recompute WITHOUT the
    // victims (same SQL with the victim filter on the corpus side)
    "stream_minhash_erase" ->
      mustReplace(StreamNearDedupSql,
        "END) AS s FROM documents) ",
        "END) AS s FROM documents WHERE doc_id % 10 <> 3) "),

    // deterministic frozen-model encode: streamed maintenance serves
    // exactly like the batch append — shared pin
    "stream_knn_maintain" -> graft.PinnedOracles.sql("knn_index_append"),
    // knn_maintained_recall_audit / knn_maintained_rebuild carry pinned
    // oracles under their OWN keys — PinnedOracles auto-joins them

    // the frozen rarity order never changes the pair set (exact verify):
    // shared full-corpus bipartite oracle
    "stream_simjoin_maintain" -> DedupQueries.oracles("simjoin_incremental"),

    // erase on the maintained root = the bipartite recompute WITHOUT the
    // victims (the shared SQL with the victim filter on the corpus side)
    "stream_simjoin_erase" ->
      mustReplace(DedupQueries.oracles("simjoin_incremental"),
        "AND c.doc_id % 5 <> 0 ",
        "AND c.doc_id % 5 <> 0 AND c.doc_id % 10 <> 3 "),
    // the streamed credits must aggregate to EXACTLY the batch as-of
    // join's answer — shared oracle, not a lookalike (the channel column
    // there is this roll-up's channel)
    "stream_attribution" -> EventsQueries.oracles("attribution_last_touch"),

    // the streamed-maintained index must serve EXACTLY like the
    // build-once persisted index (BM25 append is exact) — shared oracle
    "stream_index_maintain" -> TextQueries.oracles("text_bm25_persisted"),

    // each maintained root's served id universe equals its base table:
    // documents for bm25/minhash, embeddings for ivfpq (90% base model +
    // 10% streamed), the %5<>0 corpus split for simjoin. The bm25
    // universe comes from postings, so a doc with no tokens (empty/
    // whitespace/NULL text) is legitimately absent — the oracle counts
    // docs with >=1 token, not rows (minhash/simjoin keep one sets row
    // per doc regardless, so they count rows)
    "maintained_roots_consistency" ->
      ("SELECT * FROM (" +
        "SELECT 'bm25' AS index_name, count(CASE WHEN text IS NOT NULL " +
        "AND length(replace(text, ' ', '')) > 0 THEN 1 END) AS n_ids FROM documents " +
        "UNION ALL SELECT 'ivfpq', count(*) FROM embeddings " +
        "UNION ALL SELECT 'minhash', count(*) FROM documents " +
        "UNION ALL SELECT 'simjoin', count(CASE WHEN doc_id % 5 <> 0 THEN 1 END) FROM documents" +
        ") ORDER BY index_name"),

    "stream_rollup_maintain" ->
      ("SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, " +
        "round(sum(l_quantity), 4) AS sum_qty, " +
        "round(min(l_extendedprice), 4) AS min_price, " +
        "max(l_shipdate) AS max_ship " +
        "FROM lineitem GROUP BY 1 ORDER BY l_returnflag"),


    "stream_enrich_static" ->
      ("SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 604800) AS BIGINT) * 604800) AS TIMESTAMP) AS window_start, " +
        "c_mktsegment, count(*) AS n " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "GROUP BY 1, 2 ORDER BY window_start, c_mktsegment"),


    // batch replay of the streamed windows + the serving-side rank
    "stream_topk_trending" ->
      ("WITH wc AS (SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 604800) AS BIGINT) * 604800) AS TIMESTAMP) AS window_start, " +
        "event_type, count(*) AS n, round(sum(value), 4) AS sum_val " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT window_start, event_type, n, sum_val, CAST(rank AS INT) AS rank FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY window_start " +
        "ORDER BY n DESC, event_type) AS rank FROM wc) t " +
        "WHERE rank <= 3 ORDER BY window_start, rank"),


    // gaps-and-islands replay of the engine's session_window semantics:
    // a session starts where the gap from the previous event exceeds
    // 30 min; session_end = last event + gap
    "stream_session_window" ->
      ("WITH x AS (SELECT user_id, ts, value, event_id, " +
        "CASE WHEN lag(ts) OVER w IS NULL " +
        "OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_s " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM x) " +
        "SELECT min(ts) AS session_start, " +
        "max(ts) + INTERVAL 1800 SECONDS AS session_end, " +
        "user_id, CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 4) AS sum_val " +
        "FROM g GROUP BY user_id, sid ORDER BY user_id, session_start"),


    "stream_stateful_sessions" ->
      ("WITH x AS (SELECT user_id, ts, event_id, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events) " +
        "SELECT user_id, count(*) AS n_events, " +
        "CAST(sum(CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions " +
        "FROM x GROUP BY user_id ORDER BY user_id"),


    "stream_dedup" ->
      ("SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id, event_type " +
        "FROM events ORDER BY user_id, event_type"),


    "stream_decontam" ->
      ("WITH tk AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t FROM documents), " +
        "grams AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(t) - 7), " +
        "i -> array_to_string(t[i+1:i+8], ' ')))) AS gram FROM tk WHERE len(t) >= 8), " +
        "bg AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 25 = 0), " +
        "bad AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bg USING (gram)) " +
        "SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM bad) ORDER BY doc_id"),


    "stream_interval_join" ->
      ("SELECT l.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_pairs " +
        "FROM events l JOIN events r ON l.user_id = r.user_id " +
        "AND l.event_type = 'view' AND r.event_type = 'purchase' " +
        "AND epoch_us(r.ts) >= epoch_us(l.ts) " +
        "AND epoch_us(r.ts) <= epoch_us(l.ts) + 3600000000 " +
        "GROUP BY l.user_id ORDER BY user_id"),


    "stream_window_counts" ->
      ("SELECT CAST(to_timestamp(CAST(floor(epoch(l_shipdate) / 2592000) AS BIGINT) * 2592000) AS TIMESTAMP) AS window_start, " +
        "l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_val " +
        "FROM lineitem GROUP BY 1, 2 ORDER BY window_start, l_returnflag"),


    // epoch-aligned daily windows → first-week reference profile → the
    // same eps-clamped PSI roll-up per later day, over the completed
    // day × category grid
    "stream_drift_monitor" ->
      ("WITH c AS (SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400) AS TIMESTAMP) AS day, " +
        "event_type AS cat, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), " +
        "ref AS (SELECT cat, CAST(sum(n) AS BIGINT) AS nr FROM c " +
        "WHERE day < TIMESTAMP '2024-01-08' GROUP BY 1), " +
        "tr AS (SELECT CAST(sum(nr) AS BIGINT) AS t FROM ref), " +
        "cur AS (SELECT day, cat, n FROM c WHERE day >= TIMESTAMP '2024-01-08'), " +
        "days AS (SELECT DISTINCT day FROM cur), " +
        "cats AS (SELECT cat FROM ref UNION SELECT cat FROM cur), " +
        "j AS (SELECT d.day, k.cat, coalesce(r.nr, 0) AS nr, coalesce(u.n, 0) AS nc " +
        "FROM days d CROSS JOIN cats k LEFT JOIN ref r USING (cat) " +
        "LEFT JOIN cur u ON u.day = d.day AND u.cat = k.cat), " +
        "t2 AS (SELECT day, nr, nc, sum(nc) OVER (PARTITION BY day) AS tc FROM j), " +
        "s AS (SELECT day, greatest(CAST(nr AS DOUBLE) / t.t, 1e-6) AS p, " +
        "greatest(CAST(nc AS DOUBLE) / tc, 1e-6) AS q, nc FROM t2, tr t), " +
        "a AS (SELECT day, round(sum((p - q) * ln(p / q)), 4) AS psi, " +
        "CAST(sum(nc) AS BIGINT) AS n_day FROM s GROUP BY day) " +
        "SELECT day, psi, n_day, psi > 0.2 AS drifted FROM a ORDER BY day"),


    // identical semantics through the persisted index via the STREAMING
    // path (stateless exactly-once pair emission), so the incremental
    // oracle carries over here too
    "stream_dedup_incremental" -> StreamNearDedupSql,
  )
}
