package graft.streaming

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark
import graft.etl.{Tables, Windows}

class IncrementalSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private val ref = LocalDate.parse("2001-11-04")
  private val liPath = s"${GraftSpark.Sf0001}/lineitem.parquet"

  /** Stage one single-part parquet arrival into a stream-source dir
    * (streamSource globs plain files there — never write subdirs).
    */
  private def stageArrival(src: String,
      df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val scratch = Files.createTempDirectory("graft_arrive").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$scratch/$name")
    val part = new java.io.File(s"$scratch/$name").listFiles
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$src/$name.parquet"))
  }

  test("incrementalRefresh writes exactly the windowed extract; re-run is a no-op (checkpointed)") {
    val tmp = Files.createTempDirectory("graft_stream").toString
    val target = s"$tmp/target"
    val ckpt = s"$tmp/ckpt"
    Incremental.incrementalRefresh(spark, liPath, "l_shipdate", ref, 30, target, ckpt)
    val expected = Tables.lineitem(spark, GraftSpark.Sf0001)
      .filter(Windows.inWindow(col("l_shipdate"), ref, 30)).count()
    assert(spark.read.parquet(target).count() == expected)
    // second run: no new files -> nothing appended (exactly-once)
    Incremental.incrementalRefresh(spark, liPath, "l_shipdate", ref, 30, target, ckpt)
    assert(spark.read.parquet(target).count() == expected)
  }

  test("statefulSessionCounts (flatMapGroupsWithState) matches batch sessionization") {
    import graft.GraftSpark
    val evPath = s"${GraftSpark.Sf0001}/events.parquet"
    Tables.events(spark, GraftSpark.Sf0001) // sets nanosAsLong for the stream read
    val streamed = Incremental.statefulSessionCounts(spark, evPath,
      "ts", "user_id", gapUs = 1800L * 1000000)
      .orderBy("user_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("ts", "event_id")
    val batch = Tables.events(spark, GraftSpark.Sf0001)
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000, 1).otherwise(0))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("new_sess").cast("long").as("n_sessions"))
      .orderBy("user_id")
    assert(streamed.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      batch.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("streamingLastTouch matches the batch as-of attribution channel for channel") {
    import graft.GraftSpark
    val evPath = s"${GraftSpark.Sf0001}/events.parquet"
    Tables.events(spark, GraftSpark.Sf0001) // sets nanosAsLong for the stream read
    val streamed = Incremental.streamingLastTouch(spark, evPath,
        lookbackUs = 7L * 86400L * 1000000L)
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"), round(sum("value"), 4).as("v"))
      .orderBy("channel")
    val ev = Tables.events(spark, GraftSpark.Sf0001)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
    val batch = graft.ops.AsOf.asOfJoin(purchases, touches, Seq("user_id"),
        "ts", "ts", inner = false,
        tolerance = Some(expr("INTERVAL 7 DAYS")))
      .select(coalesce(col("r_event_type"), lit("direct")).as("channel"), col("value"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"), round(sum("value"), 4).as("v"))
      .orderBy("channel")
    assert(streamed.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      batch.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq)
    // every purchase emits exactly one credit row
    val nPurchases = ev.filter(col("event_type") === "purchase").count()
    val nCredits = Incremental.streamingLastTouch(spark, evPath,
      lookbackUs = 7L * 86400L * 1000000L).count()
    assert(nCredits == nPurchases)
  }

  test("streamIntervalJoin matches the batch interval join") {
    import graft.GraftSpark
    val evPath = s"${GraftSpark.Sf0001}/events.parquet"
    val ev = Tables.events(spark, GraftSpark.Sf0001) // also sets nanosAsLong
    val streamed = Incremental.streamIntervalJoin(spark, evPath,
      "ts", "user_id", "event_type", "view", "purchase",
      maxDelaySec = 3600, watermarkSec = 7200)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("l_ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u2"), col("ts").as("r_ts"))
    val batch = views.join(buys,
      col("user_id") === col("u2") && col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 3600 SECONDS"))
      .select("user_id", "l_ts", "r_ts")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch.withColumn("l_ts", col("l_ts").cast(streamed.schema("l_ts").dataType))
      .withColumn("r_ts", col("r_ts").cast(streamed.schema("r_ts").dataType))).isEmpty)
  }

  test("streamingDecontaminate matches the batch decontaminate doc-for-doc") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val bench = docs.filter(col("doc_id") % 25 === 0)
    val streamed = Incremental.streamingDecontaminate(
        spark, s"${GraftSpark.Sf0001}/documents.parquet", bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = graft.ops.Decontaminate.decontaminate(docs, bench, "doc_id", "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    assert(streamed.size < docs.count()) // something was actually dropped
  }

  test("streamingNearDedup matches batch minhashLshIncremental pair-for-pair (zero state)") {
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val index = graft.ops.MinHashIndex.build(docs, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2)
    def relabel(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("doc_id") < 30).withColumn("doc_id", col("doc_id") + lit(7000000L))
    val streamed = Incremental.streamingNearDedup(
        spark, s"${GraftSpark.Sf0001}/documents.parquet", index, "doc_id", "text",
        threshold = 0.3, batchTransform = relabel)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.ops.Dedup.minhashLshIncremental(docs, relabel(docs),
        "doc_id", "text", shingleK = 3, bands = 8, rowsPerBand = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == batch)
    // exactly-once emission: the injected exact dups collide on EVERY
    // band, so duplicate-row leakage would show here first
    (0L until 30L).foreach { i => assert(streamed.contains((i + 7000000L, i, 1.0))) }
    assert(streamed.size == streamed.map(p => (p._1, p._2)).size)
  }

  test("streamingDedup drops duplicate keys arriving within the watermark") {
    // two copies of the same file in one source dir = every row duplicated
    val dir = Files.createTempDirectory("graft_sdedup")
    Files.copy(java.nio.file.Paths.get(liPath), dir.resolve("a.parquet"))
    Files.copy(java.nio.file.Paths.get(liPath), dir.resolve("b.parquet"))
    // watermark must exceed the fixture's 6-year event-time span: with a
    // short horizon, rows in later micro-batches are dropped as late (the
    // bounded-state contract working as designed)
    val out = Incremental.streamingDedup(spark, dir.toString,
      keys = Seq("l_orderkey", "l_linenumber"), "l_shipdate", "3000 days")
    // fixture keys are not unique; dedup keeps one row per distinct key
    val expected = Tables.lineitem(spark, GraftSpark.Sf0001)
      .select("l_orderkey", "l_linenumber").distinct().count()
    assert(out.count() == expected)
  }

  test("windowedCounts matches the equivalent batch aggregation") {
    val windowSec = 30L * 86400
    val streamed = Incremental.windowedCounts(spark, liPath,
      "l_shipdate", "l_returnflag", "l_quantity", windowSec, "30 days")
      .orderBy("window_start", "l_returnflag")
    val batch = Tables.lineitem(spark, GraftSpark.Sf0001)
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .groupBy(window(col("l_shipdate"), s"$windowSec seconds"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_val"))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("l_returnflag"), col("n"), col("sum_val"))
      .orderBy("window_start", "l_returnflag")
    assert(streamed.collect() === batch.collect())
  }

  test("windowedCountsAppend (append mode, file sink) matches the batch aggregation " +
      "including the final watermark-closed windows") {
    val windowSec = 30L * 86400
    val streamed = Incremental.windowedCountsAppend(spark, liPath,
      "l_shipdate", "l_returnflag", "l_quantity", windowSec, watermarkSec = 30L * 86400)
      .orderBy("window_start", "l_returnflag")
    val batch = Tables.lineitem(spark, GraftSpark.Sf0001)
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .groupBy(window(col("l_shipdate"), s"$windowSec seconds"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_val"))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("l_returnflag"), col("n"), col("sum_val"))
      .orderBy("window_start", "l_returnflag")
    assert(streamed.collect() === batch.collect())
  }

  test("streamEnrichStatic matches the batch dimension-join aggregation; " +
      "sentinel rows never leak through the static join") {
    val windowSec = 7L * 86400
    val dim = Tables.customer(spark, GraftSpark.Sf0001)
    val streamed = Incremental.streamEnrichStatic(spark,
      s"${GraftSpark.Sf0001}/events.parquet", "ts", "user_id",
      dim, "c_custkey", "c_mktsegment",
      windowSec, watermarkSec = 30L * 86400)
      .orderBy("window_start", "c_mktsegment")
    val batch = Tables.events(spark, GraftSpark.Sf0001)
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), s"$windowSec seconds"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("c_mktsegment"), col("n"))
      .orderBy("window_start", "c_mktsegment")
    val got = streamed.collect()
    assert(got === batch.collect())
    assert(got.map(_.getLong(2)).sum ==
      Tables.events(spark, GraftSpark.Sf0001).count(), "every event enriched")
  }

  test("streamTopKPerWindow matches the batch windowed top-k and respects k") {
    Tables.events(spark, GraftSpark.Sf0001)
    val windowSec = 7L * 86400
    val streamed = Incremental.streamTopKPerWindow(
        spark, s"${GraftSpark.Sf0001}/events.parquet", "ts", "event_type", "value",
        windowSec, watermarkSec = 30L * 86400, k = 2, statePartitions = 4)
      .orderBy("window_start", "rank")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start").orderBy(col("n").desc, col("event_type"))
    val batch = Tables.events(spark, GraftSpark.Sf0001)
      .groupBy(window(col("ts"), s"$windowSec seconds"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_val"))
      .select(col("window.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"), col("sum_val"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 2)
      .orderBy("window_start", "rank")
    val got = streamed.collect()
    assert(got === batch.collect())
    got.groupBy(_.get(0)).foreach { case (ws, rows) =>
      assert(rows.length <= 2, s"window $ws has ${rows.length} > k rows")
      assert(rows.map(_.getInt(4)).sorted.toSeq == (1 to rows.length))
    }
  }

  test("sessionWindowCounts (native session_window) matches batch gaps-and-islands sessionization") {
    val gap = 1800L
    val got = Incremental.sessionWindowCounts(spark,
        s"${GraftSpark.Sf0001}/events.parquet", "ts", "user_id", "value",
        gapSec = gap, watermarkSec = 30L * 86400, statePartitions = 4)
      .select(unix_micros(col("session_start").cast("timestamp")).as("ss"),
        unix_micros(col("session_end").cast("timestamp")).as("se"),
        col("user_id"), col("n_events"), col("sum_val"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._3, t._1))
    // batch replay: islands where the gap from the previous event > 30 min
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = Tables.events(spark, GraftSpark.Sf0001)
    val want = ev
      .withColumn("__new", when(lag(col("ts"), 1).over(w).isNull ||
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > gap * 1000000L, 1)
        .otherwise(0))
      .withColumn("__sid", sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "__sid")
      .agg(min(col("ts")).as("session_start"),
        (max(col("ts")) + expr(s"INTERVAL $gap SECONDS")).as("session_end"),
        count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_val"))
      .select(unix_micros(col("session_start")).as("ss"),
        unix_micros(col("session_end")).as("se"),
        col("user_id"), col("n_events"), col("sum_val"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._3, t._1))
    assert(got.nonEmpty && got.length == want.length,
      s"${got.length} streamed vs ${want.length} batch sessions")
    assert(got.toSeq == want.toSeq)
    // merge property implied: any bridged sessions would double-count rows
    assert(got.map(_._4).sum == ev.count())
  }

  test("streamDriftMonitor matches a driver-side PSI recomputation day for day") {
    val got = Incremental.streamDriftMonitor(spark,
        s"${GraftSpark.Sf0001}/events.parquet", "ts", "event_type", "value",
        refEnd = "2024-01-08")
      .collect()
      .map(r => r.get(0).toString.take(10) ->
        (r.getDouble(1), r.getLong(2), r.getBoolean(3))).toMap
    // driver-side reference: daily (day, type) counts → first-week
    // profile → eps-clamped Σ(p−q)ln(p/q) per later day
    val raw = Tables.events(spark, GraftSpark.Sf0001)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.get(0).toString.take(10), r.getString(1), r.getLong(2)))
    val refCounts = raw.filter(_._1 < "2024-01-08")
      .groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val tr = refCounts.values.sum.toDouble
    val curByDay = raw.filter(_._1 >= "2024-01-08").groupBy(_._1)
    assert(got.keySet == curByDay.keySet, "one psi row per monitored day")
    val eps = 1e-6
    curByDay.foreach { case (day, rows) =>
      val cats = (refCounts.keySet ++ rows.map(_._2)).toSeq
      val tc = rows.map(_._3).sum.toDouble
      val dayCounts = rows.map(r => r._2 -> r._3).toMap
      val psi = cats.map { cat =>
        val p = math.max(refCounts.getOrElse(cat, 0L) / tr, eps)
        val q = math.max(dayCounts.getOrElse(cat, 0L) / tc, eps)
        (p - q) * math.log(p / q)
      }.sum
      assert(math.abs(got(day)._1 - psi) < 1e-3, s"$day psi ${got(day)._1} vs $psi")
      assert(got(day)._2 == tc.toLong, s"$day n_day")
      assert(got(day)._3 == (got(day)._1 > 0.2), s"$day drifted flag")
    }
  }

  test("streamRollupMaintain: incremental across arrivals, exactly-once on replay") {
    val src = Files.createTempDirectory("graft_rollup_src").toString
    val rollup = Files.createTempDirectory("graft_rollup_tgt").toString + "/agg"
    val ckpt = Files.createTempDirectory("graft_rollup_ck").toString
    val li = Tables.lineitem(spark, GraftSpark.Sf0001)
    // the rollup is now a dir of batch-stamped snapshots — read the
    // latest COMMITTED one (the contract streamRollupMaintain returns)
    def latestSnap() = new java.io.File(rollup).listFiles
      .filter(f => f.getName.startsWith("snap_") && new java.io.File(f, "_SUCCESS").exists)
      .maxBy(_.getName.stripPrefix("snap_").toLong)
    def readRollup() = spark.read.parquet(latestSnap().toString)
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 1e4)))
    def rollupOf(df: org.apache.spark.sql.DataFrame) = df.groupBy("l_returnflag")
      .agg(count(lit(1)).cast("long").as("n"), sum("l_quantity").as("l_quantity"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 1e4)))
    val scratch = Files.createTempDirectory("graft_rollup_scratch").toString
    // streamSource globs plain files in the source dir — stage each
    // arrival as a single part file moved in (never write subdirs there)
    def arrive(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$scratch/$name")
      val part = new java.io.File(s"$scratch/$name").listFiles
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    // arrival 1: first half of the facts
    val first = li.filter(col("l_orderkey") % 2 === 0)
    arrive(first, "p1")
    Incremental.streamRollupMaintain(spark, src, rollup,
      Seq("l_returnflag"), Seq("l_quantity"), "n", ckpt)
    assert(readRollup().toSeq == rollupOf(first).toSeq)
    // snapshot the checkpoint BEFORE arrival 2 — restoring it later
    // simulates a crash AFTER the batch's rollup snapshot committed but
    // BEFORE the checkpoint commit (foreachBatch's at-least-once window)
    def copyDir(from: java.io.File, to: java.io.File): Unit = {
      to.mkdirs()
      from.listFiles.foreach { f =>
        val t = new java.io.File(to, f.getName)
        if (f.isDirectory) copyDir(f, t)
        else java.nio.file.Files.copy(f.toPath, t.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val ckptBefore = Files.createTempDirectory("graft_rollup_ck_pre").toString
    copyDir(new java.io.File(ckpt), new java.io.File(ckptBefore))
    // arrival 2: the rest — SAME checkpoint merges only the new file
    arrive(li.filter(col("l_orderkey") % 2 =!= 0), "p2")
    Incremental.streamRollupMaintain(spark, src, rollup,
      Seq("l_returnflag"), Seq("l_quantity"), "n", ckpt)
    assert(readRollup().toSeq == rollupOf(li).toSeq)
    // replay with no new data: unchanged (exactly-once via the checkpoint)
    Incremental.streamRollupMaintain(spark, src, rollup,
      Seq("l_returnflag"), Seq("l_quantity"), "n", ckpt)
    assert(readRollup().toSeq == rollupOf(li).toSeq)
    // AT-LEAST-ONCE replay: run against the PRE-arrival-2 checkpoint —
    // the stream re-delivers p2 under its old batch id, whose snapshot
    // already committed, so the merge must SKIP, not double-count
    Incremental.streamRollupMaintain(spark, src, rollup,
      Seq("l_returnflag"), Seq("l_quantity"), "n", ckptBefore)
    assert(readRollup().toSeq == rollupOf(li).toSeq,
      "replayed batch double-counted into the rollup")
    // time travel: AS OF the first batch id = the first arrival's rollup
    val asOf0 = Incremental.readRollupSnapshot(spark, rollup, asOfBatch = 0L)
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 1e4)))
    assert(asOf0.toSeq == rollupOf(first).toSeq, "as-of-0 must be the pre-arrival-2 state")
    assert(Incremental.readRollupSnapshot(spark, rollup)
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1), math.round(r.getDouble(2) * 1e4)))
      .toSeq == rollupOf(li).toSeq)
    // retired history fails loudly instead of silently serving newer state
    intercept[IllegalArgumentException] {
      Incremental.readRollupSnapshot(spark, rollup, asOfBatch = -1L)
    }
    // RUN-IDENTITY GUARD: a FRESH checkpoint against the maintained
    // rollup restarts batch ids at 0 — its live batches would collide
    // with committed snap_0/snap_1 and be skipped as stale (silent data
    // loss); the query-id stamp must reject the run instead
    val freshCkpt = Files.createTempDirectory("graft_rollup_ck_fresh").toString
    val e = intercept[IllegalArgumentException] {
      Incremental.streamRollupMaintain(spark, src, rollup,
        Seq("l_returnflag"), Seq("l_quantity"), "n", freshCkpt)
    }
    assert(e.getMessage.contains("silently"), e.getMessage)
    assert(readRollup().toSeq == rollupOf(li).toSeq, "guard must not touch the rollup")
  }

  test("streamRollupMaintain: null checkpoint derives a stable one tied to the rollup") {
    val src = Files.createTempDirectory("graft_rollup2_src").toString
    val rollup = Files.createTempDirectory("graft_rollup2_tgt").toString + "/agg"
    val li = Tables.lineitem(spark, GraftSpark.Sf0001)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = Files.createTempDirectory("graft_rollup2_scratch").toString
      df.coalesce(1).write.mode("overwrite").parquet(s"$scratch/$name")
      val part = new java.io.File(s"$scratch/$name").listFiles
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    stage(li.filter(col("l_orderkey") % 2 === 0), "p1")
    Incremental.streamRollupMaintain(spark, src, rollup,
      Seq("l_returnflag"), Seq("l_quantity"), "n", null)
    // the second shorthand run (still null) must be INCREMENTAL, not a
    // re-merge: the derived <rollup>/_checkpoint carries the lineage
    stage(li.filter(col("l_orderkey") % 2 =!= 0), "p2")
    val out = Incremental.streamRollupMaintain(spark, src, rollup,
      Seq("l_returnflag"), Seq("l_quantity"), "n", null)
    val got = out.select("l_returnflag", "n").orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = li.groupBy("l_returnflag").agg(count(lit(1)).cast("long").as("n"))
      .orderBy("l_returnflag").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want, "shorthand re-run double-counted or lost data")
    assert(new java.io.File(rollup, "_checkpoint").isDirectory)
    assert(new java.io.File(rollup, "_graft_query_id").isFile)
  }

  test("streamRollupMaintain: snapshotPartitions > 1 writes parallel key-hashed snapshots") {
    val src = Files.createTempDirectory("graft_rollup3_src").toString
    val rollup = Files.createTempDirectory("graft_rollup3_tgt").toString + "/agg"
    val li = Tables.lineitem(spark, GraftSpark.Sf0001)
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val scratch = Files.createTempDirectory("graft_rollup3_scratch").toString
      df.coalesce(1).write.mode("overwrite").parquet(s"$scratch/$name")
      val part = new java.io.File(s"$scratch/$name").listFiles
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name.parquet"))
    }
    stage(li.filter(col("l_orderkey") % 2 === 0), "p1")
    // data-sized rollup key (per-order) → the coalesce(1) escape hatch
    val out = Incremental.streamRollupMaintain(spark, src, rollup,
      Seq("l_orderkey"), graft.etl.Loads.AggSpec.sums(Seq("l_quantity")), "n",
      null, snapshotPartitions = 3)
    val snap = new java.io.File(rollup).listFiles
      .filter(f => f.getName.startsWith("snap_") && new java.io.File(f, "_SUCCESS").exists)
      .maxBy(_.getName.stripPrefix("snap_").toLong)
    assert(snap.listFiles.count(_.getName.endsWith(".parquet")) == 3,
      "snapshot must be written in snapshotPartitions parallel files")
    // still exactly the merge result, and a second arrival stays incremental
    stage(li.filter(col("l_orderkey") % 2 =!= 0), "p2")
    val out2 = Incremental.streamRollupMaintain(spark, src, rollup,
      Seq("l_orderkey"), graft.etl.Loads.AggSpec.sums(Seq("l_quantity")), "n",
      null, snapshotPartitions = 3)
    val got = out2.agg(count(lit(1)), sum("n"), round(sum("l_quantity"), 4))
      .head()
    val want = li.groupBy("l_orderkey").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)), sum("n")).head()
    assert(got.getLong(0) == want.getLong(0), "distinct key count drifted")
    assert(got.getLong(1) == want.getLong(1), "row mass drifted")
    assert(got.getDouble(2) ==
      math.round(li.agg(sum("l_quantity")).head().getDouble(0) * 1e4) / 1e4)
    intercept[IllegalArgumentException](
      Incremental.streamRollupMaintain(spark, src, rollup,
        Seq("l_orderkey"), graft.etl.Loads.AggSpec.sums(Seq("l_quantity")), "n",
        null, snapshotPartitions = 0))
  }

  test("streamBm25Maintain: maintained index serves exactly like a rebuild; " +
      "exactly-once on replay; fresh checkpoint rejected") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_bm25m_src").toString
    val idx = Files.createTempDirectory("graft_bm25m_tgt").toString + "/index"
    val ckpt = Files.createTempDirectory("graft_bm25m_ck").toString
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val qs = Seq((1L, "hash"), (1L, "join"), (2L, "window"), (2L, "sort"))
      .toDF("q_id", "term")
    def serve(ix: graft.ops.Bm25Index) =
      graft.ops.Bm25Index.topK(ix, qs, "q_id", "term", k = 10)
        .orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    def arrive(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      stageArrival(src, df, name)
    def copyDir(from: java.io.File, to: java.io.File): Unit = {
      to.mkdirs()
      from.listFiles.foreach { f =>
        val t = new java.io.File(to, f.getName)
        if (f.isDirectory) copyDir(f, t)
        else java.nio.file.Files.copy(f.toPath, t.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    // arrival 1: 2/3 of the corpus
    val first = docs.filter(col("doc_id") % 3 =!= 0)
    arrive(first, "p1")
    Incremental.streamBm25Maintain(spark, src, idx, "doc_id", "text", ckpt)
    assert(serve(Incremental.readBm25Maintained(spark, idx)) ==
      serve(graft.ops.Bm25Index.build(first, "doc_id", "text")),
      "after arrival 1 the maintained index must equal a rebuild on it")
    // checkpoint snapshot: restoring it later simulates a crash AFTER the
    // batch committed its index artifacts but BEFORE the checkpoint commit
    val ckptBefore = Files.createTempDirectory("graft_bm25m_ck_pre").toString
    copyDir(new java.io.File(ckpt), new java.io.File(ckptBefore))
    // arrival 2: the rest — the SAME checkpoint folds in only the new file
    arrive(docs.filter(col("doc_id") % 3 === 0), "p2")
    Incremental.streamBm25Maintain(spark, src, idx, "doc_id", "text", ckpt)
    val full = serve(graft.ops.Bm25Index.build(docs, "doc_id", "text"))
    assert(serve(Incremental.readBm25Maintained(spark, idx)) == full,
      "after arrival 2 the maintained index must equal a full rebuild")
    // replay with no new data: unchanged (exactly-once via the checkpoint)
    Incremental.streamBm25Maintain(spark, src, idx, "doc_id", "text", ckpt)
    assert(serve(Incremental.readBm25Maintained(spark, idx)) == full)
    // AT-LEAST-ONCE replay: the pre-arrival-2 checkpoint re-delivers p2
    // under its old batch id, whose _committed_ marker exists — skip,
    // never double-count postings or stats
    Incremental.streamBm25Maintain(spark, src, idx, "doc_id", "text", ckptBefore)
    assert(serve(Incremental.readBm25Maintained(spark, idx)) == full,
      "replayed batch double-counted into the maintained index")
    // RUN-IDENTITY GUARD: a fresh checkpoint restarts batch ids at 0 —
    // its live batches would collide with committed markers and be
    // silently skipped; the stamp must reject the run instead
    val freshCkpt = Files.createTempDirectory("graft_bm25m_ck_fresh").toString
    val e = intercept[IllegalArgumentException] {
      Incremental.streamBm25Maintain(spark, src, idx, "doc_id", "text", freshCkpt)
    }
    assert(e.getMessage.contains("silently"), e.getMessage)
    assert(serve(Incremental.readBm25Maintained(spark, idx)) == full,
      "guard must not touch the index")
    // a written index is a maintained root: write the first half, stream
    // the second half onto it, and the read serves like a full rebuild
    val written = Files.createTempDirectory("graft_bm25m_written").toString
    val writtenSrc = Files.createTempDirectory("graft_bm25m_wsrc").toString
    graft.ops.Bm25Index.write(
      graft.ops.Bm25Index.build(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text"), written)
    stageArrival(writtenSrc, docs.filter(col("doc_id") % 2 =!= 0), "p2")
    Incremental.streamBm25Maintain(spark, writtenSrc, written, "doc_id", "text")
    assert(serve(graft.ops.Bm25Index.read(spark, written)) == full,
      "a written half streamed to the full corpus must serve like a full rebuild")
  }

  test("write overwrites a written root and refuses one that holds a stream " +
      "batch, for every index") {
    import graft.ops.{Bm25Index, IvfPqIndex, MinHashIndex, SimJoinIndex}
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    def half(df: org.apache.spark.sql.DataFrame, c: String, i: Int) = df.filter(col(c) % 2 === i)
    val twoIds = spark.range(1, 3).toDF("id")
    // per index: its write of the half i, the documents its read serves,
    // and a write onto the root of an index derived from its own read
    val indexes: Seq[(String, Int => String => Unit, String => Long, Long, String => Unit)] = Seq(
      ("bm25", i => Bm25Index.write(Bm25Index.build(half(docs, "doc_id", i), "doc_id", "text"), _),
        p => Bm25Index.read(spark, p).stats.head().getDouble(0).toLong,
        half(docs, "doc_id", 1).count(),
        p => Bm25Index.write(Bm25Index.append(Bm25Index.read(spark, p),
          half(docs, "doc_id", 0), "doc_id", "text"), p)),
      ("minhash", i => MinHashIndex.write(
          MinHashIndex.build(half(docs, "doc_id", i), "doc_id", "text", 3, 8, 2), _),
        p => MinHashIndex.read(spark, p).sets.count(),
        half(docs, "doc_id", 1).count(),
        p => MinHashIndex.write(MinHashIndex.read(spark, p), p)),
      ("simjoin", i => SimJoinIndex.write(
          SimJoinIndex.build(half(docs, "doc_id", i), "doc_id", "text"), _),
        p => SimJoinIndex.read(spark, p).sets.count(),
        half(docs, "doc_id", 1).count(),
        p => SimJoinIndex.write(SimJoinIndex.read(spark, p), p)),
      ("ivfpq", i => IvfPqIndex.write(
          IvfPqIndex.build(half(emb, "vec_id", i), "vec_id", "embedding",
            nlist = 4, numSubspaces = 8, numCodes = 16), _),
        p => IvfPqIndex.read(spark, p).lists.count(),
        half(emb, "vec_id", 1).count(),
        p => IvfPqIndex.write(IvfPqIndex.erase(IvfPqIndex.read(spark, p), twoIds), p)))
    indexes.foreach { case (what, write, served, odd, writeBack) =>
      val root = Files.createTempDirectory(s"graft_rewrite_$what").toString
      // what the index's layout does not own survives every write
      val foreign = java.nio.file.Paths.get(root, "notes.txt")
      java.nio.file.Files.write(foreign, "kept".getBytes)
      write(0)(root)
      write(1)(root)
      assert(served(root) == odd, s"$what: a second write must replace the first")
      assert(java.nio.file.Files.exists(foreign), s"$what: a write must keep a foreign file")
      def listing = new java.io.File(root).list().sorted.toSeq
      // an index read from the root cannot be written back over it: the
      // write would delete its own input
      val written = listing
      val w = intercept[IllegalArgumentException](writeBack(root))
      assert(w.getMessage.contains("reads its own files"), s"$what: ${w.getMessage}")
      assert(listing == written && served(root) == odd,
        s"$what: a refused write-back must leave the root serving as before")
      // a committed stream batch (its marker is what the layout reads)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(root, "_committed_0"))
      val before = listing
      val e = intercept[IllegalArgumentException](write(0)(root))
      assert(e.getMessage.contains("stream-maintained"), s"$what: ${e.getMessage}")
      assert(listing == before, s"$what: a refused write must leave the root as it was")
    }
  }

  test("streamMinHashMaintain: maintained index queries exactly like the " +
      "static build; exactly-once across runs; parameter mismatch rejected") {
    import org.apache.spark.sql.functions.{col, lit}
    val src = Files.createTempDirectory("graft_mhm_src").toString
    val idx = Files.createTempDirectory("graft_mhm_tgt").toString + "/index"
    val ckpt = Files.createTempDirectory("graft_mhm_ck").toString
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    def arrive(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      stageArrival(src, df, name)
    val batch = docs.filter(col("doc_id") < 30)
      .withColumn("doc_id", col("doc_id") + lit(7000000L))
    def pairsOf(ix: graft.ops.MinHashIndex) =
      graft.ops.MinHashIndex.query(ix, batch, "doc_id", "text", threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val firstHalf = docs.filter(col("doc_id") % 2 === 0)
    arrive(firstHalf, "p1")
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = ckpt)
    assert(pairsOf(Incremental.readMinHashMaintained(spark, idx)) ==
      pairsOf(graft.ops.MinHashIndex.build(firstHalf, "doc_id", "text", 3, 8, 2)),
      "after arrival 1 the maintained index must query like a rebuild on it")
    arrive(docs.filter(col("doc_id") % 2 =!= 0), "p2")
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = ckpt)
    val full = pairsOf(graft.ops.MinHashIndex.build(docs, "doc_id", "text", 3, 8, 2))
    assert(pairsOf(Incremental.readMinHashMaintained(spark, idx)) == full,
      "after arrival 2 the maintained index must query like a full rebuild")
    // every planted near-dup (ids < 30 relabeled) must resolve — the
    // exactly-once check: a double-appended batch would still match, so
    // assert the BUCKET frame carries each doc exactly `bands` times
    Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, checkpointPath = ckpt)
    val perDoc = Incremental.readMinHashMaintained(spark, idx).buckets
      .groupBy("id").count().select("count").distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(perDoc == Seq(8L),
      s"bucket rows per doc must be exactly bands=8, got $perDoc")
    // ERASURE on the maintained root: affected batch dirs rewrite in
    // place, and the erased root queries exactly like a rebuild on the
    // retained corpus; a second erase finds nothing (idempotent)
    val victims = docs.filter(col("doc_id") % 10 === 3).select("doc_id")
    val ledger = Incremental.eraseMinHashMaintained(spark, idx, victims)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ledger.nonEmpty && ledger.forall(l => l._2 - l._3 == l._4))
    assert(ledger.map(_._4).sum == victims.count(), "every victim erased once")
    assert(pairsOf(Incremental.readMinHashMaintained(spark, idx)) ==
      pairsOf(graft.ops.MinHashIndex.build(
        docs.filter(col("doc_id") % 10 =!= 3), "doc_id", "text", 3, 8, 2)),
      "erased maintained root must query like a rebuild on the retained corpus")
    assert(Incremental.eraseMinHashMaintained(spark, idx, victims).isEmpty,
      "re-erasing the same subjects must be a no-op with an empty ledger")
    // shape-parameter mismatch fails loudly instead of mixing signatures
    val e = intercept[IllegalArgumentException](
      Incremental.streamMinHashMaintain(spark, src, idx, "doc_id", "text",
        shingleK = 4, bands = 8, rowsPerBand = 2, checkpointPath = ckpt))
    assert(e.getMessage.contains("incomparable"), e.getMessage)
    // a written index is a maintained root: write the first half, stream
    // the second half onto it, and the read queries like a rebuild on the
    // union
    val writtenIdx = Files.createTempDirectory("graft_mhm_written").toString
    val writtenSrc = Files.createTempDirectory("graft_mhm_wsrc").toString
    graft.ops.MinHashIndex.write(
      graft.ops.MinHashIndex.build(firstHalf, "doc_id", "text", 3, 8, 2), writtenIdx)
    stageArrival(writtenSrc, docs.filter(col("doc_id") % 2 =!= 0), "p2")
    Incremental.streamMinHashMaintain(spark, writtenSrc, writtenIdx, "doc_id",
      "text", shingleK = 3, bands = 8, rowsPerBand = 2)
    assert(pairsOf(graft.ops.MinHashIndex.read(spark, writtenIdx)) == full,
      "a written half streamed to the full corpus must query like a full rebuild")
  }

  test("streamIvfPqMaintain: frozen-model streamed appends serve exactly " +
      "like the batch append; the model must predate the stream") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_ivfm").toString
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val delta = emb.filter(col("vec_id") % 10 === 0)
    val baseIdx = graft.ops.IvfPqIndex.build(base, "vec_id", "embedding",
      nlist = 16, numSubspaces = 8, numCodes = 16)
    graft.ops.IvfPqIndex.write(baseIdx, s"$tmp/index")
    delta.repartition(2, col("vec_id")).write.parquet(s"$tmp/src")
    def serve(ix: graft.ops.IvfPqIndex) =
      graft.ops.IvfPqIndex.topK(ix, emb.filter(col("vec_id") < 20), emb,
          "vec_id", "embedding", k = 3, nprobe = 8)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    Incremental.streamIvfPqMaintain(spark, s"$tmp/src", s"$tmp/index",
      "vec_id", "embedding", maxFilesPerTrigger = 1)
    val expected = serve(
      graft.ops.IvfPqIndex.append(baseIdx, delta, "vec_id", "embedding"))
    assert(serve(Incremental.readIvfPqMaintained(spark, s"$tmp/index")) ==
      expected, "maintained index must serve exactly like the batch append")
    // re-run, no new data: exactly-once (nothing re-appended)
    Incremental.streamIvfPqMaintain(spark, s"$tmp/src", s"$tmp/index",
      "vec_id", "embedding", maxFilesPerTrigger = 1)
    assert(serve(Incremental.readIvfPqMaintained(spark, s"$tmp/index")) == expected)
    // an EMPTY micro-batch's partitioned write leaves a schema-less dir —
    // the reader must skip it, not fail schema inference forever
    val fs = new org.apache.hadoop.fs.Path(s"$tmp/index").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$tmp/index/lists_batch_99"))
    fs.create(new org.apache.hadoop.fs.Path(s"$tmp/index/_committed_99"), true).close()
    assert(serve(Incremental.readIvfPqMaintained(spark, s"$tmp/index")) == expected)
    // the index's own read is the maintained read: every streamed vector
    assert(serve(graft.ops.IvfPqIndex.read(spark, s"$tmp/index")) == expected)
    // a WRITE-BACK is loud (it would hide or double-serve the streamed
    // batches; the unchanged sidecar defeats the generation stamp)
    val eW = intercept[IllegalArgumentException](
      graft.ops.IvfPqIndex.write(baseIdx, s"$tmp/index"))
    assert(eW.getMessage.contains("stream-maintained"), eW.getMessage)
    // an OUT-OF-BAND model rebuild (write() itself rejects maintained
    // roots, so the remaining path is a sidecar replaced behind our back)
    // invalidates the batch dirs' codes — the generation stamp rejects it
    graft.ops.IvfPqIndex.write(
      graft.ops.IvfPqIndex.build(base, "vec_id", "embedding",
        nlist = 8, numSubspaces = 8, numCodes = 16), s"$tmp/index2")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$tmp/index2/_graft_index.json"),
      java.nio.file.Paths.get(s"$tmp/index/_graft_index.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the stale Hadoop LocalFS checksum sidecar the raw copy bypassed
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$tmp/index/._graft_index.json.crc"))
    val e1 = intercept[IllegalArgumentException](
      Incremental.readIvfPqMaintained(spark, s"$tmp/index"))
    assert(e1.getMessage.contains("REBUILT"), e1.getMessage)
    // no persisted model = nothing to encode through — loud failure
    intercept[Exception](Incremental.streamIvfPqMaintain(
      spark, s"$tmp/src", s"$tmp/nothere", "vec_id", "embedding"))
  }

  test("rebuildIfDrifted: within-budget recall is a no-op; drifted recall " +
      "rebuilds the next generation that recovers the planted clone") {
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    // the IvfPqIndexSpec drift geometry: region A (dims 0-3, pre-freeze)
    // trains the model; region B (dims 4-7, post-freeze) streams in and
    // is invisible to the frozen model's probe/ADC (exact zero ties)
    val bases = Array(
      Array(200.0, 10.0, 1.0, 1.0), Array(1.0, 200.0, 10.0, 1.0),
      Array(1.0, 1.0, 200.0, 10.0), Array(10.0, 1.0, 1.0, 200.0))
    val a = (0L until 16L).map { i =>
      val g = (i % 4).toInt
      val v = bases(g).clone(); v((g + 2) % 4) += i * 0.25
      (i, v ++ Array(0.0, 0.0, 0.0, 0.0))
    }
    val dirs = (for { i <- 0 until 4; j <- 0 until 4 if i != j } yield {
      val v = Array.fill(4)(0.0); v(i) = 60.0; v(j) = 80.0; v }).toIndexedSeq
    val b = dirs.zipWithIndex.map { case (d, i) =>
      (200L + i, Array(0.0, 0.0, 0.0, 0.0) ++ d) }
    val corpus = (a ++ b).toDF("vec_id", "embedding")
    val tmp = Files.createTempDirectory("graft_ivfdrift").toString
    graft.ops.IvfPqIndex.write(
      graft.ops.IvfPqIndex.build(corpus.filter(col("vec_id") < 100L),
        "vec_id", "embedding", nlist = 4, numSubspaces = 2, numCodes = 4),
      s"$tmp/index")
    corpus.filter(col("vec_id") >= 100L).repartition(1)
      .write.parquet(s"$tmp/src")
    Incremental.streamIvfPqMaintain(spark, s"$tmp/src", s"$tmp/index",
      "vec_id", "embedding")
    val probe = Seq((500L, b.last._2)).toDF("vec_id", "embedding")
    // within budget: NO rebuild, destination never created — and the
    // measured recall is still returned (no second audit needed to log it)
    val (recallNoop, noop) = Incremental.rebuildIfDrifted(spark,
      s"$tmp/index", s"$tmp/gen2", corpus, "vec_id", "embedding", probe,
      minRecall = 0.1, k = 3, nprobe = 2, nlist = 4, numSubspaces = 2,
      numCodes = 4)
    assert(noop.isEmpty && recallNoop >= 0.1)
    assert(!new java.io.File(s"$tmp/gen2").exists())
    // drifted below budget: rebuild fires, reports the measured recall,
    // and the next generation recovers the planted region-B clone
    val (recall, Some(rebuilt)) = Incremental.rebuildIfDrifted(spark,
      s"$tmp/index", s"$tmp/gen2", corpus, "vec_id", "embedding", probe,
      minRecall = 0.9, k = 3, nprobe = 2, nlist = 4, numSubspaces = 2,
      numCodes = 4): @unchecked
    assert(recall < 0.9 && recall == recallNoop, s"fixture recall $recall")
    val top = graft.ops.IvfPqIndex.topK(rebuilt, probe, corpus,
      "vec_id", "embedding", k = 3, nprobe = 2).collect()
    assert(top.head.getLong(1) == b.last._1 && top.head.getDouble(2) == 1.0,
      s"rebuilt generation must recover the clone: ${top.toSeq}")
    // an EMPTY query sample yields n_truth 0 and a vacuous recall, which
    // a bare `>= minRecall` compare would read as drifted — silently
    // rebuilding on every cadence. The gate must fail loudly instead,
    // with the destination never created.
    val eEmpty = intercept[IllegalArgumentException](
      Incremental.rebuildIfDrifted(spark, s"$tmp/index", s"$tmp/gen3",
        corpus, "vec_id", "embedding", probe.filter(col("vec_id") < 0L),
        minRecall = 0.9, k = 3, nprobe = 2, nlist = 4, numSubspaces = 2,
        numCodes = 4))
    assert(eEmpty.getMessage.contains("EMPTY query sample"), eEmpty.getMessage)
    assert(!new java.io.File(s"$tmp/gen3").exists())
  }

  test("rebuildIvfPqMaintained: fresh retrained generation serves the same " +
      "id universe; the old root is untouched; in-place rebuild refused") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_ivfrb").toString
    graft.ops.IvfPqIndex.write(
      graft.ops.IvfPqIndex.build(emb.filter(col("vec_id") % 10 =!= 0),
        "vec_id", "embedding", nlist = 16, numSubspaces = 8, numCodes = 16),
      s"$tmp/index")
    emb.filter(col("vec_id") % 10 === 0).repartition(2, col("vec_id"))
      .write.parquet(s"$tmp/src")
    Incremental.streamIvfPqMaintain(spark, s"$tmp/src", s"$tmp/index",
      "vec_id", "embedding", maxFilesPerTrigger = 1)
    def serve(ix: graft.ops.IvfPqIndex) =
      graft.ops.IvfPqIndex.topK(ix, emb.filter(col("vec_id") < 20), emb,
          "vec_id", "embedding", k = 3, nprobe = 8)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    val beforeServe = serve(Incremental.readIvfPqMaintained(spark, s"$tmp/index"))
    val rebuilt = Incremental.rebuildIvfPqMaintained(spark,
      s"$tmp/index", s"$tmp/gen2", emb, "vec_id", "embedding",
      nlist = 16, numSubspaces = 8, numCodes = 16)
    // same served universe (base + every streamed batch), now under a
    // model trained on ALL of it — and equal to a from-scratch build,
    // since the maintained universe here is the full corpus
    def ids(ix: graft.ops.IvfPqIndex) =
      ix.lists.select("n_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(rebuilt) == ids(Incremental.readIvfPqMaintained(spark, s"$tmp/index")))
    val fromScratch = graft.ops.IvfPqIndex.build(emb, "vec_id", "embedding",
      nlist = 16, numSubspaces = 8, numCodes = 16)
    assert(serve(rebuilt) == serve(fromScratch),
      "rebuilt generation must serve exactly like a from-scratch build")
    // the new generation is a plain static root (stream-maintainable next)
    assert(serve(graft.ops.IvfPqIndex.read(spark, s"$tmp/gen2")) == serve(rebuilt))
    // blue/green: the OLD root still serves, stamp and batch dirs intact
    assert(serve(Incremental.readIvfPqMaintained(spark, s"$tmp/index")) == beforeServe)
    // in-place rebuild is exactly the hazard the generation stamp refuses
    val e = intercept[IllegalArgumentException](
      Incremental.rebuildIvfPqMaintained(spark, s"$tmp/index", s"$tmp/index",
        emb, "vec_id", "embedding"))
    assert(e.getMessage.contains("FRESH"), e.getMessage)
  }

  test("streamSimJoinMaintain: first-batch-frozen order still serves the " +
      "exact bipartite pair set; param mismatch and static roots rejected") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, GraftSpark.Sf0001)
    val tmp = Files.createTempDirectory("graft_sjm").toString
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    corpus.repartition(3, col("doc_id")).write.parquet(s"$tmp/src")
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Incremental.streamSimJoinMaintain(spark, s"$tmp/src", s"$tmp/index",
      "doc_id", "text", shingleK = 3, threshold = 0.5, maxFilesPerTrigger = 1)
    val expected = pairsOf(graft.ops.SimJoin.incrementalPairs(corpus, batch,
      "doc_id", "text", shingleK = 3, threshold = 0.5))
    assert(pairsOf(graft.ops.SimJoinIndex.pairs(
      Incremental.readSimJoinMaintained(spark, s"$tmp/index"),
      batch, "doc_id", "text")) == expected,
      "first-batch-frozen rarity order changed the served pair set")
    // re-run, no new data: unchanged
    Incremental.streamSimJoinMaintain(spark, s"$tmp/src", s"$tmp/index",
      "doc_id", "text", shingleK = 3, threshold = 0.5, maxFilesPerTrigger = 1)
    assert(pairsOf(graft.ops.SimJoinIndex.pairs(
      Incremental.readSimJoinMaintained(spark, s"$tmp/index"),
      batch, "doc_id", "text")) == expected)
    // ERASURE on the maintained root: victim-bearing dirs rewrite, the
    // erased root serves the rebuild-without-victims pair set, second
    // erase is a no-op
    val victims = corpus.filter(col("doc_id") % 4 === 1).select("doc_id")
    val ledger = Incremental.eraseSimJoinMaintained(spark, s"$tmp/index", victims)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ledger.nonEmpty && ledger.forall(l => l._1 - l._3 == l._2))
    assert(ledger.map(_._3).sum == victims.count())
    assert(pairsOf(graft.ops.SimJoinIndex.pairs(
      Incremental.readSimJoinMaintained(spark, s"$tmp/index"),
      batch, "doc_id", "text")) ==
      pairsOf(graft.ops.SimJoin.incrementalPairs(
        corpus.filter(col("doc_id") % 4 =!= 1), batch,
        "doc_id", "text", shingleK = 3, threshold = 0.5)),
      "erased maintained root must serve the rebuild-without-victims pairs")
    assert(Incremental.eraseSimJoinMaintained(
      spark, s"$tmp/index", victims).isEmpty)
    // incomparable parameters rejected before any write
    val e1 = intercept[IllegalArgumentException](
      Incremental.streamSimJoinMaintain(spark, s"$tmp/src", s"$tmp/index",
        "doc_id", "text", shingleK = 3, threshold = 0.6))
    assert(e1.getMessage.contains("incomparable"), e1.getMessage)
    // a written index is a maintained root: write the first half of the
    // corpus, stream the second half onto it (the written freq/ is the
    // frozen order), and the read serves the pair set of the union
    graft.ops.SimJoinIndex.write(
      graft.ops.SimJoinIndex.build(corpus.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", shingleK = 3, threshold = 0.5), s"$tmp/written")
    new java.io.File(s"$tmp/wsrc").mkdirs()
    stageArrival(s"$tmp/wsrc", corpus.filter(col("doc_id") % 2 =!= 0), "p2")
    Incremental.streamSimJoinMaintain(spark, s"$tmp/wsrc", s"$tmp/written",
      "doc_id", "text", shingleK = 3, threshold = 0.5)
    assert(pairsOf(graft.ops.SimJoinIndex.pairs(
      graft.ops.SimJoinIndex.read(spark, s"$tmp/written"),
      batch, "doc_id", "text")) == expected,
      "a written half streamed to the full corpus must serve its pair set")
    // a member dir holding anything but batch and compact dirs is a layout
    // no reader resolves: the maintainer refuses it instead of hiding it
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$tmp/written/prefixes/part-0.parquet"))
    val e2 = intercept[IllegalArgumentException](
      Incremental.streamSimJoinMaintain(spark, s"$tmp/wsrc", s"$tmp/written",
        "doc_id", "text", shingleK = 3, threshold = 0.5))
    assert(e2.getMessage.contains("neither batch nor compact"), e2.getMessage)
  }

  test("caller-supplied delaySec skips the declaration-time span probe " +
      "and matches the probe-default results") {
    import scala.jdk.CollectionConverters._
    val evPath = s"${GraftSpark.Sf0001}/events.parquet"
    val ev = Tables.events(spark, GraftSpark.Sf0001) // sets nanosAsLong
    val lookbackUs = 7L * 86400L * 1000000L
    // compute the sufficient delays BEFORE the listener is live (this
    // scan is itself a max-min agg and would pollute the probe check)
    val spanSec = ev.agg((unix_micros(max("ts")) - unix_micros(min("ts")))
      .divide(1000000L).cast("long")).head().getLong(0)
    val touchDelay = spanSec + lookbackUs / 1000000L + 1L
    val sessDelay = spanSec + 1800L + 1L
    def channelTotals(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("channel")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("v"))
      .orderBy("channel").collect().toSeq
    val defaultTouch = channelTotals(
      Incremental.streamingLastTouch(spark, evPath, lookbackUs))
    val defaultSess = Incremental.statefulSessionCounts(spark, evPath,
      "ts", "user_id", gapUs = 1800L * 1000000).orderBy("user_id").collect().toSeq

    // the probe is the only batch action whose plan aggregates BOTH a max
    // and a min over the source; record analyzed plans and assert absence
    // CopyOnWriteArrayList: the listener bus appends concurrently with
    // the polling iteration below
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        seen.add(qe.analyzed.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    def awaitFlushed(tag: String): Unit = {
      spark.range(1).select(lit(tag).as("m")).head()
      val deadline = System.nanoTime + 30L * 1000000000L
      while (!seen.asScala.exists(_.contains(tag)) && System.nanoTime < deadline)
        Thread.sleep(50)
      assert(seen.asScala.exists(_.contains(tag)), "listener bus never drained")
    }
    def probeSeen = seen.asScala.exists(p => p.contains("max(") && p.contains("min("))
    spark.listenerManager.register(listener)
    try {
      val withDelayTouch = channelTotals(
        Incremental.streamingLastTouch(spark, evPath, lookbackUs,
          delaySec = touchDelay))
      val withDelaySess = Incremental.statefulSessionCounts(spark, evPath,
          "ts", "user_id", gapUs = 1800L * 1000000, delaySec = sessDelay)
        .orderBy("user_id").collect().toSeq
      awaitFlushed("__graft_flush_nodelay__")
      assert(!probeSeen, "delaySec must skip the span probe scan")
      assert(withDelayTouch == defaultTouch)
      assert(withDelaySess == defaultSess)
      // positive control: the default path DOES run the probe
      Incremental.streamingLastTouch(spark, evPath, lookbackUs)
      awaitFlushed("__graft_flush_default__")
      assert(probeSeen, "probe-check pattern lost track of the default path")
    } finally spark.listenerManager.unregister(listener)
  }

  test("streamingLastTouch on an empty source returns an empty credit frame") {
    val tmp = Files.createTempDirectory("graft_emptysrc").toString
    Tables.events(spark, GraftSpark.Sf0001).limit(0)
      .write.parquet(s"$tmp/events.parquet")
    // probe-default path: the span aggregate is NULL on zero rows
    val out = Incremental.streamingLastTouch(spark, s"$tmp/events.parquet",
      lookbackUs = 1000000L)
    assert(out.count() == 0)
    assert(out.columns.toSeq ==
      Seq("user_id", "purchase_id", "channel", "value"))
  }
}
