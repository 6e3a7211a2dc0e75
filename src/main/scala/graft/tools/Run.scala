package graft.tools

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Verify}
import graft.ops.MinHashIndex
import graft.sources.Parquet
import graft.streaming.Incremental

/** The one dev runner: `runMain graft.tools.Run <mode> <args…>`.
  *
  * One session recipe, Bench's and Verify's: `local[$SPARK_GRAFT_CPUS]`
  * (default 4) with as many shuffle partitions, UTC, no UI, WARN logs,
  * and the input tables from `SPARK_GRAFT_SF_DIR` (default sf0.1). Any
  * other Spark setting comes from a `-Dspark.*` system property (through
  * `JAVA_TOOL_OPTIONS`, which the forked JVM inherits). A query list
  * `<q…>` takes names, `@file` (one name a line) or `all`.
  *
  *  - `show <q…>`: the first 50 rows, untruncated, and the row count;
  *  - `count <q…>`: `count()` alone, so Catalyst drops the final sort;
  *  - `dump <out> <q…>`: Verify's layout and oracle file, for the named
  *    queries, so `tools/check_oracle.py <sf> <out>` runs on it directly;
  *  - `plan <q…>`: the formatted physical plan;
  *  - `final-plan <q…>`: collect, then the final adaptive plan;
  *  - `time <q…>`: each query constructed and run to the noop sink twice
  *    (cold, then warm), one JSON line of [[QueryCost]] records per run;
  *  - `scaleup <factor> <out>`: the ×factor corpus ([[scaleUp]]);
  *  - `compaction <nBatches>`: the compaction probe ([[compaction]]).
  */
object Run {
  private val Cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
  private val SfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  private val Samples = 2

  def main(args: Array[String]): Unit = {
    val mode: SparkSession => Unit = args.toList match {
      case "show" :: qs => show(names(qs))
      case "count" :: qs => count(names(qs))
      case "dump" :: out :: qs => dump(out, names(qs))
      case "plan" :: qs => plan(names(qs), executed = false)
      case "final-plan" :: qs => plan(names(qs), executed = true)
      case "time" :: qs => time(names(qs))
      case "scaleup" :: factor :: out :: Nil => scaleUp(factor.toInt, out)
      case "compaction" :: nBatches :: Nil => compaction(nBatches.toInt)
      case _ => throw new IllegalArgumentException("usage: Run show|count|plan|final-plan|time " +
        "<q…> | dump <out> <q…> | scaleup <factor> <out> | compaction <nBatches>")
    }
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try mode(spark) finally spark.stop()
  }

  /** The declared queries named by `args`: `all`, `@file` or names. */
  private def names(args: Seq[String]): Seq[String] = {
    val qs = args.flatMap {
      case "all" => SparkEntry.queries.keys.toSeq.sorted
      case f if f.startsWith("@") =>
        Files.readAllLines(Paths.get(f.drop(1))).asScala.map(_.trim).filter(_.nonEmpty)
      case q => Seq(q)
    }
    val unknown = qs.filterNot(SparkEntry.queries.contains)
    require(qs.nonEmpty && unknown.isEmpty, s"no query, or unknown: ${unknown.mkString(", ")}")
    qs
  }

  private def query(spark: SparkSession, q: String): DataFrame = SparkEntry.queries(q)(spark, SfDir)

  /** `body`'s value and the seconds it took. */
  private def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The least of [[Samples]] timings of `body`, printed with every sample. */
  private def best(what: String)(body: => Any): Unit = {
    val ts = Seq.fill(Samples)(secs(body)._2)
    println(f"""[run] {"probe":"$what","min_sec":${ts.min}%.2f,"samples":[${ts.map(t => f"$t%.2f").mkString(",")}]}""")
  }

  private def show(qs: Seq[String])(spark: SparkSession): Unit = qs.foreach { q =>
    val df = query(spark, q)
    df.show(50, truncate = false)
    println(s"[show] $q rows=${df.count()}")
  }

  private def count(qs: Seq[String])(spark: SparkSession): Unit = qs.foreach { q =>
    val (n, s) = secs(query(spark, q).count())
    println(f"[count] $q rows=$n $s%.2f s")
  }

  private def dump(out: String, qs: Seq[String])(spark: SparkSession): Unit = {
    qs.foreach(Verify.dumpQuery(spark, SfDir, out, _))
    Verify.writeOracles(out, qs)
  }

  private def plan(qs: Seq[String], executed: Boolean)(spark: SparkSession): Unit = qs.foreach { q =>
    println(s"\n===== PLAN $q =====")
    val df = query(spark, q)
    if (executed) {
      // collect through THE SAME QueryExecution: a noop write builds its
      // own, leaving df.queryExecution at isFinalPlan=false
      df.collect()
      println(df.queryExecution.executedPlan.toString)
    } else df.explain("formatted")
  }

  private def time(qs: Seq[String])(spark: SparkSession): Unit = {
    val cost = new QueryCost(spark)
    // Bench's untimed warm-up: JVM, codegen and parquet-footer start-up
    // would otherwise land on the first query
    try Parquet.read(spark, s"$SfDir/lineitem.parquet")
      .filter("l_orderkey > 0").groupBy("l_returnflag").count().collect()
    catch { case _: Throwable => () }
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    qs.foreach { q =>
      // a failed cold run skips the warm one, as in Bench
      Seq("cold", "warm").forall { run =>
        heap.foreach(_.resetPeakUsage())
        val head = s""""query":"$q","run":"$run""""
        try {
          val (df, construct) = cost.measure(s"$q/$run/construct")(query(spark, q))
          val (_, execute) = cost.measure(s"$q/$run/execute")(
            df.write.format("noop").mode("overwrite").save())
          val heapMb = heap.map(_.getPeakUsage.getUsed).sum >> 20
          println(s"""{$head,"construct_s":${construct.wallMs / 1e3},"wall_s":${execute.wallMs / 1e3},""" +
            s""""heap_peak_mb":$heapMb,"construct":${construct.json},"execute":${execute.json}}""")
          true
        } catch { case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          println(s"""{$head,"error":${Verify.jsonQuote(msg)}}""")
          false
        }
      }
    }
  }

  /** Length of the union of `[start, end)` intervals: overlapped stretches
    * count once, empty intervals not at all (perfbench's
    * `Stats.unionLength`).
    */
  def unionLength(intervals: Seq[(Long, Long)]): Long =
    intervals.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((covered, reach), (s, e)) =>
        (covered + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }._1

  /** One job of a measured phase: its SQL execution's id (-1 when it ran
    * outside one) and description (the action's call site), and its
    * epoch-ms interval (`end` -1 while running).
    */
  final case class Job(tag: String, exec: Long, desc: String, start: Long, end: Long)

  /** What one measured phase did in its epoch-ms window `[t0, t1]`: its
    * jobs, its stage counters and the plan phase times of the queries
    * whose analysis started in it.
    */
  final case class Phase(t0: Long, t1: Long, jobs: Seq[Job], counters: Seq[(String, Long)]) {
    def wallMs: Long = t1 - t0

    /** The driver gap: the window minus the union of the job intervals
      * clipped to it, never their sum, which counts concurrent jobs twice.
      */
    def gapMs: Long = wallMs - unionLength(jobs.map(j => (math.max(j.start, t0), math.min(j.end, t1))))

    /** The counters, the gap and, per SQL execution, its id, jobs, the
      * seconds its jobs covered and its description.
      */
    def json: String = {
      val execs = jobs.groupBy(_.exec).toSeq.sortBy(_._1).map { case (id, js) =>
        s"[$id,${js.size},${unionLength(js.map(j => (j.start, j.end))) / 1e3},${Verify.jsonQuote(js.head.desc)}]"
      }
      (Seq("jobs" -> jobs.size.toString) ++ counters.map { case (k, v) => k -> v.toString } ++
        Seq("driver_gap_s" -> (gapMs / 1e3).toString, "executions" -> execs.mkString("[", ",", "]")))
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }
  }

  /** The engine cost of tagged phases, from one listener on the session.
    * A phase's jobs carry its tag in a local property, which threads it
    * starts inherit (and `ops.Concurrent.awaitAll` passes on), and each job
    * carries its SQL execution id, so AQE's stage and broadcast jobs count
    * under the action that caused them, whatever their call site. The same
    * object, as a QueryExecutionListener, takes each query's analysis,
    * optimization and planning times from `qe.tracker`, by the window its
    * analysis started in. It listens on `spark` from its construction.
    */
  final class QueryCost(spark: SparkSession) extends SparkListener with QueryExecutionListener {
    private val TagKey = "graft.run.phase"
    private val PlanPhases = Seq("analysis", "optimization", "planning")
    private val Counters = Seq("stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
      "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageTag = mutable.HashMap.empty[Int, String]
    private val totals = mutable.HashMap.empty[String, Array[Long]]
    private val plans = mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    private val descs = mutable.HashMap.empty[Long, String]
    private var events = 0L
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events += 1
      Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach { tag =>
        val exec = Option(e.properties.getProperty("spark.sql.execution.id")).fold(-1L)(_.toLong)
        jobs(e.jobId) = Job(tag, exec, descs.getOrElse(exec, ""), e.time, -1L)
        e.stageIds.foreach(stageTag(_) = tag)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      events += 1
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      events += 1
      val si = e.stageInfo
      for (tag <- stageTag.get(si.stageId); m <- Option(si.taskMetrics)) {
        val t = totals.getOrElseUpdate(tag, new Array[Long](Counters.size))
        Seq(1L, si.numTasks.toLong, m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
          .zipWithIndex.foreach { case (v, i) => t(i) += v }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized { descs(s.executionId) = s.description }
      case _ => ()
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

    private def planned(qe: QueryExecution): Unit = {
      val ps = PlanPhases.map(qe.tracker.phases.get)
      ps.flatten.map(_.startTimeMs).minOption.foreach { start => synchronized {
        events += 1
        plans += start -> ps.map(_.fold(0L)(p => p.endTimeMs - p.startTimeMs))
      } }
    }

    /** `body`'s value and its record, run as the phase `tag`. */
    def measure[A](tag: String)(body: => A): (A, Phase) = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(TagKey)
      sc.setLocalProperty(TagKey, tag)
      val t0 = System.currentTimeMillis()
      val a = try body finally sc.setLocalProperty(TagKey, prev)
      val t1 = System.currentTimeMillis()
      settle(tag)
      (a, take(tag, t0, t1))
    }

    /** The listener bus posts asynchronously: wait until no job of `tag`
      * is open and no event arrived for 100 ms (10 s at most).
      */
    private def settle(tag: String): Unit = {
      val deadline = System.nanoTime() + 10L * 1000000000L
      var last = -1L
      while (System.nanoTime() < deadline &&
          synchronized(events != last || jobs.valuesIterator.exists(j => j.tag == tag && j.end < 0))) {
        last = synchronized(events)
        Thread.sleep(100)
      }
    }

    private def take(tag: String, t0: Long, t1: Long): Phase = synchronized {
      val js = jobs.values.filter(_.tag == tag).toSeq
      jobs.filterInPlace((_, j) => j.tag != tag)
      stageTag.filterInPlace((_, t) => t != tag)
      val ps = plans.collect { case (s, p) if s >= t0 && s <= t1 => p }
      plans.filterInPlace(_._1 > t1)
      val cs = totals.remove(tag).getOrElse(new Array[Long](Counters.size))
      val planMs = PlanPhases.indices.map(i => ps.map(_(i)).sum)
      Phase(t0, t1, js, Counters.zip(cs) ++ PlanPhases.map(_ + "_ms").zip(planMs))
    }
  }

  /** The compaction probe: a stream-maintained MinHash root over the
    * documents table split into `nBatches` micro-batches (one committed
    * batch dir pair per file), then — at the SAME corpus — the serve and
    * the erase victim probe timed against the many-leg root and against
    * the compacted one-leg generation. The erase probe uses an absent
    * victim id, so only the probe itself runs (no rewrites). Run it on a
    * [[scaleUp]] corpus for the scale point (BASELINE.md §r16).
    */
  private def compaction(nBatches: Int)(spark: SparkSession): Unit = {
    import spark.implicits._
    val docs = Parquet.read(spark, s"$SfDir/documents.parquet")
    val tmp = Files.createTempDirectory("graft_cprobe").toString
    docs.repartition(nBatches, col("doc_id")).write.parquet(s"$tmp/src")
    println(s"[cprobe] ingesting $nBatches micro-batches from $SfDir ...")
    val (_, ingest) = secs(Incremental.streamMinHashMaintain(
      spark, s"$tmp/src", s"$tmp/index", "doc_id", "text",
      shingleK = 3, bands = 8, rowsPerBand = 2, maxFilesPerTrigger = 1))
    println(f"[cprobe] ingest: $ingest%.1f s, " +
      s"tail=${Incremental.maintainedTailBatches(spark, s"$tmp/index")} batches")
    val batch = docs.filter(col("doc_id") < 100)
      .withColumn("doc_id", col("doc_id") + lit(90000000L))
    def probe(legs: String): Unit = {
      best(s"serve_$legs")(MinHashIndex.query(
        Incremental.readMinHashMaintained(spark, s"$tmp/index"),
        batch, "doc_id", "text", threshold = 0.8).count())
      best(s"erase_probe_$legs")(Incremental.eraseMinHashMaintained(
        spark, s"$tmp/index", Seq(-1L).toDF("doc_id")).count())
    }
    probe(s"${nBatches}_legs")
    val (gen, compactS) = secs(Incremental.compactMinHashMaintained(spark, s"$tmp/index"))
    println(f"[cprobe] compaction to generation $gen: $compactS%.1f s")
    probe("compacted")
    val p = new Path(tmp)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** A self-generated scale-up corpus for the scaling probe: the input
    * fixture replicated `factor`× with key remapping into `outDir`, so
    * every 100 TB design claim gets a measured point instead of only a
    * plan audit.
    *
    * Key domains shift by `replica × (max_key + 1)` so referential
    * integrity holds inside every replica (orders→customer,
    * lineitem→orders/part/supplier, events.user_id→customer); the tiny
    * region/nation dimensions copy as-is and keep their foreign keys
    * unshifted. Document TEXT tokens get a per-replica suffix so replicas
    * share no shingles: the near-dup pair structure is exactly `factor`
    * independent copies of the original (output scales linearly by
    * construction — the right yardstick for measuring PLAN scaling, not a
    * quadratic cross-replica duplicate blow-up). Embeddings shift by a
    * tiny per-replica epsilon for the same reason (no artificial exact
    * ties in top-k).
    */
  private def scaleUp(factor: Int, outDir: String)(spark: SparkSession): Unit = {
    def tbl(name: String) = Parquet.read(spark, s"$SfDir/$name.parquet")
    def off(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val custOff = off(tbl("customer"), "c_custkey")
    val suppOff = off(tbl("supplier"), "s_suppkey")
    val partOff = off(tbl("part"), "p_partkey")
    val ordOff = off(tbl("orders"), "o_orderkey")
    val evOff = off(tbl("events"), "event_id")
    val docOff = off(tbl("documents"), "doc_id")
    val vecOff = off(tbl("embeddings"), "vec_id")

    /** `factor` shifted replicas in ONE map-side pass (explode a literal
      * replica-index array; no shuffle), keys shifted per domain.
      */
    def replicate(df: DataFrame, shifts: Map[String, Long])(
        extra: DataFrame => DataFrame = identity): DataFrame = {
      val exploded = df
        .withColumn("__i", explode(lit((0 until factor).toArray)))
      val shifted = shifts.foldLeft(exploded) { case (d, (c, o)) =>
        d.withColumn(c, col(c) + col("__i") * lit(o))
      }
      extra(shifted).drop("__i")
    }

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] wrote $name")
    }

    write(tbl("region"), "region")
    write(tbl("nation"), "nation")
    write(replicate(tbl("customer"), Map("c_custkey" -> custOff))(), "customer")
    write(replicate(tbl("supplier"), Map("s_suppkey" -> suppOff))(), "supplier")
    write(replicate(tbl("part"), Map("p_partkey" -> partOff))(), "part")
    write(replicate(tbl("orders"),
      Map("o_orderkey" -> ordOff, "o_custkey" -> custOff))(), "orders")
    write(replicate(tbl("lineitem"),
      Map("l_orderkey" -> ordOff, "l_partkey" -> partOff,
        "l_suppkey" -> suppOff))(), "lineitem")
    write(replicate(tbl("events"),
      Map("event_id" -> evOff, "user_id" -> custOff))(), "events")
    // disjoint shingles across replicas: suffix every token with the
    // replica index (replica 0 keeps the original text verbatim)
    write(replicate(tbl("documents"), Map("doc_id" -> docOff)) { d =>
      d.withColumn("text",
          when(col("__i") === 0, col("text"))
            .otherwise(array_join(
              transform(split(col("text"), " "),
                t => concat(t, lit("_"), col("__i"))), " ")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")
    // per-replica epsilon keeps top-k free of artificial exact ties
    write(replicate(tbl("embeddings"), Map("vec_id" -> vecOff)) { d =>
      d.withColumn("embedding",
        transform(col("embedding"),
          x => x + (col("__i").cast("float") * lit(0.001f))))
    }, "embeddings")
    println(s"[scaleup] done: factor=$factor out=$outDir")
  }
}
