package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation of a closed loop: `run` does the timed work; `inspect`
  * runs after the operation's time and span have ended, so the traced
  * run's file listings and the like stay out of both.
  */
final case class Op(kind: String, run: () => Unit, inspect: () => Unit = () => ())

/** A workload as one client sees it. */
trait Workload {
  /** The operation kind whose latency is `op_s`. */
  def primary: String
  /** Operations in one turn of the workload's fixed mix. The measured loop
    * ends on the first turn boundary after `--seconds`, so every run
    * measures the same mix. Turns are longer than the benchmark's window,
    * so a run measures one turn unless the box runs twice as fast: with
    * shorter turns, the number a run measured followed the box's drift,
    * and latencies that fall through a run moved the median with it.
    */
  def cycle: Int
  /** Untimed work run after set-up, covering every operation kind: it
    * fills caches and lets the JIT compile the measured paths, which kept
    * speeding up for several operations after the first.
    */
  def warm(): Unit
  /** Generator, source database and initial targets, built under `dir`. */
  def setup(dir: Path): Unit
  /** The next operation, with generator-side preparation already done. */
  def next(): Op
  /** Correctness gate over the state the loop left; throws on mismatch. */
  def verify(): Unit
  /** Layer metrics only the workload can compute (file listings, rows it
    * generated and the like), for the traced run whose measured operations
    * spanned `ops`.
    */
  def layerCounts(ops: Seq[(Long, Long)]): Map[String, Double] = Map.empty
}

final class Ctx(val spark: SparkSession, val tracer: Tracer, val gen: Gen)

object Main {
  val Workloads: Map[String, Ctx => Workload] = Map(
    "etl_daily" -> (c => new EtlDaily(c)),
    "index_lifecycle" -> (c => new IndexLifecycle(c)),
    "query_fleet" -> (c => new QueryFleet(c)))

  /** The untraced run's metrics, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_s.p50" -> "s", "ops_per_s" -> "1/s", "ok_frac" -> "1",
    "heap_live_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", "perfbench-work")).toAbsolutePath
    val result = run(workload, seed, seconds, trace, work)
    println(result)
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path): String = {
    Files.createDirectories(work)
    System.setProperty("derby.stream.error.file", work.resolve("derby.log").toString)
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, new Gen(seed))
    val w = Workloads(workload)(ctx)

    val setupStart = System.nanoTime()
    w.setup(work.resolve("setup"))
    val setupS = (System.nanoTime() - setupStart) / 1e9
    val warmStart = System.nanoTime()
    w.warm()
    val warmS = (System.nanoTime() - warmStart) / 1e9

    val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var attempted = 0
    var failed = 0
    val opSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || attempted % w.cycle != 0) {
      val op = w.next()
      attempted += 1
      tracer.beginOp(attempted)
      val s = System.nanoTime()
      val ts = tracer.now()
      val ok =
        try {
          tracer.span(s"op.${op.kind}")(op.run())
          samples.getOrElseUpdate(op.kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - s) / 1e9
          true
        } catch {
          case e: Throwable =>
            failed += 1
            System.err.println(s"[perfbench] $workload op $attempted (${op.kind}) failed: $e")
            false
        }
      opSpans += ((ts, tracer.now()))
      if (ok && tracer.measuring) op.inspect()
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    tracer.beginOp(-1)

    val verifyStart = System.nanoTime()
    val correct =
      try { w.verify(); true }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $workload correctness gate FAILED: $e")
          false
      }
    val verifyS = (System.nanoTime() - verifyStart) / 1e9
    val prim = samples.getOrElse(w.primary, mutable.ArrayBuffer.empty[Double]).toSeq
    val completed = attempted - failed
    System.err.println(f"[perfbench] $workload seed=$seed ops=$attempted failed=$failed " +
      f"primary=${prim.size} tail=${Stats.tailPercentile(prim.size).getOrElse(Double.NaN)} " +
      f"setup=$setupS%.2f session=$sessionS%.2f " +
      f"warm=$warmS%.2f loop=$loopS%.2f verify=$verifyS%.2f " +
      samples.map { case (k, v) => f"$k:n=${v.size},p50=${Stats.median(v.toSeq)}%.3f[${v.map(x => f"$x%.2f").mkString(",")}]" }.mkString(" "))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val values = Map(
          "setup_s" -> (sessionS + setupS),
          "op_s.p50" -> (if (prim.nonEmpty) Stats.median(prim) else Double.NaN),
          "ops_per_s" -> completed / loopS,
          "ok_frac" -> (if (attempted > 0) completed.toDouble / attempted else 0.0),
          "heap_live_mb" -> LiveHeap.mb())
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      }
      else {
        tracer.drain()
        tracer.writeSpans(work.getParent.resolve("traces").resolve(s"$workload-$seed.jsonl"))
        Layers.metrics(tracer, opSpans.toSeq, samples.map { case (k, v) => k -> v.size }.toMap,
          w.primary, w.layerCounts(opSpans.toSeq))
      }
    spark.stop()
    val m = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${m.mkString(",")}}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Live heap after a full collection: what the run still holds once its
  * loop is done. Occupancy sampled at the collector's own pace mostly
  * measures when old-generation garbage happened to be reclaimed, which
  * varied by a quarter between runs of one workload.
  */
object LiveHeap {
  def mb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 2).foreach(_ => System.gc())
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
