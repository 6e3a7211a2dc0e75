package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced call into a layer. Times are epoch nanoseconds so they line
  * up with the listener's job times.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int) {
  def dur: Long = end - start
}

/** Per-stage task totals, summed as task-end events arrive. */
final class StageTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedulerDelayMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** The stage scans a JDBC source (its RDD lineage holds a JDBCRDD). */
  var jdbcScan = false
}

final case class JobRec(id: Int, group: Option[String], start: Long, var end: Long, stages: Seq[Int])

/** Engine counters seen from outside the program: one listener on the
  * benchmark's own session, recording every job, stage and task.
  */
final class Counters extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageTotals]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = JobRec(e.jobId, group, e.time * 1000000L, e.time * 1000000L, e.stageIds)
    e.stageInfos.foreach { si =>
      if (si.rddInfos.exists(_.name.contains("JDBCRDD"))) stage(si.stageId).jdbcScan = true
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.schedulerDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Spans around the benchmark's calls into each layer. With tracing off
  * every method is a pass-through and no listener is installed, so the
  * untraced runs time the program alone.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  val spans = mutable.ArrayBuffer.empty[Span]
  val counters: Option[Counters] =
    if (enabled) {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None

  private var nextId = 0
  private var stack: List[Int] = Nil
  private var op = -1

  /** Spans recorded from here on belong to operation `id`; ids of
    * measured operations start at 1.
    */
  def beginOp(id: Int): Unit = op = id

  /** Inside a measured operation of a traced run. */
  def measuring: Boolean = enabled && op > 0

  /** The spans of measured operations. */
  def measured: Seq[Span] = spans.filter(_.op > 0).toSeq

  /** Run `body` as a span named `name` (`layer.what`). Jobs it submits
    * from this thread carry the span's job group; jobs from pool threads
    * that did not inherit the group are matched by time instead.
    */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val sc = spark.sparkContext
      val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
      val prevDesc = Option(sc.getLocalProperty("spark.job.description"))
      sc.setJobGroup(Tracer.group(id), name)
      stack = id :: stack
      val t0 = now()
      try body
      finally {
        spans += Span(id, name, t0, now(), parent, op)
        stack = stack.tail
        prevGroup match {
          case Some(g) => sc.setJobGroup(g, prevDesc.orNull)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbenchbus.Bus.drain(spark.sparkContext)

  /** Jobs attributed to the span that caused them: by job group when the
    * submitting thread carried one, else by the innermost span whose
    * interval holds the job's start.
    */
  def jobsBySpan(): Map[Int, Seq[JobRec]] = counters match {
    case None => Map.empty
    case Some(c) =>
      val byId = spans.map(s => s.id -> s).toMap
      val jobs = c.synchronized(c.jobs.values.toList)
      jobs.flatMap { j =>
        j.group.collect { case Tracer.Group(id) if byId.contains(id.toInt) => id.toInt }
          .orElse(spans.filter(s => s.start <= j.start && j.start < s.end)
            .sortBy(-_.start).headOption.map(_.id))
          .map(_ -> j)
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfTimes(): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - Stats.unionLength(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq))
    }.toMap
  }

  /** JSON lines: one span per line, with its self time. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val self = selfTimes()
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""parent":${s.parent},"op":${s.op},"self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  private val Prefix = "perfbench-span-"
  def group(id: Int): String = Prefix + id
  val Group = (Prefix + "(\\d+)").r
}
