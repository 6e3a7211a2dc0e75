package perfbench

/** The per-layer metrics of a traced run. Every traced run reports every
  * name below; a layer the workload never calls reads 0.
  *
  * - `<span>_s`: mean seconds per call of the spans of that name.
  * - `spark.*`: engine totals per measured operation, over the jobs that
  *   started inside an operation.
  * - counts named by a workload: per call of the span they belong to,
  *   unless the doc says otherwise.
  */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "sources.extract_construct_s" -> "s",
    "sources.rows_read" -> "count",
    "sources.read_amplification" -> "ratio",
    "sources.jdbc_delete_s" -> "s",
    "etl.lake_write_s" -> "s",
    "etl.lake_partitions_written" -> "count",
    "etl.lake_files_written" -> "count",
    "etl.lake_bytes_written" -> "bytes",
    "etl.lake_files_per_partition" -> "count",
    "etl.lake_read_s" -> "s",
    "etl.upsert_merge_s" -> "s",
    "sinks.upsert_s" -> "s",
    "sinks.upsert_rows" -> "count",
    "sinks.upsert_rows_per_s" -> "1/s",
    "schema.ddl_s" -> "s",
    "schema.validate_s" -> "s",
    "notify.success_calls" -> "count",
    "notify.failure_calls" -> "count",
    "streaming.maintain_s" -> "s",
    "streaming.compact_s" -> "s",
    "streaming.erase_s" -> "s",
    "streaming.read_s" -> "s",
    "streaming.tail_batches" -> "count",
    "streaming.root_files" -> "count",
    "streaming.root_bytes" -> "bytes",
    "ops.bm25_topk_s" -> "s",
    "ops.postings_rows_scanned" -> "count",
    "queries.construct_s" -> "s",
    "queries.plan_s" -> "s",
    "queries.execute_s" -> "s",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s",
    "spark.scheduler_delay_ms" -> "ms",
    "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.input_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "bench.op_samples" -> "count",
    "bench.op_s.p50" -> "s",
    "bench.op_s.p90" -> "s")

  /** Mean seconds per call of each span name, over measured operations. */
  def spanMeans(t: Tracer): Map[String, Double] =
    t.measured.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.dur).sum / 1e9 / ss.size }

  /** Calls made to spans of one name in measured operations. */
  def calls(t: Tracer, name: String): Int = t.measured.count(_.name == name)

  /** Mean input records per call of `span`, over the jobs attributed to it. */
  def recordsPerCall(t: Tracer, span: String): Double = {
    val c = t.counters.get
    val ids = t.measured.filter(_.name == span).map(_.id).toSet
    if (ids.isEmpty) 0.0
    else {
      val jobs = t.jobsBySpan().collect { case (id, js) if ids(id) => js }.flatten
      val recs = c.synchronized(jobs.flatMap(_.stages).toSet.toSeq
        .flatMap(c.stages.get).map(_.inputRecords).sum)
      recs.toDouble / ids.size
    }
  }

  /** JDBC rows read by all jobs of the measured operations. */
  def jdbcRowsRead(t: Tracer, ops: Seq[(Long, Long)]): Long = {
    val c = t.counters.get
    c.synchronized {
      val inOps = c.jobs.values.filter(j => ops.exists { case (s, e) => j.start >= s && j.start < e })
      inOps.flatMap(_.stages).toSet.toSeq.flatMap(c.stages.get).filter(_.jdbcScan).map(_.inputRecords).sum
    }
  }

  def metrics(
      t: Tracer,
      ops: Seq[(Long, Long)],
      samples: Map[String, Int],
      primary: String,
      workloadCounts: Map[String, Double]): Seq[(String, Double, String)] = {
    val c = t.counters.get
    val nOps = math.max(1, ops.size)
    val (jobsInOps, stagesInOps, gap) = c.synchronized {
      val js = c.jobs.values.filter(j => ops.exists { case (s, e) => j.start >= s && j.start < e }).toSeq
      val gaps = ops.map { case (s, e) =>
        Stats.driverGap(s, e, js.filter(j => j.start >= s && j.start < e).map(j => (j.start, j.end)))
      }
      (js, js.flatMap(_.stages).distinct.flatMap(c.stages.get), gaps.sum)
    }
    def per(f: StageTotals => Long): Double = stagesInOps.map(f).sum.toDouble / nOps
    val primarySpans = t.measured.filter(_.name == s"op.$primary").map(_.dur / 1e9)
    val generic: Map[String, Double] = spanMeans(t).collect {
      case (n, v) if Units.exists(_._1 == n + "_s") => (n + "_s") -> v
    } ++ Map(
      "spark.jobs" -> jobsInOps.size.toDouble / nOps,
      "spark.stages" -> stagesInOps.size.toDouble / nOps,
      "spark.tasks" -> per(_.tasks),
      "spark.driver_gap_s" -> gap / 1e9 / nOps,
      "spark.scheduler_delay_ms" -> per(_.schedulerDelayMs),
      "spark.executor_run_ms" -> per(_.runMs),
      "spark.executor_cpu_ms" -> per(_.cpuNs) / 1e6,
      "spark.gc_ms" -> per(_.gcMs),
      "spark.input_bytes" -> per(_.inputBytes),
      "spark.output_bytes" -> per(_.outputBytes),
      "spark.shuffle_read_bytes" -> per(_.shuffleReadBytes),
      "spark.shuffle_write_bytes" -> per(_.shuffleWriteBytes),
      "spark.spill_bytes" -> per(_.spillBytes),
      "bench.op_samples" -> samples.getOrElse(primary, 0).toDouble,
      "bench.op_s.p50" -> (if (primarySpans.nonEmpty) Stats.median(primarySpans) else 0.0),
      "bench.op_s.p90" -> (if (primarySpans.nonEmpty) Stats.percentile(primarySpans, 0.9) else 0.0))
    val unknown = workloadCounts.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"workload reported undeclared layer metrics: $unknown")
    val all = generic ++ workloadCounts
    Units.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
  }
}
