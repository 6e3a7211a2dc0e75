package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** A fixed sample of the declared queries, run one after
  * another in a seeded order, each written to the noop sink as the
  * repository's bench does. The sample is fixed, so seeds vary the
  * generated fixture data and the order, not which queries the workload
  * is made of: a per-seed sample would make the run-to-run spread measure
  * the sample's composition.
  */
final class QueryFleet(ctx: Ctx) extends Workload {
  import QueryFleet._
  private val spark = ctx.spark
  def primary: String = "query"
  /** Two passes over the sample, ~10-13 s on a 4-core box. */
  def cycle: Int = 2 * Sample.length

  private var dir: Path = _
  private var order: IndexedSeq[String] = IndexedSeq.empty
  private var step = 0
  /** (start, analysis + optimization + planning time) of every query
    * execution the traced run saw, in epoch nanoseconds.
    */
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]

  if (ctx.tracer.enabled) spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      if (phases.nonEmpty) plans.synchronized {
        plans += ((phases.map(_.startTimeMs).min * 1000000L,
          phases.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  private def fixtures = dir.resolve("fixtures").toString

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(dir)
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try FleetFixtures.write(spark, ctx.gen, fixtures)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val r = ctx.gen.rng("fleet-order", 0)
    order = Sample.map(q => (r.nextLong(), q)).sortBy(_._1).map(_._2)
    step = 0
  }

  /** One pass over the sample, each query's result dumped to parquet for
    * the oracle compare; it also fills the index-fixture caches.
    */
  def warm(): Unit = {
    order.foreach { name =>
      SparkEntry.queries(name)(spark, fixtures).coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(s"dump/$name").toString)
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => Sample.contains(k) }
    Files.writeString(dir.resolve("dump/oracle_sql.json"),
      oracles.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",\n", "}"))
  }

  def next(): Op = {
    val name = order(step % order.length)
    step += 1
    Op("query", () => {
      val df = ctx.tracer.span("queries.construct")(SparkEntry.queries(name)(spark, fixtures))
      ctx.tracer.span("queries.execute")(df.write.format("noop").mode("overwrite").save())
    })
  }

  /** The dumped results must match the DuckDB oracles over the same
    * generated tables.
    */
  def verify(): Unit = {
    val out = dir.resolve("oracle-check.txt").toFile
    // the repository's oracle compare, from a checkout's root or from perfbench/
    val script = Seq("tools/check_oracle.py", "../tools/check_oracle.py")
      .find(f => Files.exists(java.nio.file.Paths.get(f))).getOrElse("tools/check_oracle.py")
    val p = new ProcessBuilder("python3", script, fixtures, dir.resolve("dump").toString,
      "--memory-limit", "1GB", "--temp-dir", dir.resolve("duckdb-tmp").toString, "--no-retry")
      .redirectErrorStream(true).redirectOutput(out).start()
    val rc = p.waitFor()
    val report = new String(Files.readAllBytes(out.toPath))
    if (rc != 0 || !report.contains("ALL OK")) {
      System.err.println(report.linesIterator.filterNot(_.startsWith("OK")).mkString("\n"))
      throw new IllegalStateException(s"oracle compare failed (exit $rc)")
    }
  }

  /** Replaces one dumped result with another table, for the gate's own
    * tests.
    */
  private[perfbench] def corrupt(): Unit = {
    val victim = dir.resolve(s"dump/${Sample.head}")
    Fs.deleteTree(victim)
    spark.range(3).toDF("x").coalesce(1).write.parquet(victim.toString)
  }

  override def layerCounts(ops: Seq[(Long, Long)]): Map[String, Double] = {
    val inOps = plans.synchronized(plans.toSeq)
      .filter { case (start, _) => ops.exists { case (s, e) => start >= s && start < e } }
    Map("queries.plan_s" -> inOps.map(_._2).sum / 1e9 / math.max(1, ops.size))
  }
}

object QueryFleet {
  /** Thirteen queries from seven families, each with a SQL oracle and a
    * warm latency of 0.3-0.45 s at this scale (etl's fastest, 0.2 s, is
    * the exception). The median of one run's latencies then sits among
    * many near-equal values; with latencies spread from 0.16 s to 1.4 s
    * it moved by a tenth whenever two queries near the middle swapped
    * ranks. Left out: graph, whose cheapest query takes 1.4 s
    * warm; streaming, whose queries each start a Structured Streaming
    * query (3-5 s of warm-up per run; the layer is `index_lifecycle`'s);
    * multimodal, whose oracles are literal values pinned to the fixture
    * tables, which generated tables cannot match.
    */
  val Sample: IndexedSeq[String] = IndexedSeq(
    "link_oversized_blocks", "dedup_exact", "s1_full_scan",
    "events_value_histogram", "events_trend", "skew_report", "q19_disjunctive",
    "anonymize_generalize", "embedding_quantize", "embedding_dim_stats",
    "corpus_zipf_fit", "vocab_build", "inference_prefix_groups")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
