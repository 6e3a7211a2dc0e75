package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.execution.{FilterExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSpark, JobCount}
import graft.etl.Tables

class Bm25IndexSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  private def docs = Tables.documents(spark, GraftSpark.Sf0001)

  private def queries = {
    import spark.implicits._
    Seq((1L, "hash"), (1L, "join"), (1L, "dup"),
      (2L, "window"), (2L, "sort"), (2L, "merge")).toDF("q_id", "term")
  }

  /** The physical plan a serve will run, before AQE re-plans any stage. */
  private def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  private def hasLiteralIn(plan: SparkPlan): Boolean = plan.exists {
    case f: FilterExec => f.condition.exists(e => e.isInstanceOf[In] || e.isInstanceOf[InSet])
    case _ => false
  }

  private def hasSemiJoin(plan: SparkPlan): Boolean = plan.exists {
    case j: BroadcastHashJoinExec => j.joinType.toString == "LeftSemi"
    case _ => false
  }

  private lazy val writtenIndex = {
    val dir = Files.createTempDirectory("graft_bm25_budget").toString
    Bm25Index.write(Bm25Index.build(docs, "doc_id", "text"), dir)
    dir
  }

  test("index-served topK equals the from-scratch bm25TopK exactly") {
    val fromScratch = TextAnalysis.bm25TopK(
      docs, "doc_id", "text", queries, "q_id", "term", k = 10)
    val served = Bm25Index.topK(
        Bm25Index.build(docs, "doc_id", "text"), queries, "q_id", "term", k = 10)
      .withColumnRenamed("id", "doc_id")
    assert(served.exceptAll(fromScratch).isEmpty &&
      fromScratch.exceptAll(served).isEmpty)
  }

  test("write → read round-trips: served results identical, postings equal") {
    val dir = Files.createTempDirectory("graft_bm25_spec").toString
    val built = Bm25Index.build(docs, "doc_id", "text")
    Bm25Index.write(built, dir)
    val read = Bm25Index.read(spark, dir)
    assert(read.postings.exceptAll(built.postings).isEmpty &&
      built.postings.exceptAll(read.postings).isEmpty)
    val a = Bm25Index.topK(built, queries, "q_id", "term", k = 10)
    val b = Bm25Index.topK(read, queries, "q_id", "term", k = 10)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("serve path pushes the query terms into the postings parquet scan") {
    val dir = Files.createTempDirectory("graft_bm25_push").toString
    Bm25Index.write(Bm25Index.build(docs, "doc_id", "text"), dir)
    val plan = Bm25Index.topK(Bm25Index.read(spark, dir),
      queries, "q_id", "term", k = 10).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"expected a pushed In(term, …) filter on the postings scan:\n$plan")
  }

  test("oversized term batches fall back to the semi-join path with equal results") {
    import spark.implicits._
    val big = (0 until Bm25Index.MaxPushdownTerms + 50)
      .map(i => (1L, s"zz_unseen_$i")).toDF("q_id", "term")
      .unionByName(queries)
    val idx = Bm25Index.build(docs, "doc_id", "text")
    val viaBig = Bm25Index.topK(idx, big, "q_id", "term", k = 10)
    // unseen terms contribute no postings rows, so scores match the small set
    val viaSmall = Bm25Index.topK(idx, queries, "q_id", "term", k = 10)
    assert(viaBig.exceptAll(viaSmall).isEmpty && viaSmall.exceptAll(viaBig).isEmpty)
    val plan = physical(viaBig)
    assert(hasSemiJoin(plan) && !hasLiteralIn(plan),
      s"an oversized term batch must take the semi-join path:\n$plan")
  }

  test("a null query term matches nothing; duplicated query rows score as in bm25TopK") {
    import spark.implicits._
    val batch = Seq((Some(1L), "hash"), (Some(1L), null.asInstanceOf[String]),
      (Some(2L), "sort"), (Some(2L), "sort"), (None, "join"),
      (Some(3L), "merge"), (Some(4L), "merge"), (Some(4L), "zz_not_indexed"))
      .toDF("q_id", "term")
    val fromScratch = TextAnalysis.bm25TopK(
      docs, "doc_id", "text", batch, "q_id", "term", k = 10)
    val served = Bm25Index.topK(
        Bm25Index.build(docs, "doc_id", "text"), batch, "q_id", "term", k = 10)
      .withColumnRenamed("id", "doc_id")
    // every input shape reaches the result: the null q_id, both queries
    // of the shared term, the query whose other term is unindexed
    assert(fromScratch.select("q_id").distinct().collect().map(r => Option(r.get(0))).toSet ==
      Set(Some(1L), Some(2L), None, Some(3L), Some(4L)))
    assert(served.exceptAll(fromScratch).isEmpty &&
      fromScratch.exceptAll(served).isEmpty)
  }

  test("a local query batch serves with one construction job and no query-batch shuffle") {
    import spark.implicits._
    val batch = Seq((1L, "hash"), (1L, "join"), (2L, "window"), (2L, "sort"), (2L, "merge"),
      (3L, "dup"), (3L, "group"), (3L, "scan"), (4L, "column"), (4L, "table"),
      (4L, "query"), (4L, "filter")).toDF("q_id", "term")
    val idx = Bm25Index.read(spark, writtenIndex)
    var served: DataFrame = null
    // the dictionary-and-stats collect is the one job; the batch collects locally
    assert(JobCount.of("bm25-serve-construct") {
      served = Bm25Index.topK(idx, batch, "q_id", "term", k = 10)
    } == 1)
    val plan = physical(served)
    // the batch and the dictionary rows are literals, not broadcast scans
    assert(!plan.exists {
      case _: BroadcastExchangeExec | _: LocalTableScanExec => true
      case _ => false
    }, s"a serve must broadcast nothing:\n$plan")
    // the (q_id, id) aggregate and the per-query window, nothing else
    assert(plan.collect { case e: ShuffleExchangeExec => e }.size == 2, plan.toString)
    assert(plan.toString.contains("PushedFilters") && plan.toString.contains("In(term"),
      s"expected a pushed In(term, …) filter on the postings scan:\n$plan")
    // the postings scan with the partial aggregate, the final aggregate
    // with the partial window, the final window
    var rows = 0
    assert(JobCount.of("bm25-serve-collect") { rows = served.collect().length } == 3)
    assert(rows > 0)
  }

  test("a batch of more rows than MaxPushdownTerms but few distinct terms still pushes In") {
    import spark.implicits._
    val rows = (0 until 1200).map(i => (i % 2 + 1L, s"zz_unseen_${i % 900}")).toDF("q_id", "term")
      .unionByName(queries)
    val idx = Bm25Index.read(spark, writtenIndex)
    val viaRows = Bm25Index.topK(idx, rows, "q_id", "term", k = 10)
    val plan = viaRows.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"expected a pushed In(term, …) filter on the postings scan:\n$plan")
    val viaSmall = Bm25Index.topK(idx, queries, "q_id", "term", k = 10)
    assert(viaRows.exceptAll(viaSmall).isEmpty && viaSmall.exceptAll(viaRows).isEmpty)
  }

  test("append equals a full rebuild: postings, df, stats, and served results") {
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val delta = docs.filter(col("doc_id") % 3 === 0)
    val appended = Bm25Index.append(
      Bm25Index.build(base, "doc_id", "text"), delta, "doc_id", "text")
    val rebuilt = Bm25Index.build(docs, "doc_id", "text")
    assert(appended.postings.exceptAll(rebuilt.postings).isEmpty &&
      rebuilt.postings.exceptAll(appended.postings).isEmpty)
    assert(appended.terms.exceptAll(rebuilt.terms).isEmpty &&
      rebuilt.terms.exceptAll(appended.terms).isEmpty)
    val (sa, sr) = (appended.stats.head(), rebuilt.stats.head())
    assert(sa.getDouble(0) == sr.getDouble(0))
    assert(math.abs(sa.getDouble(1) - sr.getDouble(1)) < 1e-9,
      s"avgdl recombination drifted: ${sa.getDouble(1)} vs ${sr.getDouble(1)}")
    val a = Bm25Index.topK(appended, queries, "q_id", "term", k = 10)
    val b = Bm25Index.topK(rebuilt, queries, "q_id", "term", k = 10)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "appended-index serve must be EXACTLY the rebuilt-index serve")
  }

  test("erase equals a rebuild on the retained corpus: postings, df, stats, serve") {
    import spark.implicits._
    val victims = docs.filter(col("doc_id") % 10 === 3)
    val erased = Bm25Index.erase(
      Bm25Index.build(docs, "doc_id", "text"),
      victims.select(col("doc_id")))
    val rebuilt = Bm25Index.build(docs.filter(col("doc_id") % 10 =!= 3),
      "doc_id", "text")
    assert(erased.postings.exceptAll(rebuilt.postings).isEmpty &&
      rebuilt.postings.exceptAll(erased.postings).isEmpty)
    assert(erased.terms.exceptAll(rebuilt.terms).isEmpty &&
      rebuilt.terms.exceptAll(erased.terms).isEmpty)
    val (se, sr) = (erased.stats.head(), rebuilt.stats.head())
    assert(se.getDouble(0) == sr.getDouble(0))
    assert(math.abs(se.getDouble(1) - sr.getDouble(1)) < 1e-9,
      s"avgdl subtraction drifted: ${se.getDouble(1)} vs ${sr.getDouble(1)}")
    val a = Bm25Index.topK(erased, queries, "q_id", "term", k = 10)
    val b = Bm25Index.topK(rebuilt, queries, "q_id", "term", k = 10)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "erased-index serve must be EXACTLY the retained-rebuild serve")
    // and the erased ids can never come back
    assert(Bm25Index.topK(erased, queries, "q_id", "term", k = 1000)
      .join(victims.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      .isEmpty)
    intercept[IllegalArgumentException] {
      Bm25Index.erase(rebuilt, victims.select("doc_id", "text"))
    }
    // verifyCovered: an id with no postings (never indexed) fails fast
    // instead of silently mis-subtracting n/avgdl
    intercept[IllegalArgumentException] {
      Bm25Index.erase(rebuilt, Seq(999999L).toDF("doc_id"), verifyCovered = true)
    }
    assert(Bm25Index.erase(rebuilt,
      docs.filter(col("doc_id") % 10 =!= 3).limit(1).select(col("doc_id")),
      verifyCovered = true).stats.head().getDouble(0) > 0)
  }

  test("append verifyDisjoint rejects a delta that re-ships live doc ids") {
    val idx = Bm25Index.build(docs.filter(col("doc_id") < 100), "doc_id", "text")
    intercept[IllegalArgumentException] {
      Bm25Index.append(idx, docs.filter(col("doc_id") < 10), "doc_id", "text",
        verifyDisjoint = true)
    }
    // disjoint delta passes the same audit
    val ok = Bm25Index.append(idx,
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 110),
      "doc_id", "text", verifyDisjoint = true)
    assert(ok.stats.head().getDouble(0) ==
      docs.filter(col("doc_id") < 110).count().toDouble)
  }
}
