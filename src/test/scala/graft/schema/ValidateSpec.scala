package graft.schema

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSpark, JobCount}
import graft.schema.Validate.Check

class ValidateSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private val df = Seq(
    (1L, 10.0, "ok"), (2L, -5.0, "ok"), (3L, 7.0, null.asInstanceOf[String]))
    .toDF("id", "v", "s")

  test("per-check violation counts are exact; pass iff zero violations") {
    val out = Validate.run(df, Seq(
      Check("id_not_null", col("id").isNotNull),
      Check("v_positive", col("v") > 0),
      Check("s_not_null", col("s").isNotNull)))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out("id_not_null") == ((3L, 0L, true)))
    assert(out("v_positive") == ((3L, 1L, false)))
    assert(out("s_not_null") == ((3L, 1L, false)))
  }

  test("NULL predicate results count as violations (three-valued logic closed)") {
    // s = NULL makes (s = 'ok') NULL, not false — must still be a violation
    val out = Validate.run(df, Seq(Check("s_is_ok", col("s") === "ok")))
      .head()
    assert(out.getLong(2) == 1L && !out.getBoolean(3))
  }

  test("whole suite is one aggregate pass (single job), duplicate names rejected") {
    intercept[IllegalArgumentException] {
      Validate.run(df, Seq(Check("a", lit(true)), Check("a", lit(true))))
    }
    def jobs(n: Int): Int = {
      // count NEW job ids via the max id delta, not the tracked-list
      // length: the shared test session's status store evicts old jobs
      // past its retention window, so length deltas go negative once
      // other suites have run enough jobs (job ids are monotonic ints)
      def maxId = spark.sparkContext.statusTracker.getJobIdsForGroup(null)
        .foldLeft(-1)(math.max)
      val before = maxId
      Validate.run(df, (1 to n).map(i => Check(s"c$i", col("id") >= 0)))
      maxId - before
    }
    // the property that matters at scale: job/pass count does NOT grow
    // with the suite size (AQE may stage the one aggregate into >1 job,
    // but 20 checks must cost the same passes as 1)
    assert(jobs(20) == jobs(1), "suite size must not add passes")
  }

  test("result rows come back in Spark's string order, and collecting them runs no job") {
    // case differences, and a supplementary character whose UTF-16 order
    // (surrogate 0xD83D < 0xFF21) differs from its UTF-8 order
    val names = Seq("b", "\uD83D\uDE00", "B", "a", "\uFF21", "A", "z")
    val out = Validate.run(df, names.map(Check(_, col("id") >= 0)))
    var got = Seq.empty[String]
    assert(JobCount.of("validate-collect") {
      got = out.collect().map(_.getString(0)).toSeq
    } == 0)
    assert(got == Seq("A", "B", "a", "b", "z", "\uFF21", "\uD83D\uDE00"))
    assert(got == out.orderBy("check").collect().map(_.getString(0)).toSeq)
  }
}
