package graft.tools

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSpark, JobCount}
import graft.ops.Concurrent

/** The runner's layer arithmetic: the union-of-intervals rule behind the
  * driver gap, and the [[Run.QueryCost]] listener on a body whose jobs
  * overlap.
  */
class RunSpec extends AnyFunSuite {
  private def phase(t0: Long, t1: Long, jobs: (Long, Long)*) =
    Run.Phase(t0, t1, jobs.map { case (s, e) => Run.Job("t", 0L, "", s, e) }, Nil)

  test("union length counts overlapped, contained and touching stretches once, " +
      "empty intervals not at all") {
    assert(Run.unionLength(Nil) == 0L)
    assert(Run.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Run.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Run.unionLength(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(Run.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
    assert(Run.unionLength(Seq((5L, 5L), (9L, 3L))) == 0L)
    assert(Run.unionLength(Seq((0L, 10L), (4L, 4L), (12L, 14L))) == 12L)
  }

  test("driver gap is the window minus the union of its job intervals, never their sum") {
    // two concurrent jobs of 60 each inside a window of 100: summing them
    // would claim 120 busy and a negative gap
    assert(phase(0L, 100L, (10L, 70L), (20L, 80L)).gapMs == 30L)
    // jobs reaching outside the window count only their part inside it
    assert(phase(0L, 100L, (-50L, 10L), (90L, 150L)).gapMs == 80L)
    assert(phase(0L, 100L).gapMs == 100L)
  }

  test("the listener counts a body's overlapping jobs under their SQL executions") {
    val spark = GraftSpark.spark
    val cost = new Run.QueryCost(spark)
    val slow = udf((x: Long) => { Thread.sleep(400); x })
    def body(): Unit = Concurrent.awaitAll(Seq(1, 2).map { _ => () =>
      spark.range(0, 2, 1, 2).select(slow(col("id"))).collect()
    })
    try {
      var p: Run.Phase = null
      val counted = JobCount.of("runspec-overlap") { p = cost.measure("runspec-overlap")(body())._2 }
      assert(p.jobs.size == counted && counted >= 2, s"jobs ${p.jobs}, JobCount $counted")
      assert(p.jobs.forall(_.exec >= 0), s"a job without its SQL execution: ${p.jobs}")
      val intervals = p.jobs.map(j => (j.start, j.end))
      assert(intervals.map { case (s, e) => e - s }.sum > Run.unionLength(intervals),
        s"the two actions did not overlap: $intervals")
      assert(p.gapMs >= 0 && p.gapMs <= p.wallMs, s"gap ${p.gapMs} ms, wall ${p.wallMs} ms")
    } finally {
      spark.sparkContext.removeSparkListener(cost)
      spark.listenerManager.unregister(cost)
    }
  }
}
