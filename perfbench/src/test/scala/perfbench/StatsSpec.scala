package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.median(xs) == 5.0)
    assert(Stats.percentile(xs, 0.9) == 9.0)
    assert(Stats.percentile(xs, 1.0) == 10.0)
    assert(Stats.percentile(Seq(3.0), 0.5) == 3.0)
  }

  test("the reported tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(0.5))
    assert(Stats.tailPercentile(99).contains(0.5))
    assert(Stats.tailPercentile(100).contains(0.9))
    assert(Stats.tailPercentile(999).contains(0.9))
    assert(Stats.tailPercentile(1000).contains(0.99))
    assert(Stats.tailPercentile(10000).contains(0.999))
    // the rule and the percentile agree on what "beyond" means
    for (n <- Seq(20, 100, 1000, 10000); p <- Stats.tailPercentile(n)) {
      val xs = (1 to n).map(_.toDouble)
      assert(xs.count(_ > Stats.percentile(xs, p)) >= 10)
    }
  }

  test("union length counts overlapped stretches once") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (2L, 3L))) == 10L)
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 10L))) == 20L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
  }

  test("driver gap is the window minus the union of job intervals, never their sum") {
    // two concurrent jobs of 60 each inside a window of 100: summing them
    // would claim 120 busy and a negative gap
    val jobs = Seq((10L, 70L), (20L, 80L))
    assert(Stats.driverGap(0L, 100L, jobs) == 30L)
    // jobs reaching outside the window count only their part inside it
    assert(Stats.driverGap(0L, 100L, Seq((-50L, 10L), (90L, 150L))) == 80L)
    assert(Stats.driverGap(0L, 100L, Nil) == 100L)
  }
}
