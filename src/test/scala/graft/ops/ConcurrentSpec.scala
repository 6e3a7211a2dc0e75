package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** [[Concurrent.awaitAll]] runs every thunk under the caller's Spark
  * local properties, not those its pool thread inherited when it was
  * created.
  */
class ConcurrentSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark

  test("awaitAll's Spark jobs carry the caller's job group, not the pool thread's") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>"))
    }
    val tagA = s"concurrent-a-${java.util.UUID.randomUUID()}"
    val tagB = s"concurrent-b-${java.util.UUID.randomUUID()}"
    // create (or reuse) pool threads while the caller is in group A
    sc.setJobGroup(tagA, tagA)
    try Concurrent.awaitAll(Seq.fill(8)(() => Thread.sleep(200)))
    finally sc.clearJobGroup()
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tagB, tagB)
      val counts =
        try Concurrent.awaitAll(Seq(
          () => spark.range(0, 100, 1, 2).filter("id % 3 = 0").count(),
          () => spark.range(0, 100, 1, 2).filter("id % 5 = 0").count()))
        finally sc.clearJobGroup()
      assert(counts == Seq(34L, 20L))
      // the listener bus posts asynchronously
      val deadline = System.nanoTime + 10L * 1000000000L
      while (groups.asScala.count(_ != "<none>") < 2 && System.nanoTime < deadline)
        Thread.sleep(100)
      Thread.sleep(500)
      val seen = groups.asScala.toSeq
      assert(seen.count(_ == tagB) >= 2 && !seen.contains(tagA),
        s"job groups seen: $seen")
    } finally sc.removeSparkListener(listener)
  }
}
