package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a body starts in the shared test session. Each
  * measured body runs in its own job group and carries its tag in a local
  * property, so other suites' stragglers in the same session are not
  * counted, while the jobs of a thread the body starts (a streaming
  * query's micro-batches, which run under the query's own job group)
  * inherit the tag and are.
  */
object JobCount {
  private val jobs = new AtomicInteger
  @volatile private var group = ""
  private val TagKey = "graft.jobcount.tag"
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && group == js.properties.getProperty(TagKey))
          jobs.incrementAndGet()
    }
    GraftSpark.spark.sparkContext.addSparkListener(l)
    l
  }

  /** The number of jobs `body` started, under the job group `tag`. */
  def of(tag: String)(body: => Unit): Int = synchronized {
    listener
    val sc = GraftSpark.spark.sparkContext
    jobs.set(0)
    group = tag
    sc.setJobGroup(tag, tag)
    sc.setLocalProperty(TagKey, tag)
    try body finally { sc.clearJobGroup(); sc.setLocalProperty(TagKey, null) }
    // the listener bus posts asynchronously: poll until stable
    val deadline = System.nanoTime + 10L * 1000000000L
    var last = -1
    while (System.nanoTime < deadline && jobs.get != last) {
      last = jobs.get
      Thread.sleep(400)
    }
    jobs.get
  }
}
