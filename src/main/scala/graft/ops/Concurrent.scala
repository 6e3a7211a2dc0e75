package graft.ops

import java.util.concurrent.{AbstractExecutorService, ExecutionException, TimeUnit}

import scala.concurrent.{blocking, ExecutionContext}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Driver-side overlap of INDEPENDENT Spark actions (guide §2.6 — the
  * scheduler happily runs several jobs at once; the only reason audit
  * legs, per-batch artifact writes and per-leg rewrites ran serially was
  * the driver calling them one after another). Every task is awaited
  * (success or failure) before the first error rethrows — rethrowing
  * early would leave the other legs' jobs running detached, racing
  * whatever the caller does next (the knn_recall_audit error-containment
  * convention, r19). Secondary failures ride along as suppressed
  * exceptions, and `onAbort` runs on every SUCCEEDED result before the
  * rethrow so callers can release leg-held resources (a localCheckpoint
  * that only the lost return value could have freed).
  */
private[graft] object Concurrent {

  /** The global pool as an `ExecutorService`, every task under
    * `scala.concurrent.blocking` — these are driver-BLOCKING Spark
    * actions, and managed blocking lets the shared pool compensate
    * instead of starving unrelated users of the global ExecutionContext.
    */
  private object Pool extends AbstractExecutorService {
    def execute(r: Runnable): Unit =
      ExecutionContext.global.execute(() => blocking(r.run()))
    def shutdown(): Unit = ()
    def shutdownNow(): java.util.List[Runnable] = java.util.Collections.emptyList()
    def isShutdown: Boolean = false
    def isTerminated: Boolean = false
    def awaitTermination(timeout: Long, unit: TimeUnit): Boolean = false
  }

  /** Run the thunks concurrently, return their results in order. A pool
    * thread keeps the `SparkContext` local properties of whichever thread
    * created it, so each thunk runs under the CALLER's local properties
    * (job group, description, call site, root SQL execution) and active
    * session, captured at the call ([[SQLExecution.withThreadLocalCaptured]],
    * which restores the pool thread's own afterwards); with no session at
    * all there is nothing to capture.
    */
  def awaitAll[T](
      tasks: Seq[() => T],
      onAbort: T => Unit = (_: T) => ()): Seq[T] =
    if (tasks.lengthCompare(1) <= 0) tasks.map(_.apply())
    else {
      val session = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .map(_.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
      val futures = tasks.map { t =>
        // a thunk's failure is returned, not thrown, so the pool thread's
        // own properties are restored after it too
        val run = () => scala.util.Try(t())
        session.fold(java.util.concurrent.CompletableFuture.supplyAsync(() => run(), Pool))(
          s => SQLExecution.withThreadLocalCaptured(s, Pool)(run()))
      }
      // the wait is managed blocking too: a nested call on a pool thread
      // lets the pool compensate rather than starve its own tasks
      val settled = futures.map(f => scala.util.Try(blocking(
        try f.get() catch { case e: ExecutionException => throw e.getCause })).flatten)
      val failures = settled.collect { case scala.util.Failure(e) => e }
      failures.headOption.foreach { first =>
        failures.drop(1).foreach(first.addSuppressed)
        settled.foreach {
          case scala.util.Success(v) => scala.util.Try(onAbort(v))
          case _ => ()
        }
        throw first
      }
      settled.map(_.get)
    }
}
