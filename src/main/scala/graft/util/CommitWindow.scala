package graft.util

import java.util.concurrent.{ExecutionException, Executors, FutureTask}
import org.apache.spark.SparkContext
import scala.collection.mutable.ArrayBuffer

/** A window of independent snapshot commits run as CONCURRENT Spark jobs —
  * the one concurrent-commit implementation (crawl generation commits,
  * stream index ∥ corpus appends). Each body runs on its own thread under
  * its own scheduler pool: under spark.scheduler.mode=FAIR the write jobs
  * share task slots instead of FIFO-queueing behind whichever job grabbed
  * every slot first (a no-op under FIFO).
  *
  * The window owns its threads: a dedicated executor of min(bodies, cores)
  * threads — the overlap a shared global pool would allow — shut down when
  * [[run]] returns, and every body clears its pool property in a `finally`,
  * so no later job lands in a commit pool. [[run]] returns or throws only
  * after EVERY body has finished: no append outlives the window, so a
  * caller that retries after a failure never races a sibling that is still
  * committing. The failure it rethrows is the earliest-registered failing
  * body's, with later failures attached as suppressed.
  */
final class CommitWindow(sc: SparkContext) {
  private val bodies = ArrayBuffer.empty[(String, FutureTask[_])]

  /** Register `body` under scheduler pool `pool`; the returned thunk reads
    * its result once [[run]] has returned.
    */
  def add[T](pool: String)(body: => T): () => T = {
    val task = new FutureTask[T](() => body)
    bodies += pool -> task
    () => task.get()
  }

  def run(): Unit = if (bodies.nonEmpty) {
    val exec = Executors.newFixedThreadPool(
      math.min(bodies.size, Runtime.getRuntime.availableProcessors))
    try {
      bodies.foreach { case (pool, task) =>
        exec.execute { () =>
          sc.setLocalProperty("spark.scheduler.pool", pool)
          try task.run() finally sc.setLocalProperty("spark.scheduler.pool", null)
        }
      }
      val failures = bodies.flatMap { case (_, task) =>
        try { task.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      }
    } finally exec.shutdown()
  }
}
