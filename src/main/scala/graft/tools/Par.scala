package graft.tools

import java.util.UUID
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession

/** Run independent Spark actions concurrently from a bounded pool
  * (guide §2.6 — overlap independent jobs so one action's scheduling
  * gaps and stage tails back-fill with the next action's tasks instead
  * of idling the cluster). Results return in INPUT order, so callers'
  * downstream composition is deterministic regardless of completion
  * order.
  *
  * Spark discipline of a leg:
  *  - it runs with the caller's active `SparkSession` reinstated, so
  *    `SparkSession.active` inside the leg is the caller's;
  *  - every job it submits carries one per-call job tag
  *    (`SparkContext.addJobTag`, removed when the leg ends). A tag, not
  *    `setJobGroup`: the caller's own job group and description pass
  *    through to the legs untouched.
  *
  * On the first failure every later leg is skipped and the call's
  * running jobs are cancelled through the tag
  * (`SparkContext.cancelJobsWithTag`) — never by interrupting pool
  * threads, which can leave Spark's driver-side state half-updated.
  * The call returns only after every leg has ended (it re-cancels the
  * tag while it waits, so a sibling that submits a job after the first
  * cancel is stopped too), then rethrows the ORIGINAL cause — not the
  * pool's ExecutionException wrapper and not a sibling's cancellation
  * — so the error surface matches the sequential form and no leg still
  * writes when the caller starts cleaning up. */
object Par {
  def run[T](maxConcurrent: Int)(thunks: Seq[() => T]): Seq[T] = {
    if (thunks.lengthCompare(1) <= 0) return thunks.map(_())
    val session = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val sc = session.map(_.sparkContext)
    val tag = s"graft-par-${UUID.randomUUID()}"
    val failure = new AtomicReference[Throwable]()
    val ended = new CountDownLatch(thunks.length)
    def cancel(): Unit = sc.foreach(_.cancelJobsWithTag(tag, "a sibling Par leg failed"))
    val pool = Executors.newFixedThreadPool(math.min(maxConcurrent, thunks.length))
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[T] {
          override def call(): T =
            try {
              if (failure.get != null)
                throw new java.util.concurrent.CancellationException("a sibling Par leg failed")
              session.foreach(SparkSession.setActiveSession)
              sc.foreach(_.addJobTag(tag))
              try t()
              finally sc.foreach(_.removeJobTag(tag))
            } catch {
              case e: Throwable =>
                if (failure.compareAndSet(null, e)) cancel()
                throw e
            } finally ended.countDown()
        })
      }
      while (!ended.await(100, TimeUnit.MILLISECONDS))
        if (failure.get != null) cancel()
      Option(failure.get).foreach(e => throw e)
      futs.map(_.get())
    } finally { pool.shutdown(); () }
  }
}
