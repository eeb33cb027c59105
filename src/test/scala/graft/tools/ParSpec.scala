package graft.tools

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.SparkSpec

/** [[Par]]'s contract: input-order results, the original cause
  * rethrown, sibling Spark jobs cancelled through the call's job tag
  * after a failure, and each leg running under the caller's session
  * and job group. */
class ParSpec extends SparkSpec {

  behavior of "Par.run"

  it should "return results in input order" in {
    // later inputs sleep less, so legs finish in reverse input order
    val out = Par.run(4)((1 to 8).map { i => () =>
      Thread.sleep((8 - i) * 25L)
      spark.range(i).count()
    })
    out shouldBe (1 to 8).map(_.toLong)
  }

  it should "rethrow the original cause, not an ExecutionException" in {
    val boom = new IllegalStateException("boom")
    val e = intercept[IllegalStateException] {
      Par.run(2)(Seq(() => spark.range(10).count(), () => throw boom))
    }
    e should be theSameInstanceAs boom
  }

  it should "cancel a sibling leg's running Spark job after another leg fails" in {
    val sc = spark.sparkContext
    val sibling = "par-spec-sibling"
    val siblingJob = new LinkedBlockingQueue[Int]()
    val siblingEnd = new LinkedBlockingQueue[JobResult]()
    @volatile var siblingId = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == sibling)) {
          siblingId = e.jobId
          siblingJob.put(e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == siblingId) siblingEnd.put(e.jobResult)
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException] {
        Par.run(2)(Seq(
          () => {
            sc.setJobDescription(sibling)
            // one task per core that would run for a minute unless killed
            sc.parallelize(1 to 4, 4).map { x =>
              val deadline = System.nanoTime() + 60L * 1000000000L
              while (System.nanoTime() < deadline && !TaskContext.get().isInterrupted())
                Thread.sleep(10)
              x
            }.count()
          },
          () => {
            Option(siblingJob.poll(30, TimeUnit.SECONDS))
              .getOrElse(fail("the sibling job never started"))
            throw new IllegalStateException("leg failed")
          }))
      }
      e.getMessage shouldBe "leg failed"
      val end = Option(siblingEnd.poll(20, TimeUnit.SECONDS))
      end.getOrElse(fail("the sibling job did not end within 20 s")) shouldBe a[JobFailed]
      // Par returned only after the sibling leg ended, well before its minute
      (System.nanoTime() - t0) / 1e9 should be < 40.0
    } finally sc.removeSparkListener(listener)
  }

  it should "run each leg under the caller's active session and job group" in {
    val sc = spark.sparkContext
    val other = spark.newSession()
    val prior = SparkSession.getActiveSession
    SparkSession.setActiveSession(other)
    sc.setJobGroup("par-spec-caller", "the caller's group")
    try {
      val seen = Par.run(2)(Seq.fill(3)(() =>
        (SparkSession.active, sc.getLocalProperty("spark.jobGroup.id"))))
      seen.foreach { case (session, group) =>
        session should be theSameInstanceAs other
        group shouldBe "par-spec-caller"
      }
    } finally {
      sc.clearJobGroup()
      prior.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }
}
