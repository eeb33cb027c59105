package graft.tools

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query job/stage/task census for the bench set (run:
  * `sbt "runMain graft.tools.Profile [sfDir] [query…]"`). At gate scale
  * the tables are tiny, so bench wall is dominated by FIXED cost —
  * scheduled jobs, stages, tasks, codegen — not data. This main runs
  * each named query exactly like Bench (its warm-up, count() action,
  * cache-clear between queries) with a listener recording every job the
  * query schedules, which is the measurement that tells fixed overhead
  * from real compute. When exactly one query is named, its census row
  * is followed by its per-JOB timeline: job id, wall, total task time,
  * task count, and the job description (else the callsite). */
object Profile {

  /** One Spark job as the listener saw it; mutated only on the listener
    * bus thread, read after the bus has drained. */
  private final class Job(val id: Int, val desc: String, val t0: Long) {
    var wallMs = 0L
    var stages = 0
    var tasks = 0
    var taskMs = 0L
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val which = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = graft.Session.local()
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    def jobOf(stageId: Int): Option[Job] =
      Option(jobs.get(stageToJob.getOrDefault(stageId, -1)))
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // no description set: the result stage's name, which Spark sets
        // to the action's callsite ("count at Foo.scala:12")
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse("")
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
        jobs.put(e.jobId, new Job(e.jobId, desc, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(j => j.wallMs = e.time - j.t0)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobOf(e.stageInfo.stageId).foreach(_.stages += 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobOf(e.stageId).foreach { j =>
          j.tasks += 1
          if (e.taskMetrics != null) j.taskMs += e.taskMetrics.executorRunTime
        }
    })
    graft.Bench.warmUp(spark, sfDir)
    println(f"${"query"}%-36s ${"sec"}%7s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"taskSec"}%8s")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => which.isEmpty || which.contains(n) }
      .foreach { case (name, fn) =>
        // listener events drain asynchronously; give the bus a moment
        // before each reset and before each read
        Thread.sleep(200)
        jobs.clear()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[profile] $name FAILED: ${e.getMessage}"); false }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        Thread.sleep(200)
        val js = jobs.values().asScala.toSeq.sortBy(_.id)
        println(f"$name%-36s ${if (ok) f"$dt%7.2f" else "  FAIL"}%7s ${js.size}%6d ${js.map(_.stages).sum}%7d ${js.map(_.tasks).sum}%7d ${js.map(_.taskMs).sum / 1000.0}%8.1f")
        if (which.size == 1) {
          println(f"${"job"}%4s ${"wallMs"}%8s ${"taskMs"}%8s ${"tasks"}%6s  desc")
          js.foreach { j =>
            println(f"${j.id}%4d ${j.wallMs}%8d ${j.taskMs}%8d ${j.tasks}%6d  ${j.desc.take(110)}")
          }
        }
      }
    spark.stop()
  }
}
