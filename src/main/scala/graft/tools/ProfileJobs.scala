package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-JOB timeline for one query (run: `sbt "runMain
  * graft.tools.ProfileJobs <sfDir> <query>"`): job id, wall, total
  * task time, task count, and the callsite description — the
  * drill-down view behind [[Profile]]'s per-query censuses. */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    case class J(id: Int, var desc: String = "", var t0: Long = 0,
                 var wallMs: Long = 0, var taskMs: Long = 0, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = J(e.jobId)
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        j.t0 = e.time
        jobs.put(e.jobId, j)
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.wallMs = e.time - j.t0
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.getOrDefault(e.stageInfo.stageId, -1)
        val j = jobs.get(jid)
        if (j != null) {
          j.taskMs += e.stageInfo.taskMetrics.executorRunTime
          j.tasks += e.stageInfo.numTasks
        }
      }
    })
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    Thread.sleep(300)
    jobs.clear()
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, sfDir).count()
    val dt = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    println(f"== $name total ${dt}%.2f s ==")
    println(f"${"job"}%4s ${"wallMs"}%8s ${"taskMs"}%8s ${"tasks"}%6s  desc")
    jobs.values().toArray(Array.empty[J]).sortBy(_.id).foreach { j =>
      println(f"${j.id}%4d ${j.wallMs}%8d ${j.taskMs}%8d ${j.tasks}%6d  ${j.desc.take(110)}")
    }
    spark.stop()
  }
}
