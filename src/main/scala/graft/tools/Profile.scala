package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-query job/stage/task census for the bench set (run:
  * `sbt "runMain graft.tools.Profile [sfDir] [query…]"`). At gate scale
  * the tables are tiny, so bench wall is dominated by FIXED cost —
  * scheduled jobs, stages, tasks, codegen — not data. This main runs
  * each named query exactly like Bench (count() action, cache-clear
  * between queries) with a listener tallying how many jobs/stages/tasks
  * the query schedules and how much executor time they consume, which
  * is the measurement that tells fixed overhead from real compute. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val which = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    // ad-hoc conf experiments: SPARK_GRAFT_CONF="k=v;k2=v2"
    val b = sys.env.get("SPARK_GRAFT_CONF").map(_.split(";").toSeq)
      .getOrElse(Nil).map(_.split("=", 2))
      .foldLeft(b0)((acc, kv) => acc.config(kv(0), kv(1)))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null)
          taskMs.addAndGet(t.taskMetrics.executorRunTime)
      }
    })
    // same warmup as Bench
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    println(f"${"query"}%-36s ${"sec"}%7s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"taskSec"}%8s")
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => which.isEmpty || which.contains(n) }
      .foreach { case (name, fn) =>
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[profile] $name FAILED: ${e.getMessage}"); false }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        // listener events drain asynchronously; give the bus a moment
        Thread.sleep(200)
        println(f"$name%-36s ${if (ok) f"$dt%7.2f" else "  FAIL"}%7s ${jobs.get()}%6d ${stages.get()}%7d ${tasks.get()}%7d ${taskMs.get() / 1000.0}%8.1f")
      }
    spark.stop()
  }
}
