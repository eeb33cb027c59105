package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `explain("formatted")` for declared queries (run: `sbt "runMain
  * graft.tools.DumpPlan <sfDir> <outDir> <query…>"`) — produces the
  * plans/<round>/ evidence files. Harness queries with multiple
  * internal actions dump the plan of the RETURNED frame (the oracle
  * surface); their internal job structure is measured by [[Profile]] /
  * [[ProfileJobs]] instead. */
object DumpPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val which = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    which.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$name.txt"), txt)
      println(s"dumped $name (${txt.length} chars)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
