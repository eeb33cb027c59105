package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession config every main and the test suite start
  * from: `local[cpus]` with as many shuffle partitions, UTC session time
  * (the zone the DuckDB oracle replays in), no UI, and the context
  * cleaner's periodic GC at 15 s so checkpoint/broadcast blocks GC'd
  * between queries are released promptly instead of at the 30-min
  * default. `cpus` defaults to `$SPARK_GRAFT_CPUS`, else 4. */
object Session {

  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  def builder(cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "15s")

  def local(cpus: Int = defaultCpus): SparkSession = start(builder(cpus))

  /** `getOrCreate` at log level WARN — for callers that add their own
    * settings (app name, warehouse dir, extensions) to [[builder]]. */
  def start(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The local-iteration filter: `$SPARK_GRAFT_ONLY=q_a,q_b` keeps only
    * the named entries; unset, every entry runs. */
  def selected(name: String): Boolean = only.forall(_.contains(name))

  private lazy val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
}
