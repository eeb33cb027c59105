package graft.pipeline

import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.io.Fs
import graft.tools.Par

/** Airflow-operational-semantics mapping (SURVEY.md §2 #19 operational
  * half; VERDICT r10 "missing" item 2).
  *
  * The reference wraps its pipeline in an Airflow DAG whose operational
  * contract is four knobs (dags/dag_etl_minio_to_postgres.py:22-26,
  * :244-250): `retries = 5` with `retry_delay = 2 min` per task,
  * `schedule = '@daily'` from a fixed `start_date`, and
  * `catchup = False`. This object maps each knob to an engine-side
  * construct instead of re-implementing a scheduler:
  *
  *  - '''retries / retry_delay''' → [[withRetries]]: a driver-level
  *    retry loop around a whole dated run. Spark already retries
  *    individual TASKS (`spark.task.maxFailures`); this layer covers
  *    what Airflow's task retries actually covered in the reference —
  *    transient failures of an external system (the JDBC sink, the
  *    object store) that fail the Spark JOB, not a task.
  *  - '''schedule / start_date''' → a run is PARAMETERIZED by its
  *    logical date ([[runFor]]) and lands in its own
  *    `run_date=YYYY-MM-DD/` directory; the cron trigger itself is the
  *    deployment's concern (cron, a workflow engine, a loop — anything
  *    that can invoke a dated main).
  *  - '''catchup''' → [[catchup]]: enumerate the logical dates from
  *    `start` to `end` oldest-first and run the ones without a success
  *    marker. `catchup = False` is the same call with
  *    `start = end = today`.
  *  - '''resume / idempotence''' → the success MARKER (`_GRAFT_SUCCESS`)
  *    is written only after every gold table for that date has been
  *    fully written; a crashed run leaves no marker, so the next
  *    catchup replays the date and the replay overwrites the partial
  *    output (the run writes to a scratch dir and commits via the same
  *    rename swap the index compactions use — [[graft.io.Fs.replaceDir]]
  *    — so readers of a committed date never observe a half-written
  *    tree). Replaying a COMPLETED date is a no-op (skipped=true).
  *
  * Scale note: the orchestration layer only ever touches per-date
  * MARKER files and directory renames — O(dates) driver-side metadata
  * operations; all data movement stays inside the dated Spark job, so
  * nothing here grows with data volume.
  */
object Orchestrator {

  /** The reference's `default_args`: retries = 5, retry_delay = 2 min
    * (dags/dag_etl_minio_to_postgres.py:22-26). `backoff` = 1.0 keeps
    * Airflow's fixed-delay behavior; > 1 gives exponential spacing. */
  final case class RetryPolicy(
      retries: Int = 5,
      delayMs: Long = 2L * 60 * 1000,
      backoff: Double = 1.0)

  /** Outcome of one dated run: how many attempts it took (1 = first
    * try), or skipped=true when the date's marker already existed. */
  final case class RunReport(
      runDate: LocalDate,
      attempts: Int,
      skipped: Boolean,
      outDir: String)

  private val Marker = "_GRAFT_SUCCESS"

  /** TASK-INSTANCE LEDGER — the engine-side twin of Airflow's metadata
    * DB (`task_instance` table: one row per attempt with state and
    * timing), the operational surface an on-call reads after a bad
    * night. [[runFor]] records every attempt of a dated run under
    * `workDir/_ledger/run_date=<d>/` — underscore-prefixed, so data
    * globs over `run_date=&#42;` never pick it up — overwriting that
    * date's slice per (re)run: the ledger of a date reflects its LAST
    * execution, and at-least-once replays stay idempotent. Skipped
    * (already-committed) dates leave their original ledger untouched.
    * A hard crash mid-attempt leaves no row for it, exactly like a
    * scheduler losing its worker — the absent row next to a missing
    * success marker IS the crash signature. Driver-side metadata only:
    * O(attempts) 4-column rows per date. */
  private def writeLedger(spark: SparkSession, workDir: String,
      runDate: LocalDate, rows: Seq[(Int, String, String, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("attempt", "state", "error", "duration_ms")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$workDir/_ledger/run_date=$runDate")
  }

  /** The full attempt history across dates: (run_date, attempt, state,
    * error, duration_ms) — run_date supplied by partition discovery. */
  def readLedger(spark: SparkSession, workDir: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(s"$workDir/_ledger")
      .withColumn("run_date",
        org.apache.spark.sql.functions.col("run_date").cast("string"))

  /** Retry `body` up to `policy.retries` times after the first failure
    * (Airflow counts retries EXCLUDING the initial try), sleeping
    * `delayMs · backoff^(attempt-1)` between attempts. `body` receives
    * the 1-based attempt number; `sleep` is injectable so specs don't
    * wait wall-clock minutes. Returns (result, attempts). Non-retryable
    * control throwables (OOM etc. — anything non-[[Exception]]) are
    * not caught. */
  def withRetries[T](
      name: String,
      policy: RetryPolicy,
      sleep: Long => Unit = Thread.sleep)(body: Int => T): (T, Int) = {
    var attempt = 0
    var delay = policy.delayMs.toDouble
    while (true) {
      attempt += 1
      try {
        return (body(attempt), attempt)
      } catch {
        case e: Exception if attempt <= policy.retries =>
          System.err.println(
            s"[orchestrator] $name attempt $attempt failed " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}); " +
              s"retrying in ${delay.toLong} ms " +
              s"(${policy.retries - attempt + 1} retries left)")
          sleep(delay.toLong)
          delay *= policy.backoff
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Directory a logical date's outputs land in. Reading one date is
    * selecting its directory (pruning by construction); the cross-date
    * history reads as a glob over `run_date=&#42;` dirs. */
  def runDir(workDir: String, runDate: LocalDate): String =
    s"$workDir/run_date=$runDate"

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** True iff `runDate` committed its success marker. */
  def isComplete(spark: SparkSession, workDir: String, runDate: LocalDate): Boolean = {
    val p = new Path(runDir(workDir, runDate), Marker)
    fs(spark, workDir).exists(p)
  }

  /** One logical-date run of the medallion pipeline: bronze → silver →
    * gold parquet under `run_date=<date>/gold/<table>/`, committed
    * atomically (scratch dir + rename swap) with a success marker.
    * The gold tables are written concurrently ([[graft.tools.Par]], one
    * leg per table): they are independent projections of one cached
    * frame. The marker and the swap still follow only once every write
    * has succeeded. Already-complete dates return immediately with
    * skipped=true; failures retry per `policy`. */
  def runFor(
      spark: SparkSession,
      dataPath: String,
      configPath: String,
      workDir: String,
      spec: Medallion.GoldSpec,
      runDate: LocalDate,
      policy: RetryPolicy = RetryPolicy(),
      sleep: Long => Unit = Thread.sleep): RunReport = {
    val dest = runDir(workDir, runDate)
    if (isComplete(spark, workDir, runDate))
      return RunReport(runDate, attempts = 0, skipped = true, dest)
    val scratch = dest + ".inprogress"
    val ledger = Seq.newBuilder[(Int, String, String, Long)]
    def attemptOnce(attempt: Int): Unit = {
      val t0 = System.nanoTime()
      try {
        Fs.deleteRecursive(spark, scratch) // partial tree from a failed attempt
        val (wide, gold) = Medallion.runCached(
          spark, dataPath, configPath, s"$scratch/bronze", spec)
        // Par returns only after every write has ended and rethrows the
        // first failure, so no marker follows a failed or running write;
        // the cached frame the tables project is this run's to release
        try Par.run(gold.size)(gold.toSeq.map { case (table, df) => () =>
          df.write.mode("overwrite").parquet(s"$scratch/gold/$table")
        })
        finally wide.unpersist()
        // marker INSIDE the scratch tree, written after every table: the
        // rename below publishes data + marker in one metadata operation
        fs(spark, workDir).create(new Path(scratch, Marker), true).close()
        Fs.replaceDir(spark, scratch, dest)
        ledger += ((attempt, "success", null, (System.nanoTime() - t0) / 1000000L))
      } catch {
        case e: Exception =>
          ledger += ((attempt, "failed",
            s"${e.getClass.getSimpleName}: ${e.getMessage}",
            (System.nanoTime() - t0) / 1000000L))
          throw e
      }
    }
    val attempts =
      try withRetries(s"run_date=$runDate", policy, sleep)(attemptOnce)._2
      catch {
        case e: Exception => // retries exhausted: publish the history, then fail
          writeLedger(spark, workDir, runDate, ledger.result())
          throw e
      }
    writeLedger(spark, workDir, runDate, ledger.result())
    RunReport(runDate, attempts, skipped = false, dest)
  }

  /** Airflow catchup: run every logical date in [start, end] that has
    * not committed, oldest first (the scheduler's backfill order).
    * `catchup = False` ≡ `catchup(start = today, end = today)`. Returns
    * one report per date, skipped dates included, so the caller can see
    * exactly what a backfill did. */
  def catchup(
      spark: SparkSession,
      dataPath: String,
      configPath: String,
      workDir: String,
      spec: Medallion.GoldSpec,
      start: LocalDate,
      end: LocalDate,
      policy: RetryPolicy = RetryPolicy(),
      sleep: Long => Unit = Thread.sleep): Seq[RunReport] = {
    require(!start.isAfter(end), s"start $start after end $end")
    Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end))
      .map(d => runFor(spark, dataPath, configPath, workDir, spec, d,
        policy, sleep))
      .toSeq
  }
}
