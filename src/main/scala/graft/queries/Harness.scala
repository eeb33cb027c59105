package graft.queries

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.io.{Fs, StageMemo}

/** The scaffolding the gate queries share: where a run writes its
  * scratch, where staged artifacts are memoized, and how a file-stream
  * parity leg is drained.
  *
  * Scratch is run-scoped. Each process writes under its own root,
  * `target/run/<pid>-<applicationId>/`, the way the reference isolates
  * each scheduled run in its own run directory, so a spec,
  * `graft.Verify` and `graft.Bench` in one checkout never read or
  * delete each other's state. Roots of processes that are gone are
  * swept on first use.
  *
  * Memoized artifacts are the opposite: pure functions of their input
  * tables, shared across processes under `target/memo/` and stamped
  * with the fingerprint of the inputs they were built from
  * ([[graft.io.StageMemo]]). */
object Harness {

  private val Runs = "target/run"
  private val Memos = "target/memo"

  /** File-name form of an sf directory: every character outside
    * `[A-Za-z0-9.]` becomes `_`. */
  private[queries] def slug(sfDir: String): String = sfDir.replaceAll("[^A-Za-z0-9.]", "_")

  /** This process's run root for the session's application. */
  private[queries] def runRoot(s: SparkSession): String =
    s"$Runs/${ProcessHandle.current.pid}-${s.sparkContext.applicationId}"

  private val swept = new AtomicBoolean

  /** Best-effort: delete every run root whose process is no longer
    * alive. A root that does not start with a PID is left alone. */
  private[queries] def sweepDeadRuns(s: SparkSession): Unit =
    Option(new File(Runs).listFiles()).toSeq.flatten.foreach { d =>
      val pid = d.getName.takeWhile(_ != '-')
      if (pid.nonEmpty && pid.forall(_.isDigit) &&
          !ProcessHandle.of(pid.toLong).isPresent)
        try Fs.deleteRecursive(s, d.getPath)
        catch { case _: java.io.IOException => () }
    }

  /** A fresh, empty scratch directory for one gate `family` over
    * `sfDir`, under this process's run root. The same family and sf
    * give the same path within one process; each call clears it. */
  def scratch(s: SparkSession, family: String, sfDir: String): String = {
    if (swept.compareAndSet(false, true)) sweepDeadRuns(s)
    val dir = s"${runRoot(s)}/$family-${slug(sfDir)}"
    Fs.deleteRecursive(s, dir)
    Files.createDirectories(Paths.get(dir))
    dir
  }

  /** The memo directory of `family` over `sfDir`: served as-is while
    * its stamp matches the fingerprint of the `inputs` tables (file
    * names under `sfDir`) and the builder `version`; otherwise cleared
    * and rebuilt by `build`, which receives the directory to fill. */
  private[queries] def memo(
      s: SparkSession, family: String, sfDir: String, inputs: Seq[String],
      version: String)(build: String => Unit): String = {
    val dir = s"$Memos/$family-${slug(sfDir)}"
    StageMemo.cachedDir(s, dir,
      StageMemo.fingerprint(inputs.map(t => s"$sfDir/$t"), version))(build(dir))
  }

  /** One file-stream parity run under `base`: runs the `stage` legs
    * concurrently ([[graft.tools.Par]]), one of which writes the
    * stream's input files under `base/in`; reads them as a parquet
    * stream of `schema`, at most `filesPerTrigger` files per
    * micro-batch (all in one when None); starts `ingest` on it, drains
    * everything available and stops the query, also when the drain
    * throws. Returns the stage legs' results in order. */
  private[queries] def streamParity(
      s: SparkSession, base: String, schema: StructType,
      filesPerTrigger: Option[Int] = Some(1))(stage: (() => Any)*)(
      ingest: DataFrame => StreamingQuery): Seq[Any] = {
    val staged = graft.tools.Par.run(stage.size)(stage)
    val reader = s.readStream.schema(schema)
    val q = ingest(filesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n.toLong)).parquet(s"$base/in"))
    try q.processAllAvailable() finally q.stop()
    staged
  }
}
