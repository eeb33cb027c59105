package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.io.pg.{PgLiteClient, PgLiteServer}
import graft.pipeline.{Medallion, Orchestrator, PgGold}

/** One benchmark run: one workload, one process.
  *
  * {{{
  * Main --workload medallion|lake --seed N --seconds S --trace 0|1
  *      --sf DIR --rows N --out DIR
  * }}}
  *
  * The working directory must be fresh: the queries write
  * `target/tmp-*`, `target/stage-*` and `spark-warehouse` relative to
  * it. Set-up starts the Spark session, runs one tiny parquet round trip
  * and writes the inputs. The first pass is the timed one: it runs cold,
  * as a batch job runs in a fresh process, so JIT, code generation and
  * StageMemo builds fall inside it. Further passes run until `S` seconds have passed; they are warm
  * and only recorded. Output checks run after each pass, outside its
  * timing. With `--trace 1` the first pass is traced for the per-layer
  * counters, and a warm untraced pass followed by a warm traced one
  * gives the tracing overhead. Results go to `OUT/result.json` and
  * spans to `OUT/spans.jsonl`. */
object Main {

  /** The `lake` workload: training-data operators that only read the
    * sf tables, beside queries that build an index, a zone-mapped or
    * bucketed layout, a streaming checkpoint or an S3 object and read
    * it back. */
  val Lake: Seq[String] = Seq(
    "q_ann_topk", "q_dedup_minhash", "q_pack_bpe", "q_sample_stratified",
    "q_text_search_incremental", "q_join_bucketed", "q_zorder_scan",
    "ref_io_object_store", "q_dedup_stream_parity")

  val GoldTables: Seq[String] =
    Seq("property", "leads", "valuation", "rehab", "hoa", "taxes")
  /** Table widths of the reference config (FullConfigSpec). */
  val GoldWidths: Map[String, Int] = Map("property" -> 37, "leads" -> 10,
    "valuation" -> 10, "rehab" -> 14, "hoa" -> 4, "taxes" -> 3)
  val Facts: Seq[String] = Seq("leads", "valuation", "rehab")

  /** Call-site files of the raw-file legs of a medallion run. */
  val BronzeSites: Set[String] = Set("Sources.scala", "Sinks.scala", "Xlsx.scala")

  /** What one pass measured. `counters` only in traced passes. */
  final case class Pass(wall: Double, lake: Double, cpu: Double,
                        counters: Map[String, Double])

  /** Requests served so far by the process-wide S3 endpoint. Starts the
    * endpoint, so only traced passes read it. */
  def s3Requests: Long = graft.io.s3.S3LiteServer.shared.requestCount.get()

  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".crc")) 0L
    else f.length()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val sfDir = opts("sf")
    val rows = opts.getOrElse("rows", "0").toInt
    val out = opts("out")
    val cpus = Runtime.getRuntime.availableProcessors()
    new File(out).mkdirs()

    val trace = new Trace
    val info = mutable.LinkedHashMap[String, String](
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "cpus" -> cpus.toString, "sf" -> Json.str(sfDir),
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "trace" -> (if (traced) "1" else "0"))
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0

    // set-up: JVM, session (the config of graft.Verify), inputs
    val (spark, workloadRun) = trace.span("setup") {
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new File("spark-local").getAbsolutePath)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      // first-action costs every workload pays (planner, codegen,
      // parquet I/O), so the timed pass does not charge them to
      // whichever of its steps happens to run first
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.range(1000).write.mode("overwrite").parquet("warmup")
      spark.read.parquet("warmup").count()
      val run: WorkloadRun = workload match {
        case "medallion" => new MedallionRun(spark, trace, rows, seed, info)
        case "lake" => new QueryRun(spark, trace, sfDir, Lake, info)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      run.setup()
      (spark, run)
    }
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // pass 0 is the timed cold pass; traced runs add a warm untraced
    // and a warm traced pass for the overhead
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (passes.isEmpty || (traced && passes.size < 3) ||
        (!traced && (System.nanoTime() - t0) / 1e9 < seconds)) {
      val withTrace = traced && passes.size != 1
      if (withTrace) trace.attach(spark.sparkContext)
      val builds0 = graft.io.StageMemo.buildCount.get()
      val s3Req0 = if (withTrace) s3Requests else 0L
      val cpu0 = processCpuS
      val p0 = System.nanoTime()
      val (lake, spanId) = workloadRun.pass(passes.size)
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = processCpuS - cpu0
      val counters =
        if (!withTrace) Map.empty[String, Double]
        else {
          trace.detach()
          val jobs = trace.jobsUnder(spanId)
          val taskS = jobs.map(_.taskMs.get).sum / 1e3
          val mb = 1.0 / (1 << 20)
          Map(
            "spark.jobs" -> jobs.size.toDouble,
            "spark.stages" -> jobs.map(_.stages.get).sum.toDouble,
            "spark.tasks" -> jobs.map(_.tasks.get).sum.toDouble,
            "spark.task_s" -> taskS,
            "spark.idle_core_s" -> (wall * cpus - taskS),
            "spark.gc_s" -> jobs.map(_.gcMs.get).sum / 1e3,
            "spark.shuffle_read_mb" -> jobs.map(_.shuffleRead.get).sum * mb,
            "spark.shuffle_write_mb" -> jobs.map(_.shuffleWrite.get).sum * mb,
            "spark.spill_mb" -> jobs.map(_.spill.get).sum * mb,
            "spark.failed_tasks" -> jobs.map(_.failedTasks.get).sum.toDouble,
            "spark.input_mb" -> jobs.map(_.input.get).sum * mb,
            "spark.output_mb" -> jobs.map(_.output.get).sum * mb,
            "io.StageMemo.builds" ->
              (graft.io.StageMemo.buildCount.get() - builds0).toDouble,
            "io.s3.requests" -> (s3Requests - s3Req0).toDouble
          ) ++ jobs.groupBy(trace.site).flatMap { case (site, js) =>
            Seq(s"site.$site.jobs" -> js.size.toDouble,
              s"site.$site.task_s" -> js.map(_.taskMs.get).sum / 1e3)
          } ++ workloadRun.counters(spanId)
        }
      passes += Pass(wall, lake, cpu, counters)
      attempted += workloadRun.operations
      failures ++= workloadRun.check()
      // free checkpoint and broadcast blocks between passes, untimed
      spark.catalog.clearCache()
      System.gc()
    }

    val first = passes.head
    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS, "pass_s" -> first.wall, "lake_s" -> first.lake,
      "cpu_s" -> first.cpu, "peak_rss_mb" -> peakRssMb)
    if (traced) {
      metrics ++= first.counters.toSeq.sortBy(_._1)
      metrics("trace.pass_s") = first.wall
      metrics("trace.overhead_ratio") = passes(2).wall / passes(1).wall
    }
    info("passes") = passes.size.toString
    info("pass_walls_s") = passes.map(p => Json.num(p.wall)).mkString("[", ",", "]")

    val result = Json.obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "info" -> Json.obj(info.toSeq),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(Paths.get(out, "spans.jsonl"), trace.spansJsonl)
    Files.writeString(Paths.get(out, "jobs.jsonl"), trace.jobsJsonl)
    Files.writeString(Paths.get(out, "result.json"), result + "\n")
    spark.stop()
  }
}

/** A workload as the harness drives it. */
trait WorkloadRun {
  /** Write the inputs. */
  def setup(): Unit
  /** One pass; returns (seconds until the lake was committed, span id). */
  def pass(i: Int): (Double, Int)
  /** Operations one pass attempts. */
  def operations: Int
  /** Check the last pass's outputs; one message per failed operation. */
  def check(): Seq[String]
  /** Layer counters of pass span `spanId` (traced passes only). */
  def counters(spanId: Int): Map[String, Double]
}

/** `medallion`: raw CSV + Field Config workbook → bronze → silver → gold
  * parquet committed by `Orchestrator.runFor`, then `PgGold.writeGold`
  * into a fresh PgLite server and the wire read-back. */
final class MedallionRun(spark: SparkSession, trace: Trace, rows: Int,
                         seed: Long, info: mutable.Map[String, String])
    extends WorkloadRun {
  import Main._

  private var input: MedallionInput.Inputs = _
  private val work = new File("medallion").getAbsolutePath
  private val baseDate = LocalDate.of(2024, 1, 1)
  private var last: Either[String, Done] = Left("no pass")

  private final case class Done(dir: String, parquet: Map[String, Long],
                                wire: Map[String, Long], statements: Long,
                                publishS: Double)

  def operations: Int = 1

  def setup(): Unit = {
    input = MedallionInput.write(new File("input").getAbsolutePath, rows, seed)
    info("input_rows") = input.rows.toString
    info("input_bytes") = input.bytes.toString
    info("key_collision_share") = Json.num(input.keyCollisionShare)
    info("key_share") = Json.num(MedallionInput.KeyShare)
  }

  def pass(i: Int): (Double, Int) = {
    var lake = 0.0
    var id = -1
    trace.span("pass") {
      id = trace.all.last.id
      lake =
        try runPass(i)
        catch { case e: Exception =>
          last = Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          Double.NaN
        }
    }
    (lake, id)
  }

  /** One dated run, then publish and read back; returns lake seconds. */
  private def runPass(i: Int): Double = {
    val t0 = System.nanoTime()
    last = Left("pass did not finish")
    val report = trace.span("Orchestrator.runFor") {
      Orchestrator.runFor(spark, input.csv, input.xlsx, work,
        Medallion.referenceSpec, baseDate.plusDays(i),
        Orchestrator.RetryPolicy(retries = 0))
    }
    val lake = (System.nanoTime() - t0) / 1e9
    val gold = GoldTables.map(t =>
      t -> spark.read.parquet(s"${report.outDir}/gold/$t")).toMap
    val (server, engine) = PgLiteServer.start()
    try {
      val c = new PgLiteClient("127.0.0.1", server.port)
      c.connect()
      val st0 = engine.statementCount.get()
      val p0 = System.nanoTime()
      trace.span("PgGold.writeGold") {
        PgGold.writeGold(c, gold, Medallion.referenceSpec, "127.0.0.1", server.port)
      }
      val publishS = (System.nanoTime() - p0) / 1e9
      val statements = engine.statementCount.get() - st0
      val (parquet, wire) = trace.span("verify") {
        (GoldTables.map(t => t -> gold(t).count()).toMap,
          GoldTables.map(t => t ->
            c.query(s"SELECT count(*) FROM gold.$t").rows.head.head.get.toLong).toMap)
      }
      c.close()
      last = Right(Done(report.outDir, parquet, wire, statements, publishS))
    } finally server.stop()
    lake
  }

  def check(): Seq[String] = last match {
    case Left(err) => Seq(s"medallion: $err")
    case Right(d) =>
      val gold = GoldTables.map(t => t -> spark.read.parquet(s"${d.dir}/gold/$t")).toMap
      val bad = mutable.ArrayBuffer.empty[String]
      GoldTables.foreach { t =>
        if (d.wire(t) != d.parquet(t))
          bad += s"$t: wire count ${d.wire(t)} != parquet count ${d.parquet(t)}"
        if (gold(t).columns.length != GoldWidths(t))
          bad += s"$t: width ${gold(t).columns.length} != ${GoldWidths(t)}"
      }
      Seq("hoa", "taxes").foreach { t =>
        val keys = gold(t).select(s"${t}_key")
        if (keys.distinct().count() != d.parquet(t)) bad += s"$t: dim keys not unique"
      }
      Facts.foreach { f =>
        if (gold(f).filter(col("property_id").isNull).count() != 0)
          bad += s"$f: null property_id"
      }
      if (d.parquet("property") != input.rows)
        bad += s"property rows ${d.parquet("property")} != input rows ${input.rows}"
      if (bad.isEmpty) Nil else Seq("medallion: " + bad.mkString("; "))
  }

  def counters(spanId: Int): Map[String, Double] = {
    val d = last.getOrElse(return Map.empty)
    def under(name: String) = trace.all.filter(s => s.name == name && s.parent == spanId)
    def secs(name: String) = under(name).map(_.seconds).sum
    def jobs(name: String) = under(name).flatMap(s => trace.jobsUnder(s.id))
    val (bronzeJobs, goldJobs) = jobs("Orchestrator.runFor").partition(j => BronzeSites(trace.site(j)))
    val publishJobs = jobs("PgGold.writeGold")
    def taskS(js: Seq[Trace#Job]) = js.map(_.taskMs.get).sum / 1e3
    val pgRows = d.parquet.values.sum.toDouble
    val mb = 1.0 / (1 << 20)
    Map(
      "span.Orchestrator.runFor_s" -> secs("Orchestrator.runFor"),
      "span.PgGold.writeGold_s" -> secs("PgGold.writeGold"),
      "span.verify_s" -> secs("verify"),
      "medallion.jobs.bronze" -> bronzeJobs.size.toDouble,
      "medallion.jobs.gold" -> goldJobs.size.toDouble,
      "medallion.jobs.publish" -> publishJobs.size.toDouble,
      "medallion.task_s.bronze" -> taskS(bronzeJobs),
      "medallion.task_s.gold" -> taskS(goldJobs),
      "medallion.task_s.publish" -> taskS(publishJobs),
      "bronze_mb" -> dirBytes(new File(s"${d.dir}/bronze")) * mb,
      "gold_mb" -> dirBytes(new File(s"${d.dir}/gold")) * mb,
      "io.pg.statements" -> d.statements.toDouble,
      "io.pg.rows" -> pgRows,
      "io.pg.rows_per_s" -> pgRows / d.publishS,
      "gold.fact_rows_per_input_row" -> d.parquet("leads").toDouble / input.rows
    ) ++ GoldTables.map(t => s"gold.rows.$t" -> d.parquet(t).toDouble)
  }
}

/** `lake`: each listed `SparkEntry.queries` entry over the sf
  * directory in list order, its result written to
  * `lake/<query>` as parquet. The check reads each result's row count,
  * which must repeat across passes; after the run `run.py`
  * compares the written results with their DuckDB oracles
  * (`lake/oracle_sql.json`). */
final class QueryRun(spark: SparkSession, trace: Trace, sfDir: String,
                     names: Seq[String],
                     info: mutable.Map[String, String]) extends WorkloadRun {
  // a fixed order: the first query of a cold pass pays 2-8 s of first-use
  // costs that depend on which query it is, so a seed-permuted order
  // moved the pass by a quarter between seeds
  private val order = names
  private val expected = mutable.Map.empty[String, Long]
  private val got = mutable.LinkedHashMap.empty[String, Option[String]]
  private val lake = new File("lake").getAbsolutePath

  def operations: Int = names.size

  def setup(): Unit = {
    info("order") = order.map(Json.str).mkString("[", ",", "]")
    info("lake") = Json.str(lake)
    info("input_bytes") =
      Option(new File(sfDir).listFiles()).toSeq.flatten.map(Main.dirBytes).sum.toString
    new File(lake).mkdirs()
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(lake, "oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
  }

  def pass(i: Int): (Double, Int) = {
    var id = -1
    val t0 = System.nanoTime()
    trace.span("pass") {
      id = trace.all.last.id
      got.clear()
      order.foreach { q =>
        got(q) =
          try {
            trace.span(s"q.$q") {
              graft.SparkEntry.queries(q)(spark, sfDir)
                .write.mode("overwrite").parquet(s"$lake/$q")
            }
            None
          } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        spark.catalog.clearCache()
      }
    }
    ((System.nanoTime() - t0) / 1e9, id)
  }

  def check(): Seq[String] = got.toSeq.flatMap {
    case (q, Some(err)) => Seq(s"$q: $err")
    case (q, None) =>
      val n = spark.read.parquet(s"$lake/$q").count()
      if (expected.getOrElseUpdate(q, n) == n) Nil
      else Seq(s"$q: $n rows, the first pass wrote ${expected(q)}")
  }

  def counters(spanId: Int): Map[String, Double] = {
    val spans = trace.all.filter(s => s.parent == spanId && s.name.startsWith("q."))
    spans.flatMap { s =>
      Seq(s"${s.name}.s" -> s.seconds, s"${s.name}.jobs" -> trace.jobsUnder(s.id).size.toDouble)
    }.toMap
  }
}
