package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans and Spark counters, taken from the benchmark's own calls.
  *
  * A span is a named interval around one call into the program. Spans
  * nest (a query inside a pass); each keeps its parent. They live in
  * memory and are written out once, when the run ends.
  *
  * The listener charges every Spark job, with its stages' task time,
  * GC, shuffle, spill and I/O, to the span that was open when the job
  * was submitted, and records the source file of the job's call site
  * (its result stage's name, e.g. `parquet at Orchestrator.scala:157`).
  * Jobs carry the id of the span open on the submitting thread as a
  * local property, which Spark's own pools and threads the program
  * starts inherit; the submission time settles the rest. */
final class Trace {
  final case class Span(id: Int, parent: Int, name: String,
                        startMs: Long, startNs: Long,
                        var endMs: Long = -1L, var endNs: Long = -1L) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  /** Counters of one job, filled in as its stages complete. */
  final class Job(val id: Int, val span: Int, val rawSite: String,
                  val sqlExecution: Option[String]) {
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val taskMs = new AtomicLong
    val gcMs = new AtomicLong
    val shuffleRead = new AtomicLong
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
    val input = new AtomicLong
    val output = new AtomicLong
    val failedTasks = new AtomicLong
  }

  private val PropKey = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** SQL execution id → call-site file of the action that started it. */
  private val sqlSites = new ConcurrentHashMap[String, String]()
  @volatile private var sc: SparkContext = _

  /** Time `body` as a span named `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val s = spans.synchronized {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s.id :: stack
      s
    }
    if (sc != null) sc.setLocalProperty(PropKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      spans.synchronized { stack = stack.tail }
      if (sc != null)
        sc.setLocalProperty(PropKey, stack.headOption.map(_.toString).orNull)
    }
  }

  /** All spans, in start order. */
  def all: Seq[Span] = spans.synchronized(spans.toList)

  private def holds(s: Span, timeMs: Long): Boolean =
    s.startMs <= timeMs && (s.endMs < 0 || timeMs <= s.endMs)

  /** The span a job submitted at `timeMs` belongs to: the one its thread
    * names, unless that span was already closed (a pool thread keeps the
    * property it inherited), else the innermost open at that time. */
  private def spanOf(named: Option[Int], timeMs: Long): Int = spans.synchronized {
    named.filter(id => id < 0 || holds(spans(id), timeMs)).getOrElse(
      spans.reverseIterator.find(holds(_, timeMs)).map(_.id).getOrElse(-1))
  }

  /** Start charging Spark work to spans. */
  def attach(context: SparkContext): Unit = {
    sc = context
    context.addSparkListener(listener)
  }

  /** Stop charging and wait until the listener bus has delivered every
    * event posted so far. */
  def detach(): Unit = if (sc != null) {
    drain()
    sc.removeSparkListener(listener)
    sc.setLocalProperty(PropKey, null)
    sc = null
  }

  /** Block until already-posted listener events are processed. */
  private def drain(): Unit = if (sc != null) {
    // the listener bus is private to Spark; a marker job's end event
    // queued behind every earlier event is the public way to wait
    val marker = new java.util.concurrent.CountDownLatch(1)
    val probe = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = marker.countDown()
    }
    sc.addSparkListener(probe)
    val prior = sc.getLocalProperty(PropKey)
    sc.setLocalProperty(PropKey, "-2")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(PropKey, prior)
    marker.await(30, java.util.concurrent.TimeUnit.SECONDS)
    sc.removeSparkListener(probe)
  }

  /** Jobs charged to span `id` or any span below it. */
  def jobsUnder(id: Int): Seq[Job] = {
    val ids = descendants(id)
    jobs.values().asScala.filter(j => ids(j.span)).toSeq.sortBy(_.id)
  }

  /** The call-site file of `j`: that of the action whose SQL execution
    * submitted it, else that of its result stage. Adaptive execution
    * submits every stage of an action from Spark's own pools, where the
    * stage's call site names a JDK frame (`async`). */
  def site(j: Job): String =
    j.sqlExecution.flatMap(x => Option(sqlSites.get(x))).getOrElse(j.rawSite)

  private def descendants(id: Int): Set[Int] = {
    val byParent = all.groupBy(_.parent)
    def walk(i: Int): Set[Int] =
      Set(i) ++ byParent.getOrElse(i, Nil).flatMap(s => walk(s.id))
    walk(id)
  }

  private val SiteFile = """at ([A-Za-z0-9_$]+\.(?:scala|java))""".r.unanchored
  /** The first program frame of a call stack (`graft.…(File.scala:N)`). */
  private val ProgramFrame = """(?m)^graft\.[^(]*\(([A-Za-z0-9_$]+\.scala):""".r.unanchored

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = spanOf(props.flatMap(p => Option(p.getProperty(PropKey))).map(_.toInt),
        e.time)
      // the result stage is named after the job's call site; jobs that
      // Spark submits from its own pools (broadcasts, adaptive stages)
      // name a JDK frame, and the program has no Java sources
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
        .collect { case SiteFile(f) => if (f.endsWith(".java")) "async" else f }
        .getOrElse("?")
      val sql = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      jobs.put(e.jobId, new Job(e.jobId, span, site, sql))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val j = jobs.get(stageJob.getOrDefault(e.stageInfo.stageId, -1))
      if (j != null) {
        val m = e.stageInfo.taskMetrics
        j.stages.incrementAndGet()
        j.tasks.addAndGet(e.stageInfo.numTasks)
        if (m != null) {
          j.taskMs.addAndGet(m.executorRunTime)
          j.gcMs.addAndGet(m.jvmGCTime)
          j.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          j.input.addAndGet(m.inputMetrics.bytesRead)
          j.output.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        // the description is the action's call site unless the program
        // set a job description; the details hold its call stack
        val site = x.description match {
          case SiteFile(f) if !f.endsWith(".java") => Some(f)
          case _ => x.details match { case ProgramFrame(f) => Some(f); case _ => None }
        }
        site.foreach(sqlSites.put(x.executionId.toString, _))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != org.apache.spark.Success) {
        val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
        if (j != null) j.failedTasks.incrementAndGet()
      }
  }

  /** Jobs as JSON lines: id, span, call-site file as recorded and as
    * resolved, SQL execution, tasks, task seconds. */
  def jobsJsonl: String =
    jobs.values().asScala.toSeq.filter(_.span != -2).sortBy(_.id).map { j =>
      Json.obj(Seq("id" -> j.id.toString, "span" -> j.span.toString,
        "site" -> Json.str(site(j)), "raw_site" -> Json.str(j.rawSite),
        "sql" -> j.sqlExecution.map(Json.str).getOrElse("null"),
        "tasks" -> j.tasks.get.toString, "task_s" -> Json.num(j.taskMs.get / 1e3)))
    }.mkString("", "\n", "\n")

  /** Spans as JSON lines: id, parent, name, start (epoch ms), seconds. */
  def spansJsonl: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ms":${s.startMs},"s":${Json.num(s.seconds)}}"""
  }.mkString("", "\n", "\n")
}
