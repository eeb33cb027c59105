package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class EventStreamsSpec extends SparkSpec {

  // offset well past epoch 0: an event at exactly the initial watermark
  // (epoch 0) is dropped as late by stateful operators
  private val base = 86400000L
  private def ts(min: Int): Timestamp = new Timestamp(base + min * 60000L)

  private def ev(id: Long, min: Int, user: Long, typ: String, v: Double) =
    EventStreams.Event(id, ts(min), user, typ, v)

  "tumblingCounts" should "aggregate per hour window over a stream" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(
        ev(1, 5, 1, "click", 1.0), ev(2, 20, 1, "click", 2.0),
        ev(3, 65, 2, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .collect().map(r => ((r.getTimestamp(0).getTime - 86400000L) / 60000, r.getString(1), r.getLong(2)))
        .toSet
      rows shouldBe Set((0L, "click", 2L), (60L, "view", 1L))
    } finally q.stop()
  }

  "statefulSessions" should "close sessions on gap and emit on watermark" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.statefulSessions(spark, mem.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: two sessions separated by a 40-min gap
      mem.addData(ev(1, 0, 1, "click", 1.0), ev(2, 10, 1, "view", 2.0))
      q.processAllAvailable()
      mem.addData(ev(3, 50, 1, "click", 4.0))
      q.processAllAvailable()
      // push the watermark far ahead so the open session times out
      mem.addData(ev(9, 600, 2, "view", 0.0))
      q.processAllAvailable()
      mem.addData(ev(10, 1200, 2, "view", 0.0))
      q.processAllAvailable()

      val sessions = spark.table("sessions")
        .collect().map(r => (r.getLong(0), (r.getTimestamp(1).getTime - 86400000L) / 60000,
          (r.getTimestamp(2).getTime - 86400000L) / 60000, r.getInt(3), r.getDouble(4)))
        .toSet
      sessions should contain((1L, 0L, 10L, 2, 3.0))   // first session closed by gap
      sessions should contain((1L, 50L, 50L, 1, 4.0))  // second closed by timeout
    } finally q.stop()
  }

  "dedupStream" should "drop duplicate event ids within the watermark" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(ev(1, 0, 1, "click", 1.0), ev(1, 0, 1, "click", 1.0),
        ev(2, 5, 1, "view", 2.0))
      q.processAllAvailable()
      mem.addData(ev(1, 6, 1, "click", 1.0)) // replayed duplicate, still in state
      q.processAllAvailable()
      spark.table("dedup").collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(1L, 2L)
    } finally q.stop()
  }

  "file-source streaming" should "run csv readStream → parquet sink with checkpoint" in {
    import spark.implicits._
    val base = freshDir("stream")
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(inDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(inDir, "batch1.csv"),
      "event_id,ts,user_id,event_type,value\n" +
        "1,2024-01-01 00:05:00,1,click,1.5\n" +
        "2,2024-01-01 00:20:00,2,view,2.5\n")
    val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
    val stream = spark.readStream.schema(schema)
      .option("header", "true").csv(inDir)
    val q = EventStreams.tumblingCounts(stream)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // append mode: windows flush once the watermark passes them
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(inDir, "batch2.csv"),
        "event_id,ts,user_id,event_type,value\n" +
          "3,2024-01-01 09:00:00,1,click,0.5\n")
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outDir)
    out.count() shouldBe 2 // the two hour-0 windows, flushed by batch2's watermark
  }

  // Round-1 verdict item 5: the "one definition, two modes" claim,
  // asserted — the SAME events fed as a stream must produce the SAME
  // frame as the batch twin, exactly (decimal/cents arithmetic on both
  // sides makes the doubles bit-equal, not just close).
  private def realEvents =
    graft.queries.Tables.events(spark, "/root/testdata/sf0.001")

  "batch≡stream" should "produce identical tumbling windows" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = realEvents.as[EventStreams.Event].collect().toSeq
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("bs_tumbling")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(evs)
      q.processAllAvailable()
      val streamed = spark.table("bs_tumbling").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = graft.queries.EventQueries.tumbling(spark, "/root/testdata/sf0.001")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      streamed shouldBe batch
      streamed should not be empty
    } finally q.stop()
  }

  it should "produce identical sliding windows" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = realEvents.as[EventStreams.Event].collect().toSeq
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.slidingCounts(mem.toDF())
      .writeStream.format("memory").queryName("bs_sliding")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(evs)
      q.processAllAvailable()
      val streamed = spark.table("bs_sliding").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      val batch = graft.queries.EventQueries.sliding(spark, "/root/testdata/sf0.001")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      streamed shouldBe batch
    } finally q.stop()
  }

  it should "produce identical sessions from the stateful sessionizer" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = realEvents.as[EventStreams.Event].collect().toSeq
    val maxTs = evs.map(_.ts.getTime).max
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.statefulSessions(spark, mem.toDS())
      .writeStream.format("memory").queryName("bs_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(evs)
      q.processAllAvailable()
      // two sentinel batches: the first advances the watermark past
      // every session end + gap, the second triggers the event-time
      // timeouts that flush the still-open sessions
      mem.addData(EventStreams.Event(-1L, new Timestamp(maxTs + 10 * 3600000L), -1L, "x", 0.0))
      q.processAllAvailable()
      mem.addData(EventStreams.Event(-2L, new Timestamp(maxTs + 20 * 3600000L), -2L, "x", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("bs_sessions")
        .filter($"user_id" >= 0)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getInt(3).toLong, r.getDouble(4)))
        .toSet
      val batch = graft.queries.EventQueries.sessionize(spark, "/root/testdata/sf0.001")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(3), r.getTimestamp(4),
          r.getLong(2), r.getDouble(5)))
        .toSet
      streamed shouldBe batch
      streamed.size should be > 10
    } finally q.stop()
  }

  "sessionWindows" should "use the built-in session_window" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionWindows(mem.toDF())
      .writeStream.format("memory").queryName("swin")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(ev(1, 0, 1, "click", 1.0), ev(2, 10, 1, "view", 2.0))
      q.processAllAvailable()
      // advance the watermark past session end + gap so append emits it
      mem.addData(ev(9, 600, 2, "view", 0.0))
      q.processAllAvailable()
      mem.addData(ev(10, 1200, 2, "view", 0.0))
      q.processAllAvailable()
      val rows = spark.table("swin").collect()
      rows.length should be >= 1
      rows.map(_.getLong(3)).max shouldBe 2 // both events in one session
    } finally q.stop()
  }
}
