package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream batch analytics over the `events` table (SURVEY.md §7.5):
  * tumbling and sliding time windows, and gap-based sessionization.
  * These are the batch twins of the Structured Streaming operators in
  * `graft.streaming` — identical logic, bounded input.
  */
object EventQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  private def dec(c: String) = col(c).cast("decimal(12,2)")

  /** Tumbling 1-hour windows per event type, via Spark's `window()`
    * (epoch-aligned, same alignment as DuckDB's time_bucket). Pure
    * hash aggregate — one shuffle on (window, type). */
  def tumbling(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec("value")).cast("double").as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("ws"), col("event_type"))

  /** Sliding windows: 1-hour length, 30-minute slide — each event lands
    * in exactly 2 windows. Spark expands via its window generator; the
    * oracle expands explicitly with a 2-way UNION ALL of shifted
    * half-hour buckets. */
  def sliding(s: SparkSession, dir: String): DataFrame =
    ev(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec("value")).cast("double").as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("ws"), col("event_type"))

  /** Gap-based sessionization (30-min inactivity gap) per user: the
    * classic lag → new-session flag → running-sum session id, then
    * per-session metrics. One shuffle on user_id; window sort is
    * per-user, so it scales with the largest single user's history,
    * not the table. Gap comparison is in exact epoch microseconds. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapUs = 30L * 60 * 1000000
    ev(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
             unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("is_new")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id").cast("int").as("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sum(dec("value")).cast("double").as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Batch ≡ stream PARITY gate, driver-visible (round-4/5 verdict
    * item 6 — previously only EventStreamsSpec asserted it): the
    * tumbling aggregation is ONE declarative definition run in two
    * execution modes. Stream mode runs the Structured Streaming twin
    * ([[graft.streaming.EventStreams.tumblingCounts]]) over a
    * file-stream source of the SAME events parquet with
    * `Trigger.AvailableNow`, lands the complete result in a parquet
    * sink (foreachBatch overwrite), re-reads it, and full-outer-joins
    * it against the batch frame: every window must exist on both sides
    * with bit-identical count and decimal-summed value (cents/decimal
    * arithmetic makes the doubles exactly equal, not approximately —
    * the EventStreamsSpec contract). Output = the batch tumbling rows
    * + `stream_match`; oracle = DuckDB's tumbling result + true, so a
    * window missed, duplicated, or mis-summed by the streaming path
    * flips a row. Scratch is [[Harness.scratch]], wiped per run (a
    * stale checkpoint would make the source skip seen files). */
  def streamParity(s: SparkSession, dir: String): DataFrame =
      Tables.withGateShuffle(s) {
    val base = Harness.scratch(s, "stream-parity", dir)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    // the file-stream source lists a DIRECTORY; stage the single-file
    // table into a scratch dir (testdata is read-only)
    val inDir = java.nio.file.Paths.get(base, "in")
    java.nio.file.Files.createDirectories(inDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(path), inDir.resolve("events.parquet"))
    val raw = s.read.parquet(path).schema
    // the raw file schema drifts with the snapshot (nanos-as-long vs
    // TIMESTAMP_NTZ) — normalize with the same branch Tables.events uses
    val stream = s.readStream.schema(raw).parquet(inDir.toString)
      .withColumn("ts", Tables.eventsTsExpr(raw("ts").dataType))
    val q = graft.streaming.EventStreams.tumblingCounts(stream)
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.write.mode("overwrite").parquet(s"$base/out"); ()
      }
      .start()
    q.awaitTermination()
    val streamed = s.read.parquet(s"$base/out")
      .select(col("ws"), col("event_type"),
        col("n").as("n_stream"), col("sum_value").as("sum_stream"))
    val batch = ev(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec("value")).cast("double").as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value"))
    batch.join(streamed, Seq("ws", "event_type"), "full_outer")
      .select(col("ws"), col("event_type"), col("n"), col("sum_value"),
        (col("n").isNotNull && col("n_stream").isNotNull &&
          col("n") === col("n_stream") &&
          col("sum_value") === col("sum_stream")).as("stream_match"))
      .orderBy(col("ws"), col("event_type"))
  }

  /** FUNNEL analysis (round-10) — WINDOWED stage progression per user
    * (signup → view → click → purchase, each stage strictly after the
    * previous and within 24 h of it): the classic event-analytics
    * operator, expressed as ONE
    * hash aggregation (shuffle on user_id) collecting each user's
    * sorted (ts, type) events and a deterministic `aggregate` fold
    * walking them with (stage, last_ts) state — the first qualifying
    * event in time order advances the stage, which is provably the
    * stepwise-min semantics the oracle replays (events sorted
    * ascending ⇒ first qualifying ≡ min ts > prev). Per-user state is
    * the user's own history — the sessionize posture: scales with the
    * largest single user, not the table. Output: users per reached
    * stage. */
  def funnelQ(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .filter(col("event_type").isin("signup", "view", "click", "purchase"))
    val perUser = e.groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(
        unix_micros(col("ts")).as("us"), col("event_type").as("t"))))
        .as("evs"))
    val stage = expr("""
      aggregate(evs,
        named_struct('stage', 0, 'last', CAST(-9223372036854775808 AS BIGINT)),
        (acc, x) -> CASE
          WHEN acc.stage = 0 AND x.t = 'signup'
            THEN named_struct('stage', 1, 'last', x.us)
          WHEN acc.stage = 1 AND x.t = 'view'
               AND x.us > acc.last AND x.us <= acc.last + 86400000000
            THEN named_struct('stage', 2, 'last', x.us)
          WHEN acc.stage = 2 AND x.t = 'click'
               AND x.us > acc.last AND x.us <= acc.last + 86400000000
            THEN named_struct('stage', 3, 'last', x.us)
          WHEN acc.stage = 3 AND x.t = 'purchase'
               AND x.us > acc.last AND x.us <= acc.last + 86400000000
            THEN named_struct('stage', 4, 'last', x.us)
          ELSE acc END,
        acc -> acc.stage)""")
    perUser.select(stage.as("stage"))
      .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
  }

  /** COHORT RETENTION (round-10) — the funnel's sibling: users grouped
    * by the week of their FIRST event (the cohort), counted once per
    * (cohort, weeks-since-first) they were active in. Two aggregations:
    * a per-user min(ts) census (one shuffle on user_id) broadcast back
    * onto the scan, then a distinct (cohort, offset, user) partial-agg
    * — per-week activity collapses map-side, so the wire carries at
    * most users × active-weeks rows, never events. Week arithmetic is
    * integer floor-division on epoch days (epoch day 0 is a Thursday;
    * the oracle applies the identical rule), so both engines bucket
    * identically with no timezone/locale week definitions involved. */
  def retentionQ(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day"))
    val first = e.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    e.join(broadcast(first), Seq("user_id"))
      .select(col("user_id"),
        expr("first_day DIV 7").cast("int").as("cohort_week"),
        expr("(day - first_day) DIV 7").cast("int").as("week_offset"))
      .distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** STREAM-STREAM JOIN parity gate (round-10): the clickstream
    * attribution join ([[graft.streaming.EventStreams
    * .attributionPairs]] — every (click, view) pair of the same user
    * within ±30 minutes) run in BOTH execution modes from one
    * definition. The stream side reads clicks and views as TWO
    * independent file-stream sources, both watermarked 2 h, joined by
    * Spark's stream-stream engine (state-store buffered, watermark +
    * symmetric bound ⇒ evictable state) under `Trigger.AvailableNow`
    * into an append parquet sink; the batch side is the same function
    * on batch frames. Full-outer join on (click_id, view_id) ⇒ a pair
    * the stream missed, duplicated, or mis-joined flips (or
    * null-sides) a row against the DuckDB oracle's plain interval
    * join. */
  def streamJoinParity(s: SparkSession, dir: String): DataFrame =
      Tables.withGateShuffle(s) {
    val base = Harness.scratch(s, "ssjoin", dir)
    // fixture staging (memoized like the late-data split): ONE pass
    // splits the click/view sides into their own parquet files, so the
    // two stream sources replay 2×2 % of the table instead of each
    // re-reading and re-filtering the whole of it — the staged files
    // model the two real topics/directories an attribution pipeline
    // actually consumes
    val stageRoot = Harness.memo(s, "ssjoin-stage", dir, Seq("events.parquet"),
        "ssjoin-sides-v1") { m =>
      ev(s, dir).filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("event_type").as("side"))
        .repartition(col("side"))
        .write.mode("overwrite").partitionBy("side").parquet(m)
    }
    def stagePart(side: String, destDir: String): Unit = {
      val in = java.nio.file.Paths.get(base, destDir)
      java.nio.file.Files.createDirectories(in)
      // copy EVERY part file: the staged write usually emits one per
      // side (repartition by side), but if a layout change or
      // maxRecordsPerFile ever splits it, dropping files here would
      // surface as a baffling parity diff instead of a staging error
      val parts = new java.io.File(s"$stageRoot/side=$side").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      if (parts.isEmpty)
        throw new IllegalStateException(s"no part file for $side")
      parts.zipWithIndex.foreach { case (part, i) =>
        java.nio.file.Files.copy(part.toPath, in.resolve(f"$side-$i%05d.parquet"))
      }
    }
    stagePart("click", "inA")
    stagePart("view", "inB")
    // staged files are written POST-normalization: ts is TimestampType
    val raw = s.read.parquet(s"$stageRoot/side=click").schema
    def src(d: String) = s.readStream.schema(raw).parquet(s"$base/$d")
    val clicksS = src("inA")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val viewsS = src("inB")
      .select(col("event_id").as("view_id"),
        col("user_id").as("view_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    // a symmetric-hash join materializes 4 state stores PER shuffle
    // partition; at the session default (32) that is 128 store
    // instances for a 150-user key space — pure fixed overhead. The
    // stream pins its own partitioning at checkpoint creation, so
    // narrowing it here affects only this query's state layout (a
    // real deployment sizes this to key cardinality × update rate).
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val q = try {
      s.conf.set("spark.sql.shuffle.partitions", "8")
      graft.streaming.EventStreams.attributionPairs(clicksS, viewsS)
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .option("path", s"$base/out")
        .format("parquet")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    q.awaitTermination()
    val streamed = s.read.parquet(s"$base/out")
      .select(col("click_id"), col("view_id"), lit(true).as("s_seen"))
    val all = ev(s, dir)
    val clicksB = all.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val viewsB = all.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"),
        col("user_id").as("view_user"), col("ts").as("view_ts"))
    graft.streaming.EventStreams.attributionPairs(clicksB, viewsB)
      .withColumn("b_seen", lit(true))
      .join(streamed, Seq("click_id", "view_id"), "full_outer")
      .select(col("user_id"), col("click_id"), col("view_id"),
        col("click_ts"), col("view_ts"),
        (col("b_seen").isNotNull && col("s_seen").isNotNull).as("stream_match"))
      .orderBy(col("click_id"), col("view_id"))
  }

  /** LATE-DATA parity gate, driver-visible (round-6 verdict item 8 —
    * the watermark path was previously spec-only): the events table is
    * split into an ON-TIME file (everything from Jan 2 on) and a LATE
    * file (all of Jan 1), delivered to a file-stream source in two
    * sequential `processAllAvailable` passes so the stream sees the
    * newest data FIRST. Micro-batch 1 advances the watermark to
    * max(ts) − 2 h; micro-batch 2 delivers the day-old events, which
    * the watermark drops — and append mode emits exactly the finalized
    * windows (window end ≤ final watermark). Sequential passes, not
    * `Trigger.AvailableNow` over pre-staged files: on this Spark
    * version AvailableNow's up-front batch planning does NOT drop the
    * late rows (pinned in LateDataProbeSpec) — the sequential pattern
    * has the documented semantics. The batch twin applies the
    * SAME two rules declaratively: exclude the late file's events,
    * keep windows ending at or before max(ts) − 2 h. Full-outer join ⇒
    * a late event leaking into the stream, a window the stream failed
    * to finalize, or any count/sum drift flips a row (or creates a
    * null-sided one the oracle hash can't match). Timestamp boundaries
    * are safe by construction: window ends are hour-aligned while the
    * watermark carries max(ts)'s microseconds, so strict-vs-inclusive
    * emission semantics can never disagree on this data. */
  def lateDataParity(s: SparkSession, dir: String): DataFrame =
      Tables.withGateShuffle(s) {
    val base = Harness.scratch(s, "late-data", dir)
    val cutoff = lit("2024-01-02 00:00:00").cast("timestamp")
    val all = ev(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val onTime = all.filter(col("ts") >= cutoff)
    // the split fixture files are a pure function of (events table) —
    // disk-memoized across processes like the ANN epoch artifacts, so
    // they are written once per input snapshot; the stream run below
    // stays fresh per invocation (it IS the gate). ONE parallel pass
    // writes both sides (scan → hash-split → one file per side),
    // replacing the two coalesce(1) stages that each ran the whole
    // scan-and-write in a single task.
    val stageRoot = Harness.memo(s, "late-data-stage", dir, Seq("events.parquet"),
        "late-data-sides-v1") { m =>
      all.withColumn("side",
          when(col("ts") >= cutoff, lit("ontime")).otherwise(lit("late")))
        .repartition(col("side"))
        .write.mode("overwrite").partitionBy("side").parquet(m)
    }
    val inDir = java.nio.file.Paths.get(base, "in")
    java.nio.file.Files.createDirectories(inDir)
    def stage(src: String, destPrefix: String): Unit = {
      // copy EVERY part file, as the stream-join staging does:
      // repartition(side) usually leaves one per side, but if a
      // writer-config change ever splits it, silently staging only the
      // first file would surface as a baffling parity diff. All of a
      // side's files land before its processAllAvailable pass, so
      // delivering several in one batch preserves the watermark
      // semantics.
      val parts = new java.io.File(s"$stageRoot/side=$src").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      if (parts.isEmpty)
        throw new IllegalStateException(s"no part file in $src")
      // copy, not move: the staged file is the memoized artifact
      parts.zipWithIndex.foreach { case (part, i) =>
        java.nio.file.Files.copy(part.toPath,
          inDir.resolve(f"$destPrefix-$i%05d.parquet"))
      }
    }
    val stream = s.readStream.schema(all.schema).parquet(inDir.toString)
    val q = graft.streaming.EventStreams.tumblingCounts(stream)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .option("path", s"$base/out")
      .format("parquet")
      .start()
    try {
      stage("ontime", "0-ontime")
      q.processAllAvailable() // batch 0: watermark → max(ts) − 2 h
      stage("late", "1-late")
      q.processAllAvailable() // batch 1: late rows dropped, windows flush
    } finally q.stop()
    val streamed = s.read.parquet(s"$base/out")
      .select(col("ws"), col("event_type"),
        col("n").as("n_stream"), col("sum_value").as("sum_stream"))
    val wm = all.agg((max(col("ts")) - expr("INTERVAL 2 HOURS")).as("wm"))
    val batch = onTime
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec("value")).cast("double").as("sum_value"))
      .crossJoin(wm)
      .filter(col("window.end") <= col("wm"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value"))
    batch.join(streamed, Seq("ws", "event_type"), "full_outer")
      .select(col("ws"), col("event_type"), col("n"), col("sum_value"),
        (col("n").isNotNull && col("n_stream").isNotNull &&
          col("n") === col("n_stream") &&
          col("sum_value") === col("sum_stream")).as("stream_match"))
      .orderBy(col("ws"), col("event_type"))
  }

  val queries: Seq[Query] = Seq(
    Query("q_events_tumbling", tumbling,
      """SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS ws, event_type,
           count(1) AS n, CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    Query("q_events_stream_parity", streamParity,
      """SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS ws, event_type,
           count(1) AS n, CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           true AS stream_match
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""", gate = true),
    Query("q_events_retention", retentionQ,
      """WITH d AS (
           SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
           FROM events),
         f AS (SELECT user_id, min(day) AS first_day FROM d GROUP BY 1),
         a AS (
           SELECT DISTINCT d.user_id,
             CAST(f.first_day // 7 AS INT) AS cohort_week,
             CAST((d.day - f.first_day) // 7 AS INT) AS week_offset
           FROM d JOIN f USING (user_id))
         SELECT cohort_week, week_offset, count(1) AS n_users
         FROM a GROUP BY 1, 2 ORDER BY cohort_week, week_offset"""),
    Query("q_events_funnel", funnelQ,
      """WITH t1 AS (
           SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS ts FROM events
           WHERE event_type = 'signup' GROUP BY 1),
         t2 AS (
           SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS ts FROM events e
           JOIN t1 ON e.user_id = t1.user_id AND CAST(e.ts AS TIMESTAMP) > t1.ts
             AND CAST(e.ts AS TIMESTAMP) <= t1.ts + INTERVAL 24 HOUR
           WHERE e.event_type = 'view' GROUP BY 1),
         t3 AS (
           SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS ts FROM events e
           JOIN t2 ON e.user_id = t2.user_id AND CAST(e.ts AS TIMESTAMP) > t2.ts
             AND CAST(e.ts AS TIMESTAMP) <= t2.ts + INTERVAL 24 HOUR
           WHERE e.event_type = 'click' GROUP BY 1),
         t4 AS (
           SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS ts FROM events e
           JOIN t3 ON e.user_id = t3.user_id AND CAST(e.ts AS TIMESTAMP) > t3.ts
             AND CAST(e.ts AS TIMESTAMP) <= t3.ts + INTERVAL 24 HOUR
           WHERE e.event_type = 'purchase' GROUP BY 1),
         u AS (
           SELECT DISTINCT user_id FROM events
           WHERE event_type IN ('signup', 'view', 'click', 'purchase')),
         stages AS (
           SELECT u.user_id,
             CASE WHEN t4.user_id IS NOT NULL THEN 4
                  WHEN t3.user_id IS NOT NULL THEN 3
                  WHEN t2.user_id IS NOT NULL THEN 2
                  WHEN t1.user_id IS NOT NULL THEN 1
                  ELSE 0 END AS stage
           FROM u
           LEFT JOIN t1 ON t1.user_id = u.user_id
           LEFT JOIN t2 ON t2.user_id = u.user_id
           LEFT JOIN t3 ON t3.user_id = u.user_id
           LEFT JOIN t4 ON t4.user_id = u.user_id)
         SELECT stage, count(1) AS n_users FROM stages
         GROUP BY 1 ORDER BY stage"""),
    Query("q_events_stream_join", streamJoinParity,
      """SELECT a.user_id, a.event_id AS click_id, b.event_id AS view_id,
           CAST(a.ts AS TIMESTAMP) AS click_ts,
           CAST(b.ts AS TIMESTAMP) AS view_ts,
           true AS stream_match
         FROM events a JOIN events b ON a.user_id = b.user_id
           AND CAST(b.ts AS TIMESTAMP)
             BETWEEN CAST(a.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
                 AND CAST(a.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
           AND a.event_type = 'click' AND b.event_type = 'view'
         ORDER BY click_id, view_id""", gate = true),
    Query("q_events_late_data", lateDataParity,
      """SELECT ws, event_type, n, sum_value, true AS stream_match FROM (
           SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS ws, event_type,
             count(1) AS n, CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
           FROM events
           WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
           GROUP BY 1, 2) t
         WHERE ws + INTERVAL 1 HOUR <=
           (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 2 HOUR FROM events)
         ORDER BY 1, 2""", gate = true),
    Query("q_events_sliding", sliding,
      """WITH expanded AS (
           SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) AS ws, event_type, value FROM events
           UNION ALL
           SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) - INTERVAL 30 MINUTE AS ws, event_type, value FROM events)
         SELECT ws, event_type, count(1) AS n,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
         FROM expanded GROUP BY 1, 2 ORDER BY 1, 2"""),
    Query("q_events_sessionize", sessionize,
      """WITH o AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) AS prev
           FROM events),
         m AS (
           SELECT user_id, ts, value,
             CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END AS is_new
           FROM o),
         sess AS (
           SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM m)
         SELECT user_id, CAST(session_id AS INT) AS session_id, count(1) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
         FROM sess GROUP BY 1, 2 ORDER BY 1, 2""")
  )
}
