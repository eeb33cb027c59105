package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** graft.io.Zones — file-level zone-map data skipping. */
class ZonesSpec extends SparkSpec {
  import spark.implicits._

  private def base = freshDir("zones")

  private def table = spark.range(1, 1001)
    .select(col("id").as("k"), (col("id") % 7).as("v"))

  it should "answer a range query identically to the plain filter" in {
    val path = base
    Zones.writeZoned(table, path, "k", 8)
    val got = Zones.readZoneRange(spark, path, "k", lit(100L), lit(250L))
      .orderBy(col("k")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = table.filter(col("k") >= 100 && col("k") <= 250)
      .orderBy(col("k")).collect().map(r => (r.getLong(0), r.getLong(1)))
    got.toSeq shouldBe want.toSeq
  }

  it should "prune non-overlapping files via the manifest" in {
    val path = base
    Zones.writeZoned(table, path, "k", 8)
    val total = Zones.fileCount(spark, path)
    total should be >= 4L // range clustering actually produced zones
    // a ~15 % range must not touch every file
    val pruned = Zones.prunedFiles(spark, path, lit(100L), lit(250L))
    pruned.size.toLong should be < total
    // every returned row must come from a pruned-in file
    val scanned = Zones.readZoneRange(spark, path, "k", lit(100L), lit(250L))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    scanned.toSet.subsetOf(pruned.toSet) shouldBe true
  }

  it should "return an empty frame (and touch no files) outside the domain" in {
    val path = base
    Zones.writeZoned(table, path, "k", 8)
    Zones.prunedFiles(spark, path, lit(5000L), lit(6000L)) shouldBe empty
    val out = Zones.readZoneRange(spark, path, "k", lit(5000L), lit(6000L))
    out.count() shouldBe 0L
    out.columns.toSeq shouldBe Seq("k", "v")
  }

  behavior of "Zones.writeZonedMulti"

  // a 100×100 grid: x fully determines neither y nor the z layout,
  // so pruning must come from the Morton interleave on BOTH dims
  private def grid = spark.range(0, 10000)
    .select((col("id") / 100).cast("long").as("x"),
      (col("id") % 100).as("y"), col("id").as("payload"))

  it should "answer range queries on EITHER dimension identically to the plain filter" in {
    val path = freshDir("zorder")
    Zones.writeZonedMulti(grid, path, Seq("x", "y"), 16)
    def got(c: String, lo: Long, hi: Long) =
      Zones.readZoneRangeOn(spark, path, c, lit(lo), lit(hi))
        .orderBy(col("payload")).collect().map(_.getLong(2))
    def want(c: String, lo: Long, hi: Long) =
      grid.filter(col(c) >= lo && col(c) <= hi)
        .orderBy(col("payload")).collect().map(_.getLong(2))
    got("x", 10, 19).toSeq shouldBe want("x", 10, 19).toSeq
    got("y", 42, 47).toSeq shouldBe want("y", 42, 47).toSeq
  }

  it should "prune files on BOTH dimensions" in {
    val path = freshDir("zorder-prune")
    Zones.writeZonedMulti(grid, path, Seq("x", "y"), 16)
    val total = spark.read.parquet(s"$path/manifest").count()
    total should be >= 8L
    val onX = Zones.prunedFilesOn(spark, path, "x", lit(10L), lit(19L))
    val onY = Zones.prunedFilesOn(spark, path, "y", lit(42L), lit(47L))
    onX.size.toLong should be < total
    onY.size.toLong should be < total
    // scanned files stay within the pruned-in set
    val scanned = Zones.readZoneRangeOn(spark, path, "y", lit(42L), lit(47L))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    scanned.toSet.subsetOf(onY.toSet) shouldBe true
  }

  it should "return empty off-domain and reject degenerate column sets" in {
    val path = freshDir("zorder-empty")
    Zones.writeZonedMulti(grid, path, Seq("x", "y"), 8)
    Zones.readZoneRangeOn(spark, path, "x", lit(500L), lit(900L))
      .count() shouldBe 0L
    an[IllegalArgumentException] should be thrownBy
      Zones.writeZonedMulti(grid, freshDir("zorder-bad"), Nil, 8)
  }

  behavior of "Zones.appendZoned"

  it should "serve across the batch seam identically to the plain filter" in {
    val path = freshDir("zones-append")
    Zones.appendZoned(table.filter(col("k") <= 500), path, "k", 4, 0)
    Zones.appendZoned(table.filter(col("k") > 500), path, "k", 4, 1)
    val got = Zones.readZoneRange(spark, path, "k", lit(400L), lit(600L))
      .orderBy(col("k")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = table.filter(col("k") >= 400 && col("k") <= 600)
      .orderBy(col("k")).collect().map(r => (r.getLong(0), r.getLong(1)))
    got.toSeq shouldBe want.toSeq
    // ...and still prunes: the straddling range must not read all files
    Zones.prunedFiles(spark, path, lit(400L), lit(600L))
      .size.toLong should be < Zones.fileCount(spark, path)
  }

  it should "be replay-idempotent: re-appending a batch changes nothing" in {
    val path = freshDir("zones-replay")
    Zones.appendZoned(table.filter(col("k") <= 500), path, "k", 4, 0)
    Zones.appendZoned(table.filter(col("k") > 500), path, "k", 4, 1)
    def read() = Zones.readZoneRange(spark, path, "k", lit(1L), lit(1000L))
      .orderBy(col("k")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = read()
    Zones.appendZoned(table.filter(col("k") > 500), path, "k", 4, 1)
    read() shouldBe before
  }

  it should "maintain the artifact from a stream with batch parity" in {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = freshDir("zones-stream")
    val src = MemoryStream[(Long, Long)]
    val q = graft.streaming.DocStreams.zoneIngest(
      src.toDF().toDF("k", "v"), path, "k", 4)
    src.addData((1L to 500L).map(k => (k, k % 7)): _*)
    q.processAllAvailable()
    src.addData((501L to 1000L).map(k => (k, k % 7)): _*)
    q.processAllAvailable()
    q.stop()
    val got = Zones.readZoneRange(spark, path, "k", lit(100L), lit(250L))
      .orderBy(col("k")).collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = table.filter(col("k") >= 100 && col("k") <= 250)
      .orderBy(col("k")).collect().map(r => (r.getLong(0), r.getLong(1)))
    got.toSeq shouldBe want.toSeq
  }

  it should "compact many batches into one without changing served values" in {
    val path = freshDir("zones-compact")
    (0 until 4).foreach { b =>
      Zones.appendZoned(
        table.filter(col("k") % 4 === b), path, "k", 4, b)
    }
    def read() = Zones.readZoneRange(spark, path, "k", lit(100L), lit(250L))
      .orderBy(col("k")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = read()
    val filesBefore = Zones.fileCount(spark, path)
    Zones.compactZones(spark, path, "k", 4)
    read() shouldBe before
    Zones.fileCount(spark, path) should be < filesBefore
    // single-epoch layout: only batch=0 remains
    new java.io.File(s"$path/data").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq shouldBe
      Seq("batch=0")
    // and pruning got TIGHT again: the interleaved batches each
    // spanned the whole domain; post-compaction a narrow range reads
    // a strict subset
    Zones.prunedFiles(spark, path, lit(100L), lit(250L))
      .size.toLong should be < Zones.fileCount(spark, path)
  }

  behavior of "Zones.countRange"

  it should "answer mostly from metadata and exactly match the filter count" in {
    val path = freshDir("zones-count")
    Zones.writeZoned(table, path, "k", 8)
    val (n, metaF, scanF) = Zones.countRange(spark, path, "k", lit(100L), lit(700L))
    n shouldBe table.filter(col("k") >= 100 && col("k") <= 700).count()
    metaF should be >= 1L // interior zones answered without a scan
    scanF should be <= 2L // only the two boundary files read
  }

  it should "count an exactly-aligned range with zero scanned files" in {
    val path = freshDir("zones-count-aligned")
    Zones.writeZoned(table, path, "k", 8)
    // whole-domain range: every file inside, nothing scanned
    val (n, metaF, scanF) = Zones.countRange(spark, path, "k", lit(1L), lit(1000L))
    n shouldBe 1000L
    scanF shouldBe 0L
    metaF shouldBe Zones.fileCount(spark, path)
  }

  it should "keep zones tight: manifest ranges cover disjoint key spans" in {
    val path = base
    Zones.writeZoned(table, path, "k", 8)
    val zones = spark.read.parquet(s"$path/manifest")
      .select(col("zmin").cast("long"), col("zmax").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    zones.foreach { case (lo, hi) => lo should be <= hi }
    zones.zip(zones.tail).foreach { case ((_, hi), (lo2, _)) =>
      lo2 should be > hi // range clustering → non-overlapping files
    }
  }

  // ---- r20: manifests come from parquet FOOTERS (no data re-scan);
  //      the footer stats must be value-identical to the re-scan
  //      aggregation they replaced, for every footer-exact type ----

  it should "build footer manifests identical to a re-scan aggregation (long + timestamp)" in {
    val path = freshDir("zones-footer")
    val ts = spark.range(1, 501)
      .select(col("id").as("k"),
        expr("timestamp_micros(1700000000000000 + id * 60000000)").as("t"),
        (col("id") % 5).as("v"))
    Zones.writeZoned(ts, path, "t", 6)
    val manifest = spark.read.parquet(s"$path/manifest")
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getTimestamp(2), r.getLong(3))).sortBy(_._1)
    val rescan = spark.read.parquet(s"$path/data")
      .groupBy(input_file_name().as("file"))
      .agg(min(col("t")).as("zmin"), max(col("t")).as("zmax"),
        count(lit(1)).as("rows"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getTimestamp(2), r.getLong(3))).sortBy(_._1)
    manifest.toSeq shouldBe rescan.toSeq
    manifest should not be empty
  }

  it should "build NTZ footer manifests identical to the re-scan in a non-UTC session" in {
    val zone = "spark.sql.session.timeZone"
    val prior = spark.conf.get(zone)
    spark.conf.set(zone, "America/Los_Angeles")
    try {
      val path = freshDir("zones-footer-ntz")
      // minutes across the 2026-03-08 DST gap, built zone-free
      val ntz = spark.range(0, 3000)
        .select(col("id").as("k"), expr("timestamp_ntz'2026-03-07 00:00:00' + " +
          "make_dt_interval(0, 0, id, 0)").as("t"))
      Zones.writeZoned(ntz, path, "t", 6)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.get(1), r.get(2), r.getLong(3))).sortBy(_._1).toSeq
      val manifest = spark.read.parquet(s"$path/manifest")
        .select("file", "zmin", "zmax", "rows")
      val rescan = spark.read.parquet(s"$path/data")
        .groupBy(input_file_name().as("file"))
        .agg(min(col("t")).as("zmin"), max(col("t")).as("zmax"),
          count(lit(1)).as("rows"))
      rows(manifest) shouldBe rows(rescan)
      rows(manifest) should not be empty
      // the pruned file set of an NTZ predicate is the re-scan's
      val lo = expr("timestamp_ntz'2026-03-08 01:30:00'")
      val hi = expr("timestamp_ntz'2026-03-08 04:00:00'")
      val want = rescan.filter(col("zmax") >= lo && col("zmin") <= hi)
        .select("file").collect().map(_.getString(0)).toSet
      Zones.prunedFiles(spark, path, lo, hi).toSet shouldBe want
      want should not be empty
    } finally spark.conf.set(zone, prior)
  }

  it should "fall back to the re-scan for non-footer-exact zone columns (string)" in {
    val path = freshDir("zones-footer-fallback")
    val st = spark.range(1, 201)
      .select(format_string("k%04d", col("id")).as("k"), col("id").as("v"))
    Zones.writeZoned(st, path, "k", 4)
    // manifest must still be correct — and the range read must agree
    // with the plain filter, proving the fallback produced honest zones
    val got = Zones.readZoneRange(spark, path, "k", lit("k0050"), lit("k0100"))
      .orderBy(col("k")).collect().map(_.getString(0))
    val want = st.filter(col("k") >= "k0050" && col("k") <= "k0100")
      .orderBy(col("k")).collect().map(_.getString(0))
    got.toSeq shouldBe want.toSeq
    got should not be empty
  }

  it should "build multi-column footer manifests identical to the re-scan" in {
    val path = freshDir("zones-footer-multi")
    val grid = spark.range(0, 400)
      .select((col("id") % 20).as("x"), (col("id") / 20).cast("long").as("y"))
    Zones.writeZonedMulti(grid, path, Seq("x", "y"), 8)
    val m = spark.read.parquet(s"$path/manifest")
      .select(col("file"), col("rows"), col("x_min"), col("x_max"),
        col("y_min"), col("y_max"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val r = spark.read.parquet(s"$path/data")
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"), min(col("x")).as("x_min"),
        max(col("x")).as("x_max"), min(col("y")).as("y_min"),
        max(col("y")).as("y_max"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    m.toSeq shouldBe r.toSeq
    m should not be empty
  }

  it should "degrade to the re-scan when a part file's footer is truncated" in {
    val path = freshDir("zones-footer-truncated")
    spark.range(1, 101).select(col("id").as("k"))
      .coalesce(1).write.parquet(s"$path/src")
    val good = new java.io.File(s"$path/src").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(good.toPath)
    val data = new java.io.File(s"$path/data")
    data.mkdirs()
    // drop the trailing footer-length word and magic: the footer is unreadable
    java.nio.file.Files.write(new java.io.File(data, "part-00000.parquet").toPath,
      java.util.Arrays.copyOf(bytes, bytes.length - 6))
    Zones.footerStats(spark, data.getPath, Seq("k")) shouldBe None
  }
}
