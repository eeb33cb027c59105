package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level ZONE-MAP data skipping — the lakehouse pruning layer
  * (Delta/Iceberg file statistics, classic zone maps): cluster a table
  * on a sort column into range files, record a manifest of per-file
  * (min, max, rows), and serve range predicates by consulting the
  * manifest FIRST so only overlapping files are ever listed into the
  * scan.
  *
  * Why this matters at 100 TB even though parquet already keeps
  * row-group min/max internally: parquet stats skip pages only AFTER
  * a task has been scheduled and the footer read. With a million
  * files, planning alone (listing + footer reads + task scheduling)
  * dominates a selective query. The manifest is file-count-sized —
  * KBs per PB — so the driver prunes to the overlapping files before
  * Spark ever lists the data directory, and a 0.1 %-selective range
  * query plans ~0.1 % of the tasks. Range clustering (one
  * `repartitionByRange` + in-file sort) is what makes the zones tight:
  * unsorted data gives every file ≈ the full domain and the manifest
  * prunes nothing.
  *
  * Layout:
  * {{{
  *   path/data/part-*.parquet      range-clustered on the zone column
  *   path/manifest/                (file, zmin, zmax, rows)
  * }}}
  */
object Zones {

  /** Per-file (rows, per-column (min, max) as normalized longs) read
    * from the parquet FOOTERS of every part file under `dataDir` —
    * file-count-sized metadata reads instead of a second full pass
    * over the just-written data (guide §6: at 100 TB the manifest
    * re-scan DOUBLED every zoned write; footer statistics are what a
    * production sink's manifest is built from — Iceberg/Delta do
    * exactly this). Timestamps normalize to epoch MICROS, dates to
    * epoch days, integrals to their long value, so the values convert
    * back to the column's exact type loss-free.
    *
    * Honesty gate: returns None — and the caller falls back to the
    * re-scan — unless every zone column is an integral/date/timestamp
    * whose parquet statistics are EXACT by format contract (INT32 /
    * INT64 min-max; never truncated like binary/string stats, never
    * undefined like INT96) and every non-empty chunk carries them.
    * Per-file min/max over non-null values and row counts are then
    * bit-identical to what the re-scan aggregation produced. A file
    * whose footer cannot be read (I/O error, truncated or corrupt
    * footer) degrades the same way: None, so the manifest comes from
    * the re-scan instead of the write aborting. */
  private[io] def footerStats(
      spark: SparkSession, dataDir: String, zCols: Seq[String])
      : Option[Seq[(String, Long, Seq[(Option[Long], Option[Long])])]] = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(dataDir)
    val fs = dir.getFileSystem(conf)
    val parts = fs.listStatus(dir).filter(st => st.isFile && {
      val n = st.getPath.getName
      n.startsWith("part-") && n.endsWith(".parquet")
    }).sortBy(_.getPath.getName)
    // footer reads are per-file metadata I/O with no shared state —
    // read them from a bounded pool (the Iceberg/Delta manifest-read
    // posture; serial driver opens would trade the re-scan's cluster
    // cost for a driver wall floor that grows with the file count).
    // Par preserves input order, so manifest row order is stable.
    val perFile = graft.tools.Par.run(8)(parts.toSeq.map { st => () =>
      try fileFooterStat(conf, st.getPath, zCols)
      catch { case scala.util.control.NonFatal(_) => None }
    })
    // one unsupported layout or unreadable footer anywhere → the whole
    // manifest falls back
    if (perFile.contains(None)) return None
    Some(perFile.flatMap(_.get))
  }

  /** One file's footer stat row: None = layout not footer-exact
    * (caller falls back to the re-scan); Some(Nil) = zero-row file
    * (skipped, matching the re-scan's groupBy which never sees it);
    * Some(row) = the (file, rows, per-column min/max) entry. */
  private def fileFooterStat(
      conf: org.apache.hadoop.conf.Configuration,
      path: org.apache.hadoop.fs.Path, zCols: Seq[String])
      : Option[Seq[(String, Long, Seq[(Option[Long], Option[Long])])]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks
      var rows = 0L
      blocks.forEach(b => rows += b.getRowCount)
      if (rows == 0L) return Some(Nil)
      val colStats = zCols.map { c =>
        if (!schema.containsField(c)) return None
        val t = schema.getType(Seq(c): _*)
        if (!t.isPrimitive) return None
        val pt = t.asPrimitiveType()
        // (normalize a physical long to the column's stat domain)
        val toMicros: Long => Long = pt.getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => identity
              case LogicalTypeAnnotation.TimeUnit.MILLIS => _ * 1000L
              case _ => return None // NANOS: not a Spark writer output
            }
          case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => identity
          case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation => identity
          case null => identity
          case _ => return None // decimal/string/enum: stats not exact-for-us
        }
        if (pt.getPrimitiveTypeName != PrimitiveTypeName.INT64 &&
            pt.getPrimitiveTypeName != PrimitiveTypeName.INT32) return None
        var mn: Option[Long] = None
        var mx: Option[Long] = None
        val it = blocks.iterator()
        while (it.hasNext) {
          val b = it.next()
          if (b.getRowCount > 0L) {
            val chunk = {
              val cit = b.getColumns.iterator()
              var found: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData = null
              while (cit.hasNext && found == null) {
                val cc = cit.next()
                if (cc.getPath.toDotString == c) found = cc
              }
              found
            }
            if (chunk == null) return None
            val stats = chunk.getStatistics
            if (stats == null || stats.isEmpty) return None
            if (stats.hasNonNullValue) {
              val (lo, hi) = (stats.genericGetMin, stats.genericGetMax) match {
                case (a: java.lang.Long, b: java.lang.Long) =>
                  (a.longValue(), b.longValue())
                case (a: java.lang.Integer, b: java.lang.Integer) =>
                  (a.longValue(), b.longValue())
                case _ => return None
              }
              mn = Some(mn.fold(toMicros(lo))(math.min(_, toMicros(lo))))
              mx = Some(mx.fold(toMicros(hi))(math.max(_, toMicros(hi))))
            }
          }
        }
        (mn, mx)
      }
      // EXACTLY input_file_name()'s rendering (SparkPath =
      // Path.toUri.toString), so manifests interoperate with scans
      // and specs that compare the two string sets
      Some(Seq((path.toUri.toString, rows, colStats)))
    } finally reader.close()
  }

  /** The expression that converts a normalized-long stat back to the
    * zone column's exact Spark type (the manifest's declared schema). */
  private def statExpr(c: Column, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType => timestamp_micros(c)
      // NTZ micros are a wall clock: epoch + c µs, never through an
      // instant (casting one to NTZ shifts it by the session offset)
      case TimestampNTZType =>
        lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0)) +
          c * expr("INTERVAL '0.000001' SECOND")
      case DateType => date_from_unix_date(c.cast("int"))
      case _ => c.cast(dt)
    }
  }

  /** Spark types whose parquet footer statistics are exact and
    * losslessly long-normalizable (see [[footerStats]]). */
  private def footerable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case TimestampType | TimestampNTZType | DateType |
           LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
  }

  /** Build the single-column manifest frame (file, zmin, zmax, rows)
    * from footers, or None when the layout isn't footer-exact. */
  private def footerManifest(df: DataFrame, dataDir: String,
                             zoneCol: String): Option[DataFrame] = {
    val spark = df.sparkSession
    val dt = df.schema(zoneCol).dataType
    if (!footerable(dt)) return None
    footerStats(spark, dataDir, Seq(zoneCol)).map { stats =>
      import spark.implicits._
      stats.map { case (f, rows, Seq((mn, mx))) => (f, mn, mx, rows) }
        .toDF("file", "__zmin", "__zmax", "rows")
        .select(col("file"),
          statExpr(col("__zmin"), dt).as("zmin"),
          statExpr(col("__zmax"), dt).as("zmax"), col("rows"))
    }
  }

  /** Write `df` range-clustered on `zoneCol` into ~`zones` files and
    * build the manifest from the written files' parquet FOOTERS —
    * file-count-sized metadata reads, honest against whatever the
    * writer actually produced (exact stats are a format guarantee for
    * the integral/temporal zone columns this layout clusters on), and
    * no second pass over the data: at 100 TB the previous re-scan
    * aggregation doubled the write cost. Layouts outside the
    * footer-exact type set keep the re-scan. */
  def writeZoned(df: DataFrame, path: String, zoneCol: String,
                 zones: Int): Unit = {
    val spark = df.sparkSession
    df.repartitionByRange(zones, col(zoneCol))
      .sortWithinPartitions(zoneCol)
      .write.mode("overwrite").parquet(s"$path/data")
    footerManifest(df, s"$path/data", zoneCol)
      .getOrElse(spark.read.parquet(s"$path/data")
        .groupBy(input_file_name().as("file"))
        .agg(min(col(zoneCol)).as("zmin"), max(col(zoneCol)).as("zmax"),
          count(lit(1)).as("rows")))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/manifest")
  }

  /** The manifest-pruned file list for `[lo, hi]` — overlap test on
    * the per-file (zmin, zmax). Manifest-sized driver work. */
  def prunedFiles(spark: SparkSession, path: String,
                  lo: Column, hi: Column): Seq[String] =
    spark.read.parquet(s"$path/manifest")
      .filter(col("zmax") >= lo && col("zmin") <= hi)
      .select(col("file")).collect().map(_.getString(0)).toSeq

  /** Range read through the manifest: only files whose zone overlaps
    * `[lo, hi]` enter the scan; the residual row filter still applies
    * (zones bound files, not rows). Empty overlap → empty frame with
    * the data schema, no data files touched. */
  def readZoneRange(spark: SparkSession, path: String, zoneCol: String,
                    lo: Column, hi: Column): DataFrame = {
    val files = prunedFiles(spark, path, lo, hi)
    val all = spark.read.parquet(s"$path/data")
    if (files.isEmpty) all.limit(0)
    else spark.read.parquet(files: _*)
      .filter(col(zoneCol) >= lo && col(zoneCol) <= hi)
  }

  /** Total data-file count per the manifest — for pruning audits. */
  def fileCount(spark: SparkSession, path: String): Long =
    spark.read.parquet(s"$path/manifest").count()

  /** METADATA-ONLY range count (the Iceberg/Delta "answer count(*)
    * from statistics" optimization): files fully contained in
    * [lo, hi] contribute their manifest `rows` without being read —
    * only the (at most two zones' worth of) straddling files are
    * scanned and row-filtered. On a tightly-clustered table a range
    * count touches O(boundary) data, not O(selectivity). Returns
    * (count, metaFiles, scannedFiles) so callers and specs can audit
    * how much was answered from metadata alone. */
  def countRange(spark: SparkSession, path: String, zoneCol: String,
                 lo: Column, hi: Column): (Long, Long, Long) = {
    val m = spark.read.parquet(s"$path/manifest")
      .filter(col("zmax") >= lo && col("zmin") <= hi)
      .select(col("file"), col("rows"),
        (col("zmin") >= lo && col("zmax") <= hi).as("inside"))
      .collect()
    val metaRows = m.filter(_.getBoolean(2)).map(_.getLong(1)).sum
    val scanFiles = m.filterNot(_.getBoolean(2)).map(_.getString(0)).toSeq
    val scanned =
      if (scanFiles.isEmpty) 0L
      else spark.read.parquet(scanFiles: _*)
        .filter(col(zoneCol) >= lo && col(zoneCol) <= hi).count()
    (metaRows + scanned, m.count(_.getBoolean(2)).toLong, scanFiles.size.toLong)
  }

  // ---------------------------------------------------------------
  // Multi-column Z-ORDER clustering (Delta's OPTIMIZE ZORDER, the
  // Morton-curve layout): single-column range clustering makes zones
  // tight on ONE column and useless on every other; interleaving the
  // bit-planes of each column's zone bucket into a z-value keeps
  // every participating column PARTIALLY sorted, so a range predicate
  // on ANY of them prunes files. The price is that no single column
  // is perfectly clustered — z-order trades the best single-column
  // pruning for usable pruning on all dimensions.
  // ---------------------------------------------------------------

  private val ZBits = 8 // 256 buckets per dimension

  /** The Morton interleave of the columns' 8-bit zone buckets: bit b
    * of column i lands at position b·n + i. Pure shift/and/or integer
    * expression — whole-stage-codegen'd, no UDF. */
  private def zValue(buckets: Seq[Column]): Column = {
    val n = buckets.size
    val bits = for {
      (c, i) <- buckets.zipWithIndex
      b <- 0 until ZBits
    } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * n + i)
    bits.reduce(_.bitwiseOR(_))
  }

  /** Scale a column into its 0..255 zone bucket within the observed
    * [min, max] — long math end to end, constant columns guarded to
    * bucket 0. */
  private def bucketOf(c: Column, lo: Long, hi: Long): Column = {
    val span = math.max(hi - lo + 1, 1L)
    coalesce(
      ((c - lit(lo)) * lit(256L) / lit(span)).cast("long"),
      lit(0L))
  }

  /** A long view of any orderable column for bucketing: temporal types
    * go through epoch seconds/days, numerics cast directly. */
  private def asLong(df: DataFrame, c: String): Column = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case TimestampType | TimestampNTZType | DateType =>
        col(c).cast("timestamp").cast("long")
      case _ => col(c).cast("long")
    }
  }

  /** Write `df` z-order-clustered on `zCols` into ~`zones` files; the
    * manifest records per-file (min, max) for EVERY z column, so
    * [[prunedFilesOn]] can route a predicate on any of them. The
    * bucket domains come from one min/max aggregate over the input
    * (at 100 TB: a column-pruned scan, or reuse table-level stats). */
  def writeZonedMulti(df: DataFrame, path: String, zCols: Seq[String],
                      zones: Int): Unit = {
    require(zCols.nonEmpty && zCols.size <= 7, s"1..7 z columns, got ${zCols.size}")
    val spark = df.sparkSession
    val statExprs = zCols.flatMap(c => Seq(
      min(asLong(df, c)).as(s"${c}__lo"),
      max(asLong(df, c)).as(s"${c}__hi")))
    val stats = df.agg(statExprs.head, statExprs.tail: _*).head()
    val buckets = zCols.zipWithIndex.map { case (c, i) =>
      bucketOf(asLong(df, c), stats.getLong(2 * i), stats.getLong(2 * i + 1)) }
    df.withColumn("__z", zValue(buckets))
      .repartitionByRange(zones, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(s"$path/data")
    // manifest from the written files' footers (file-count-sized; see
    // [[writeZoned]]) — the multi-column layout's z columns are
    // integral/temporal by the bucketing contract, so the footer path
    // is the norm and the re-scan the honest fallback
    footerManifestMulti(df, s"$path/data", zCols)
      .getOrElse(spark.read.parquet(s"$path/data")
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("rows"),
          zCols.flatMap(c => Seq(
            min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))): _*))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/manifest")
  }

  /** Multi-column manifest frame (file, rows, <c>_min/<c>_max …) from
    * footers, or None when any z column isn't footer-exact. */
  private def footerManifestMulti(df: DataFrame, dataDir: String,
                                  zCols: Seq[String]): Option[DataFrame] = {
    val spark = df.sparkSession
    val dts = zCols.map(c => df.schema(c).dataType)
    if (!dts.forall(footerable)) return None
    footerStats(spark, dataDir, zCols).map { stats =>
      val rows = stats.map { case (f, n, cs) =>
        org.apache.spark.sql.Row.fromSeq(
          f +: n +: cs.flatMap { case (mn, mx) =>
            Seq[Any](mn.map(Long.box).orNull, mx.map(Long.box).orNull) })
      }
      val schema = org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("file",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("rows",
            org.apache.spark.sql.types.LongType)) ++
        zCols.flatMap(c => Seq(
          org.apache.spark.sql.types.StructField(s"__${c}_min",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(s"__${c}_max",
            org.apache.spark.sql.types.LongType))))
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
        .select(col("file") +: col("rows") +:
          zCols.zip(dts).flatMap { case (c, dt) => Seq(
            statExpr(col(s"__${c}_min"), dt).as(s"${c}_min"),
            statExpr(col(s"__${c}_max"), dt).as(s"${c}_max")) }: _*)
    }
  }

  // ---------------------------------------------------------------
  // Batch-append maintenance — the artifact posture every long-lived
  // index here follows: batches land under `batch=K` (data AND
  // manifest), the manifest is ADDITIVE (per-file stats don't care
  // which batch a file is in), and re-writing a batch dir is a value
  // no-op, so an at-least-once replay converges. Zone tightness is
  // per batch: each batch range-clusters its own rows, so a range
  // query reads ~overlap × batches files — bounded, and a compaction
  // (rewrite all batches as batch=0) restores one-batch tightness.
  // ---------------------------------------------------------------

  /** Append one batch to a batch-layout zoned table (use from batch 0;
    * don't mix with the flat [[writeZoned]] layout). */
  def appendZoned(df: DataFrame, path: String, zoneCol: String,
                  zones: Int, batch: Int): Unit = {
    val spark = df.sparkSession
    df.repartitionByRange(zones, col(zoneCol))
      .sortWithinPartitions(zoneCol)
      .write.mode("overwrite").parquet(s"$path/data/batch=$batch")
    footerManifest(df, s"$path/data/batch=$batch", zoneCol)
      .getOrElse(spark.read.parquet(s"$path/data/batch=$batch")
        .groupBy(input_file_name().as("file"))
        .agg(min(col(zoneCol)).as("zmin"), max(col(zoneCol)).as("zmax"),
          count(lit(1)).as("rows")))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/manifest/batch=$batch")
  }

  /** Compact a batch-layout zoned table: rewrite all batches as one
    * freshly range-clustered `batch=0` under a sibling staging TREE
    * (data + manifest together), then swap the whole root in one
    * [[Fs.replaceDir]] — old-complete or new-complete, never a new
    * data tree routed by an old manifest. The staged manifest's file
    * URIs are rewritten to their post-swap form (the staging dir name
    * is the only differing path segment), so they become valid exactly
    * when the swap lands. Restores one-batch zone tightness after many
    * appends; the [[Sharding.compactShards]] maintenance posture. */
  def compactZones(spark: SparkSession, path: String, zoneCol: String,
                   zones: Int): Unit = {
    val staging = s"$path.compact"
    graft.io.Fs.deleteRecursive(spark, staging)
    spark.read.parquet(s"$path/data").drop("batch")
      .repartitionByRange(zones, col(zoneCol))
      .sortWithinPartitions(zoneCol)
      .write.mode("overwrite").parquet(s"$staging/data/batch=0")
    val stagedSeg = "/" + new java.io.File(staging).getName + "/data/"
    val finalSeg = "/" + new java.io.File(path).getName + "/data/"
    val staged = spark.read.parquet(s"$staging/data/batch=0")
    footerManifest(staged, s"$staging/data/batch=0", zoneCol)
      .getOrElse(staged
        .groupBy(input_file_name().as("file"))
        .agg(min(col(zoneCol)).as("zmin"), max(col(zoneCol)).as("zmax"),
          count(lit(1)).as("rows")))
      // rewrite the staged URIs to their post-swap form (the staging
      // dir name is the only differing segment) — valid exactly when
      // the swap lands
      .withColumn("file", regexp_replace(col("file"),
        lit(java.util.regex.Pattern.quote(stagedSeg)),
        lit(java.util.regex.Matcher.quoteReplacement(finalSeg))))
      .select(col("file"), col("zmin"), col("zmax"), col("rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$staging/manifest/batch=0")
    graft.io.Fs.replaceDir(spark, staging, path)
  }

  /** Manifest-pruned files for a range predicate on ONE of the z
    * columns. */
  def prunedFilesOn(spark: SparkSession, path: String, zCol: String,
                    lo: Column, hi: Column): Seq[String] =
    spark.read.parquet(s"$path/manifest")
      .filter(col(s"${zCol}_max") >= lo && col(s"${zCol}_min") <= hi)
      .select(col("file")).collect().map(_.getString(0)).toSeq

  /** Range read on any z column through the multi-column manifest. */
  def readZoneRangeOn(spark: SparkSession, path: String, zCol: String,
                      lo: Column, hi: Column): DataFrame = {
    val files = prunedFilesOn(spark, path, zCol, lo, hi)
    val all = spark.read.parquet(s"$path/data")
    if (files.isEmpty) all.limit(0)
    else spark.read.parquet(files: _*)
      .filter(col(zCol) >= lo && col(zCol) <= hi)
  }
}
