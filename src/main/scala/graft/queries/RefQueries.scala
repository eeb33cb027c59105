package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl._
import graft.tools.Ckpt._

/** Reference-parity operator queries (SURVEY.md §2 rows 5-7, 11-18, 20)
  * expressed over the harness testdata tables, each with a DuckDB oracle.
  *
  * Every query ends in a total ORDER BY on a unique key, mirrored in the
  * oracle SQL, so result comparison is order-deterministic. Aggregates
  * that touch doubles are cast to DECIMAL before summing in BOTH engines
  * so arithmetic is exact and order-independent.
  */
object RefQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The literal stand-in for the reference's Field Config: routes
    * customer columns to two target tables, with deliberately mixed-case
    * target names (the config mixes `Leads`/`leads`; SURVEY.md §1.3). */
  private def fieldConfig(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("c_name", "Profile"),
      ("c_acctbal", "profile"),
      ("c_mktsegment", "Segment"),
      ("c_nationkey", "segment")
    ).toDF("column_name", "target_table")
  }

  // ---- §2 #6/#7: trim_strings + fill_nulls --------------------------------
  def cleanTrimFill(s: SparkSession, dir: String): DataFrame = {
    val df = Clean.fillNulls(Clean.trimStrings(t(s, dir, "customer")))
    df.select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  // ---- §2 #5: standardize applied to data values --------------------------
  def standardizeValues(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        Standardize.snakeCaseCol(col("p_name")).as("name_std"),
        Standardize.snakeCaseCol(col("p_type")).as("type_std"))
      .orderBy(col("p_partkey"))

  // ---- §2 #14: natural key -------------------------------------------------
  def naturalKeyQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(
        col("c_custkey"),
        Keys.naturalKey(Seq(col("c_name"), col("c_custkey"))).as("natural_key"))
      .orderBy(col("c_custkey"))

  // ---- §2 #15: sha256-prefix hash key -------------------------------------
  def hashKeyQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(
        col("c_custkey"),
        Keys.hashKey(Seq(col("c_name"), col("c_nationkey"))).as("c_key"))
      .orderBy(col("c_custkey"))

  // ---- §2 #11-#13: config-driven vertical split ---------------------------
  def configSplit(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir, "customer")
      .withColumn("c_key", Keys.hashKey(Seq(col("c_custkey"))))
    val lists = Split.columnLists(
      fieldConfig(s),
      mainTable = "profile",
      mainKeys = Seq("c_key"),
      dimKeys = Map.empty,
      factKey = Seq("c_key"))
    Split.split(wide, lists)("segment").orderBy(col("c_key"))
  }

  // ---- §2 #16: dimension dedup --------------------------------------------
  def dimDedup(s: SparkSession, dir: String): DataFrame =
    Dims.dedup(t(s, dir, "customer").select(col("c_mktsegment"), col("c_nationkey")))
      .orderBy(col("c_mktsegment"), col("c_nationkey"))

  // ---- §2 #20: deterministic surrogate ids --------------------------------
  def surrogateId(s: SparkSession, dir: String): DataFrame = {
    val dim = Dims.dedup(t(s, dir, "customer").select(col("c_mktsegment")))
    Dims.withSurrogateId(dim, "id", Seq(col("c_mktsegment")))
      .select(col("id"), col("c_mktsegment"))
      .orderBy(col("id"))
  }

  // ---- §2 #17/#18: FK resolution (broadcast join) + reorder ---------------
  def fkResolve(s: SparkSession, dir: String): DataFrame = {
    val dim = Dims.withSurrogateId(
      t(s, dir, "customer").select(col("c_custkey")), "customer_id", Seq(col("c_custkey")))
    val fact = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey"))
      .withColumnRenamed("o_custkey", "c_custkey")
    Reorder.lastToFirst(
      Dims.resolveFk(fact, dim, "c_custkey", "customer_id", "customer_id"))
      .orderBy(col("o_orderkey"))
  }

  // ---- §7.3 flagship: the full cleaning→keys→dedup→surrogate-id chain,
  //      SERVED THROUGH THE WIRE (r15), with the FACT leg DISTRIBUTED
  //      (r16, VERDICT r15 task 1). Two size classes, each on its
  //      scale-correct path:
  //       - DIM (driver-side, protocol fidelity): CREATE TABLE with
  //         SERIAL PK + UNIQUE key, the reference's INSERT…RETURNING
  //         id_mapping pattern on the head rows
  //         (dag_etl_minio_to_postgres.py:125-138, :478), COPY for the
  //         rest (serial continuation), full wire SELECT read-back —
  //         additionally required VALUE-IDENTICAL to the engine frame.
  //       - FACT (input-sized): orders resolved to the dim's surrogate
  //         ids by broadcast join, then written through
  //         PgWire.copyDistributedExactlyOnce — one wire connection per
  //         partition, per-attempt staging tables, one-transaction
  //         publish — verified by server-confirmed count and an
  //         explicitly SAMPLED ordered head read-back (LIMIT 100).
  //      The emitted frame joins the fact head to the dim read-back, so
  //      every output value crossed the wire on one of the two legs and
  //      the oracle hash gates BOTH protocol round trips. ----------------
  /** The flagship's engine-side dim frame (shared by [[medallion]] and
    * the scale rehearsal's dim-leg split row). */
  def medallionEngineDim(s: SparkSession, dir: String): DataFrame = {
    val cleaned = Clean.clean(t(s, dir, "customer"))
    val keyed = cleaned.withColumn(
      "c_key", Keys.hashKey(Seq(col("c_name"), col("c_nationkey"))))
    val dd = Dims.dedup(keyed)
    Dims.withSurrogateId(dd, "id", Seq(col("c_key"), col("c_custkey")))
      .select(col("id"), col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"), col("c_key"))
      .orderBy(col("id"))
  }

  def medallion(s: SparkSession, dir: String): DataFrame = {
    // consumed three times (wire write, read-back compare, fact join):
    // one cached materialization of the dimension-sized frame
    val engine = medallionEngineDim(s, dir).persist()
    try {
      medallionWire(s, dir, engine)
    } finally { engine.unpersist(); () }
  }

  private def medallionWire(s: SparkSession, dir: String,
                            engine: DataFrame): DataFrame = {
    val (server, _) = graft.io.pg.PgLiteServer.start()
    try {
      val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
      c.connect()
      try {
        c.query(graft.io.Sinks.createSchemaDdl("gold"))
        // the dim leg is fully verified: read-back ≡ engine frame
        // (dimension-sized driver compare, the protocol-fidelity
        // class). The engine side reuses the wire-text rows the write
        // already collected — the engine frame's id column leads its
        // schema, so the collected order IS the frame's column order
        // (r20: this was a second driver collect of the same cached
        // frame per run).
        val (dimBack, engineRows) = graft.pipeline.PgGold.writeTableWithRows(
          c, engine, "gold", "customer_dim", "id", unique = Seq("c_key"))
        val dimCols = engine.columns.toSeq
        require(dimCols.head == "id", "engine dim must lead with id")
        require(graft.pipeline.PgGold.textRows(dimBack, dimCols) == engineRows,
          "customer_dim wire read-back drifted from the engine frame")
        val fact = t(s, dir, "orders")
          .join(broadcast(engine.select(
            col("id").as("customer_id"), col("c_custkey"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("customer_id"), col("o_orderkey"), col("o_orderstatus"))
        val fw = graft.pipeline.PgGold.writeFactDistributed(
          c, fact, "127.0.0.1", server.port, "gold", "orders_fact",
          fks = Map("customer_id" -> "gold.customer_dim(id)"),
          orderCol = "o_orderkey", sampleK = 100)
        val dimB = dimBack.select(
          col("id"), col("c_name"), col("c_key"))
        fw.head.join(dimB, fw.head("customer_id") === dimB("id"))
          .select(col("o_orderkey"), col("customer_id"),
            col("o_orderstatus"), col("c_name"), col("c_key"))
          .orderBy(col("o_orderkey"))
      } finally c.close()
    } finally server.stop()
  }

  // ---- §3.4: the whole gold stage (Split+Keys+Dims+Reorder composed
  //      by Medallion.gold) driven as one query -----------------------------
  def goldStar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val config = Seq(
      ("c_name", "profile"), ("c_acctbal", "Profile"),
      ("c_mktsegment", "segment"), ("c_nationkey", "contact")
    ).toDF("column_name", "target_table")
    val spec = graft.pipeline.Medallion.GoldSpec(
      mainTable = "profile",
      naturalKeyCols = Seq("c_name"),
      mainHashKeyCols = Seq("c_name"),
      dimKeyCols = Map("segment" -> Seq("c_mktsegment")))
    val gold = graft.pipeline.Medallion.gold(t(s, dir, "customer"), config, spec)
    gold("contact")
      .select(col("profile_id"), col("c_nationkey"))
      .orderBy(col("profile_id"))
  }

  /** CSV single-object ROUND-TRIP gate (§2 #4, oracled end-to-end —
    * round-4/5 verdict item 7; previously spec-only): write `nation`
    * through [[graft.io.Sinks.csvSingleFile]] (coalesce(1) + part-file
    * rename + "Nation Export" → nation_export.csv name normalization),
    * read the produced single object back with the source schema, and
    * emit it. The oracle is the source table itself, so a mangled
    * header, quoting bug, or dropped/duplicated row anywhere in the
    * sink/reader pair flips the hash. Scratch object lives under
    * target/, overwritten per run. */
  def ioCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"target/tmp-io-oracle-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val nation = t(s, dir, "nation")
    val path = graft.io.Sinks.csvSingleFile(nation, out, "Nation Export")
    s.read.option("header", "true").schema(nation.schema).csv(path)
      .orderBy(col("n_nationkey"))
  }

  /** XLSX DataSource-V2 SCAN gate (§2 #2, oracled end-to-end):
    * materialize `nation` as a real OOXML workbook
    * ([[graft.io.Xlsx.writeRows]] — zip + inline-string cells, the
    * same wire format the reader decodes), scan it back through the
    * registered `xlsx` DSv2 with a 2-column projection (pruning is
    * plan-asserted in XlsxSpec; here the decoded VALUES are verified
    * against the parquet source), and emit. Workbooks are config-sized
    * by contract (SURVEY.md §1.1), so the driver-side collect IS the
    * size class of the format. */
  def ioXlsxScan(s: SparkSession, dir: String): DataFrame = {
    val out = s"target/tmp-io-oracle-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val nation = t(s, dir, "nation").orderBy(col("n_nationkey"))
    val cols = nation.columns.toSeq
    val rows = cols +: nation.collect().toSeq.map(r =>
      (0 until r.length).map(i => if (r.isNullAt(i)) null else r.get(i).toString))
    val path = graft.io.Xlsx.writeRows(rows, s"$out/nation.xlsx")
    s.read.format("xlsx").load(path)
      .select(col("n_name"), col("n_regionkey").cast("int").as("n_regionkey"))
      .orderBy(col("n_name"))
  }

  /** OBJECT-STORE execution gate (round-13; closes VERDICT missing-
    * item 1 to protocol level): the reference's MinIO loop —
    * producer PUTs a CSV object, the pipeline GETs it, cleans, and
    * PUTs the silver object back (dags/dag_etl_minio_to_postgres
    * .py:32-68) — executed over LIVE HTTP against the in-JVM S3
    * endpoint ([[graft.io.s3.S3LiteServer]]) through the from-scratch
    * `s3lite://` Hadoop FileSystem: every byte of the gate's input
    * and output crosses the S3 REST dialect (ListObjectsV2, ranged
    * GET, PUT, commit-by-rename), not the local filesystem. The
    * emitted frame re-reads the SILVER object, so the oracle (the
    * clean rules replayed on the parquet source) checks the full
    * producer → store → clean → store → consumer loop. Residual gap
    * vs the reference is now only the network hop to a real MinIO
    * (s3a config carried in [[graft.io.Sources.configureObjectStore]]). */
  def ioObjectStore(s: SparkSession, dir: String): DataFrame = {
    val srv = graft.io.s3.S3LiteServer.shared
    val hc = s.sparkContext.hadoopConfiguration
    hc.set("fs.s3lite.impl",
      classOf[graft.io.s3.S3LiteFileSystem].getName)
    hc.set("fs.s3lite.endpoint", srv.endpoint)
    val slug = dir.replaceAll("[^A-Za-z0-9.]", "_").replace("_", "-")
    val root = s"s3lite://graft-$slug"
    val c = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    c.write.mode("overwrite").option("header", "true")
      .csv(s"$root/landing/customer.csv")
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("c_custkey LONG, c_name STRING, c_mktsegment STRING")
    val landed = graft.io.Sources.read(
      s, s"$root/landing/customer.csv", Some(schema))
    graft.etl.Clean.clean(landed).write.mode("overwrite")
      .option("header", "true").csv(s"$root/silver/customer.csv")
    s.read.schema(schema).option("header", "true")
      .csv(s"$root/silver/customer.csv")
      .orderBy(col("c_custkey"))
  }

  /** LIVE POSTGRES-PROTOCOL RUNTIME gate (round-14, VERDICT r13 task 7
    * — the S3Lite pattern applied to the reference's OTHER external
    * system): the gold dimension leg
    * (dag_etl_minio_to_postgres.py:110-148, :481-496) runs against a
    * real wire-v3 endpoint over loopback TCP
    * ([[graft.io.pg.PgLiteServer]]) through the driverless client (no
    * PostgreSQL JDBC jar ships in this offline image — documented in
    * PgLiteServer's scaladoc): CREATE SCHEMA + the repo's own
    * SERIAL/UNIQUE DDL, row inserts capturing RETURNING id into the
    * id_mapping (reference :134-136), then the dimension read back by
    * a wire SELECT and the fact side resolved against the captured map
    * — DB-side serial assignment is deterministic here because the
    * dimension inserts in sorted order, which is what the DuckDB
    * oracle replays as row_number over the sorted segment list.
    * Dimension-sized wire traffic only (the reference's row-at-a-time
    * FACT insert is exactly the anti-pattern the engine replaces with
    * batched writes, §2 row 9). */
  def pgRuntime(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (server, _) = graft.io.pg.PgLiteServer.start()
    try {
      val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
      c.connect(negotiateSsl = true)
      val dim = try {
        c.query(graft.io.Sinks.createSchemaDdl("gold"))
        c.query(graft.io.Sinks.createTableDdl(
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("seg",
              org.apache.spark.sql.types.StringType))),
          "gold", "segment", serialPk = Some("id"), unique = Seq("seg")))
        val segs = t(s, dir, "customer")
          .select(lower(trim(col("c_mktsegment"))).as("seg"))
          .distinct().orderBy(col("seg"))
          .collect().map(_.getString(0)).toSeq // dimension-sized
        // the reference's single-commit discipline, live (dag :138):
        // the whole id_mapping insert loop runs inside ONE transaction,
        // committed once — each insert through the EXTENDED protocol
        // (Parse/Bind/Describe/Execute with a server-side text
        // parameter, r16 task 8) — and a post-commit rollback probe
        // proves an aborted statement leaves nothing behind
        require(c.query("BEGIN").tags == Seq("BEGIN"))
        val idMap = segs.map { seg =>
          seg -> c.execParams(
            "INSERT INTO gold.segment (seg) VALUES ($1) RETURNING id",
            Seq(Some(seg))).rows.head.head.get.toInt
        }.toMap
        require(idMap.size == segs.size)
        require(c.query("COMMIT").tags == Seq("COMMIT"))
        c.query("BEGIN")
        c.query("INSERT INTO gold.segment (seg) VALUES ('zzz_rolled_back')")
        require(c.query("ROLLBACK").tags == Seq("ROLLBACK"))
        // read-back under MIXED result formats (r18): the int4 id
        // crosses the wire as the published big-endian binary cell,
        // seg as text — the shape a real driver's prepared path
        // requests — so the binary RESULT codec sits under this
        // gate's oracle hash, not just its spec
        c.execParamsFormats(
            "SELECT id, seg FROM gold.segment ORDER BY id",
            Nil, resultFormats = Seq(1, 0))
          .rows.map(r => (r(0).get.toInt, r(1).get))
      } finally c.close()
      val dimDf = dim.toDF("id", "seg")
      t(s, dir, "customer")
        .select(lower(trim(col("c_mktsegment"))).as("seg"))
        .join(broadcast(dimDf), Seq("seg"))
        .groupBy(col("id"), col("seg"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("id"))
    } finally server.stop()
  }

  /** WIRE BULK-LOAD gate (round-14): the silver write leg through the
    * COPY protocol — the batched-write posture the engine substitutes
    * for the reference's row-at-a-time INSERT loop (§2 row 9; the
    * reference's 161 s gold stage IS that loop), over the same live
    * wire-v3 endpoint as [[pgRuntime]]. The cleaned customer frame
    * ships as text-format CopyData (tab/newline/backslash escaping and
    * `\N` nulls exercised by PgLiteSpec), lands all-or-nothing, and is
    * read back by a wire SELECT — the oracle replays the clean rules
    * directly, so any wire corruption (framing, escaping, type
    * round-trip) breaks the hash. Driver-side collect is the POINT of
    * the wire leg here (the reference writes from one process); the
    * distributed write posture stays [[graft.io.Sinks.jdbcBatch]]. */
  def pgCopy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (server, _) = graft.io.pg.PgLiteServer.start()
    try {
      val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
      c.connect()
      val back = try {
        c.query(graft.io.Sinks.createSchemaDdl("silver"))
        val cleaned = graft.etl.Clean.clean(t(s, dir, "customer"))
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        c.query(graft.io.Sinks.createTableDdl(cleaned.schema, "silver", "customer"))
        val rows = cleaned.orderBy(col("c_custkey")).collect().iterator.map { r =>
          Seq(Option(r.get(0)).map(_.toString),
            Option(r.get(1)).map(_.toString),
            Option(r.get(2)).map(_.toString))
        }.toSeq
        val tag = c.copyIn(
          "COPY silver.customer (c_custkey, c_name, c_mktsegment) FROM STDIN", rows)
        require(tag == s"COPY ${rows.length}", s"unexpected COPY tag: $tag")
        c.query(
          "SELECT c_custkey, c_name, c_mktsegment FROM silver.customer")
      } finally c.close()
      back.rows.map(r => (r(0).get.toLong, r(1).orNull, r(2).orNull))
        .toDF("c_custkey", "c_name", "c_mktsegment")
        .orderBy(col("c_custkey"))
    } finally server.stop()
  }

  /** DISTRIBUTED wire bulk-load gate (round-15,
    * [[graft.io.pg.PgWire.copyDistributed]]): the same clean-rules
    * round trip as [[pgCopy]], but written by EIGHT concurrent
    * per-partition wire connections streaming CopyData frames — the
    * production Spark→Postgres writer posture — instead of one
    * driver-side socket. The read-back oracle proves the concurrent
    * interleave lost, duplicated, and corrupted nothing (the engine's
    * per-table all-or-nothing COPY under thread-per-connection). */
  def pgCopyDistributed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (server, _) = graft.io.pg.PgLiteServer.start()
    try {
      val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
      c.connect()
      val back = try {
        c.query(graft.io.Sinks.createSchemaDdl("silver"))
        val cleaned = graft.etl.Clean.clean(t(s, dir, "customer"))
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        c.query(graft.io.Sinks.createTableDdl(cleaned.schema, "silver", "customer_dist"))
        graft.io.pg.PgWire.copyDistributed(
          cleaned, "127.0.0.1", server.port, "silver.customer_dist",
          numPartitions = 8)
        c.query(
          "SELECT c_custkey, c_name, c_mktsegment FROM silver.customer_dist")
      } finally c.close()
      back.rows.map(r => (r(0).get.toLong, r(1).orNull, r(2).orNull))
        .toDF("c_custkey", "c_name", "c_mktsegment")
        .orderBy(col("c_custkey"))
    } finally server.stop()
  }

  /** EXACTLY-ONCE distributed wire bulk-load gate (round-16, VERDICT
    * r15 task 2 — [[graft.io.pg.PgWire.copyDistributedExactlyOnce]]):
    * the same clean-rules round trip as [[pgCopyDistributed]], but
    * through the staging-table + transactional-publish commit
    * discipline — each partition COPYs into its own per-attempt stage
    * table and the driver publishes all of them in ONE wire
    * transaction (`BEGIN; INSERT…SELECT; DROP…; COMMIT`), so task
    * retries and speculative duplicates can never double-load a
    * partition (replay-proven in PgLiteSpec). The read-back oracle
    * proves the staged path is value-identical to the direct one, and
    * that the publish transaction left no stage tables behind. */
  def pgCopyExactlyOnce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (server, _) = graft.io.pg.PgLiteServer.start()
    try {
      val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
      c.connect()
      val back = try {
        c.query(graft.io.Sinks.createSchemaDdl("silver"))
        val cleaned = graft.etl.Clean.clean(t(s, dir, "customer"))
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        c.query(graft.io.Sinks.createTableDdl(
          cleaned.schema, "silver", "customer_x1"))
        val n = graft.io.pg.PgWire.copyDistributedExactlyOnce(
          cleaned, "127.0.0.1", server.port, "silver.customer_x1",
          numPartitions = 8)
        val res = c.query(
          "SELECT c_custkey, c_name, c_mktsegment FROM silver.customer_x1")
        require(res.rows.length.toLong == n,
          s"published $n rows but read back ${res.rows.length}")
        // the publish transaction must have dropped every stage table
        val orphan = graft.io.pg.PgWire.stageName("customer_x1", "0fa11", 0, 0)
        val e = intercept(c, s"SELECT c_custkey FROM silver.$orphan")
        require(e == "42P01", s"stage table survived the publish ($e)")
        res
      } finally c.close()
      back.rows.map(r => (r(0).get.toLong, r(1).orNull, r(2).orNull))
        .toDF("c_custkey", "c_name", "c_mktsegment")
        .orderBy(col("c_custkey"))
    } finally server.stop()
  }

  /** BINARY-format wire bulk-load gate (round-16,
    * [[graft.io.pg.PgWire.copyDistributedBinary]] /
    * [[graft.io.pg.PgBinaryCopy]]): the published `COPY … WITH (FORMAT
    * BINARY)` field layouts — big-endian int8, IEEE float8 bit
    * patterns, microsecond-epoch timestamps — shipped by 8 concurrent
    * per-partition connections and read back through a wire SELECT.
    * The frame is a deterministic orders slice chosen for TYPE
    * DIVERSITY (BIGINT + TEXT + DOUBLE PRECISION + TIMESTAMP — the
    * text twins ship all-text customer columns), so the oracle
    * hash-checks every binary field codec against DuckDB's read of
    * the same parquet values. PgBinarySpec additionally proves
    * binary ≡ text format parity cell-for-cell on hostile data. */
  def pgCopyBinary(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .filter(col("o_orderkey") % 10 === 7)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
    val schema = orders.schema
    val (server, _) = graft.io.pg.PgLiteServer.start()
    try {
      val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
      c.connect()
      val back = try {
        c.query(graft.io.Sinks.createSchemaDdl("silver"))
        c.query(graft.io.Sinks.createTableDdl(schema, "silver", "orders_bin"))
        graft.io.pg.PgWire.copyDistributedBinary(
          orders, "127.0.0.1", server.port, "silver.orders_bin",
          numPartitions = 8)
        c.query("SELECT o_orderkey, o_orderstatus, o_totalprice, " +
          "o_orderdate FROM silver.orders_bin")
      } finally c.close()
      graft.pipeline.PgGold.fromWire(s, back.rows, schema)
        .orderBy(col("o_orderkey"))
    } finally server.stop()
  }

  /** COPY TO STDOUT gate (round-16, [[graft.io.pg.PgLiteClient
    * .copyOut]] / `PgLiteServer.runCopyOut`): the bulk EXPORT side of
    * the protocol — the cleaned customer frame lands over COPY FROM
    * STDIN, then reads back through `COPY … TO STDOUT` in BOTH wire
    * formats; the text and binary exports are REQUIRED cell-identical
    * before the text one becomes the result, and the oracle replays
    * the clean rules — so export framing, escaping, and every binary
    * field codec on the OUT path all sit under the hash. */
  def pgCopyOut(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (server, _) = graft.io.pg.PgLiteServer.start()
    try {
      val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
      c.connect()
      val back = try {
        c.query(graft.io.Sinks.createSchemaDdl("silver"))
        val cleaned = graft.etl.Clean.clean(t(s, dir, "customer"))
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        c.query(graft.io.Sinks.createTableDdl(cleaned.schema, "silver", "customer_out"))
        val rows = cleaned.orderBy(col("c_custkey")).collect().iterator.map { r =>
          Seq(Option(r.get(0)).map(_.toString),
            Option(r.get(1)).map(_.toString),
            Option(r.get(2)).map(_.toString))
        }.toSeq
        c.copyIn(
          "COPY silver.customer_out (c_custkey, c_name, c_mktsegment) FROM STDIN",
          rows)
        val sel = "COPY silver.customer_out (c_custkey, c_name, c_mktsegment)"
        val text = c.copyOut(s"$sel TO STDOUT")
        val bin = c.copyOutBinary(s"$sel TO STDOUT WITH (FORMAT BINARY)",
          cleaned.schema.fields.map(f => graft.io.Sinks.pgType(f.dataType)).toSeq)
        require(text == bin,
          "text and binary COPY TO STDOUT exports disagree")
        text
      } finally c.close()
      back.map(r => (r(0).get.toLong, r(1).orNull, r(2).orNull))
        .toDF("c_custkey", "c_name", "c_mktsegment")
        .orderBy(col("c_custkey"))
    } finally server.stop()
  }

  /** Shared READ-ONLY wire fixture (round-18, VERDICT r17 task 8):
    * ONE server + ONE distributed-COPY-seeded clean-customer table
    * (`silver.customer_ro`) per testdata dir, reused by every
    * read-only scan gate — `ref_pg_scan_distributed` and the
    * `ref_pg_dsv2_*` pushdown family each used to pay their own
    * server start + fixture COPY (~2.4 s × 7 gates) to measure a
    * SCAN. The write path keeps its own per-gate servers
    * (`ref_pg_copy_*`, `ref_pg_dsv2_write`, the stream gates), so no
    * write-side gate is weakened; the seeding COPY itself stays
    * gated by `ref_pg_copy_distributed`. The server thread is a
    * daemon and lives for the JVM — gates must NOT stop it. */
  private val roFixture =
    scala.collection.mutable.Map[String, graft.io.pg.PgLiteServer]()
  private def pgReadOnlyPort(s: SparkSession, dir: String): Int =
    roFixture.synchronized {
      roFixture.getOrElseUpdate(dir, {
        val (server, _) = graft.io.pg.PgLiteServer.start()
        val cleaned = roClean(s, dir)
        val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
        c.connect()
        try {
          c.query(graft.io.Sinks.createSchemaDdl("silver"))
          c.query(graft.io.Sinks.createTableDdl(
            cleaned.schema, "silver", "customer_ro"))
        } finally c.close()
        graft.io.pg.PgWire.copyDistributed(
          cleaned, "127.0.0.1", server.port, "silver.customer_ro",
          numPartitions = 8)
        server
      }).port
    }
  private def roClean(s: SparkSession, dir: String): DataFrame =
    graft.etl.Clean.clean(t(s, dir, "customer"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  private def roRead(s: SparkSession, port: Int) = s.read.format("pglite")
    .option("host", "127.0.0.1").option("port", port)
    .option("table", "silver.customer_ro")
    .option("partitionColumn", "c_custkey")
    .option("numPartitions", "8")

  /** DISTRIBUTED wire SCAN gate (round-16,
    * [[graft.io.pg.PgWire.readDistributed]]): §2 #10's production READ
    * posture over the live protocol — the cleaned customer frame
    * landed through the 8-connection distributed COPY (the shared
    * fixture seeding, r18) and comes back through per-partition wire
    * connections each scanning a key range (`WHERE c_custkey >= lo
    * AND c_custkey < hi`), so BOTH directions of the round trip are
    * distributed and nothing table-sized touches the driver. The
    * oracle replays the clean rules: any range seam (row lost or
    * doubled at a partition boundary) breaks the hash. */
  def pgScanDistributed(s: SparkSession, dir: String): DataFrame = {
    val port = pgReadOnlyPort(s, dir)
    graft.io.pg.PgWire.readDistributed(
        s, "127.0.0.1", port, "silver.customer_ro",
        roClean(s, dir).schema, keyCol = "c_custkey", numPartitions = 8)
      .checkpointLinted()
      .orderBy(col("c_custkey"))
  }

  /** DSv2 wire-source gate (round-16, [[graft.io.pg.PgLiteDataSource]]):
    * the catalog-integrated face of the distributed scan —
    * `spark.read.format("pglite")` with the schema inferred from the
    * server's RowDescription (OIDs + NUMERIC typmod) and the scan
    * range-partitioned on the key, so Catalyst's column pruning and
    * the partition planning both reach the wire (plan-asserted in
    * PgLiteDataSourceSpec). Same clean-rules oracle as its
    * `readDistributed` sibling: a seam, a mis-inferred type, or a
    * mis-decoded cell breaks the hash. */
  def pgDsv2Scan(s: SparkSession, dir: String): DataFrame =
    roRead(s, pgReadOnlyPort(s, dir)).load()
      .checkpointLinted()
      .orderBy(col("c_custkey"))

  /** DSv2 wire-sink gate (round-16, [[graft.io.pg.PgLiteDataSource]]
    * writes): the round trip entirely through Spark's V2 planner —
    * `df.write.format("pglite").mode("append")` appends via the V2
    * COMMIT PROTOCOL (per-task-attempt stage tables, COPY batches,
    * one transactional publish at BatchWrite.commit — the
    * exactly-once discipline as the OFFICIAL Spark sink contract,
    * speculation-safe by construction) and the read-back rides the
    * DSv2 range-partitioned scan. The oracle replays the clean rules:
    * a lost stage, a double publish, or a mis-encoded cell breaks the
    * hash. */
  def pgDsv2Write(s: SparkSession, dir: String): DataFrame = {
    val (server, _) = graft.io.pg.PgLiteServer.start()
    try {
      val cleaned = graft.etl.Clean.clean(t(s, dir, "customer"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
      c.connect()
      try {
        c.query(graft.io.Sinks.createSchemaDdl("silver"))
        c.query(graft.io.Sinks.createTableDdl(
          cleaned.schema, "silver", "customer_w"))
      } finally c.close()
      cleaned.repartition(8).write.format("pglite")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("table", "silver.customer_w")
        .mode("append").save()
      s.read.format("pglite")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("table", "silver.customer_w")
        .option("partitionColumn", "c_custkey")
        .option("numPartitions", "8")
        .load()
        // EAGER: the scan must run while the endpoint is alive — the
        // enclosing finally stops the server before any later action
        .checkpointLinted()
        .orderBy(col("c_custkey"))
    } finally server.stop()
  }

  /** DSv2 TOP-N pushdown gate (round-16, [[graft.io.pg
    * .PgLiteDataSource]]): `orderBy(key desc).limit(k)` over the
    * range-partitioned wire scan pushes
    * `ORDER BY … DESC NULLS LAST LIMIT k` into every per-partition
    * SELECT — the endpoint answers each range from a bounded top-k
    * heap, so ≤ k rows per connection cross the wire however large
    * the table is, and Spark's TakeOrdered above the scan merges the
    * local winners. The gate REQUIRES the pushdown structurally (a
    * regressed plan that ships whole ranges fails even if the values
    * match) and the oracle re-derives the same top-k from the parquet
    * source: a dropped range winner, a null-ordering mismatch, or an
    * off-by-one at the heap bound breaks the hash. */
  def pgDsv2TopN(s: SparkSession, dir: String): DataFrame = {
    val topn = roRead(s, pgReadOnlyPort(s, dir)).load()
      .orderBy(col("c_custkey").desc).limit(100)
    val plan = topn.queryExecution.executedPlan.toString
    require(plan.contains("pushed=[ORDER BY c_custkey DESC NULLS LAST LIMIT 100]"),
      s"DSv2 top-n pushdown regressed — scan ships whole ranges:\n$plan")
    topn.checkpointLinted().orderBy(col("c_custkey"))
  }

  /** DSv2 FILTER-pushdown-on-a-PARTITIONED-scan gate (round-17,
    * VERDICT r16 task 4): the COMMON big-table shape — a filtered read
    * of a range-partitioned wire table. The engine's WHERE grammar
    * takes N ANDed predicates since r17, so the pushed user comparison
    * rides ALONGSIDE each partition's key-range bounds and evaluates
    * server-side: only matching rows cross the wire, per range. The
    * gate REQUIRES the pushdown structurally (a regressed plan that
    * ships whole ranges and re-filters in Spark fails even if values
    * match) and the oracle replays clean rules + filter on the parquet
    * source: a row wrongly filtered at a range seam breaks the hash. */
  def pgDsv2Filter(s: SparkSession, dir: String): DataFrame = {
    val filtered = roRead(s, pgReadOnlyPort(s, dir)).load()
      .filter(col("c_mktsegment").isin("building", "machinery"))
    val plan = filtered.queryExecution.executedPlan.toString
    require(
      plan.contains("where=[c_mktsegment IN ('building', 'machinery')]") &&
        plan.contains("rangeOn=[c_custkey"),
      s"DSv2 filter pushdown on a partitioned scan regressed — " +
        s"ranges ship unfiltered:\n$plan")
    filtered.checkpointLinted().orderBy(col("c_custkey"))
  }

  /** DSv2 LIKE-pushdown gate (round-17): a `startsWith` filter on a
    * partitioned wire scan renders `c_name LIKE 'prefix%'` alongside
    * each key range — the prefix family is the bread-and-butter
    * predicate of document pipelines, and pushing it means the wire
    * ships the matching ~0.7 % of each range, not the range. The gate
    * REQUIRES the pushdown structurally and the oracle replays clean
    * rules + LIKE on the parquet source. */
  def pgDsv2Like(s: SparkSession, dir: String): DataFrame = {
    val filtered = roRead(s, pgReadOnlyPort(s, dir)).load()
      .filter(col("c_name").startsWith("customer#0000001"))
    val plan = filtered.queryExecution.executedPlan.toString
    require(plan.contains("where=[c_name LIKE 'customer#0000001%']") &&
        plan.contains("rangeOn=[c_custkey"),
      s"DSv2 LIKE pushdown on a partitioned scan regressed — " +
        s"ranges ship unfiltered:\n$plan")
    filtered.checkpointLinted().orderBy(col("c_custkey"))
  }

  /** DSv2 AGGREGATE pushdown gate (round-16, [[graft.io.pg
    * .PgLiteDataSource]]): `groupBy(segment).agg(count/sum/min/max)`
    * over the range-partitioned wire scan renders
    * `SELECT g, count(*), sum(c), min(c), max(c) … GROUP BY g` into
    * every per-partition SELECT — one row PER GROUP PER RANGE crosses
    * the wire instead of the table (map-side combine, server-side; the
    * engine sums exactly in decimal), and Spark's final aggregate
    * merges the partials. The gate REQUIRES the pushdown structurally
    * and the oracle re-derives the same aggregates from the parquet
    * source: a lost group at a range seam, a double-counted partial,
    * or a sum overflow breaks the hash. */
  def pgDsv2Agg(s: SparkSession, dir: String): DataFrame = {
    val agg = roRead(s, pgReadOnlyPort(s, dir)).load()
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("c_custkey")).as("sum_key"),
        min(col("c_custkey")).as("min_key"),
        max(col("c_custkey")).as("max_key"))
    val plan = agg.queryExecution.executedPlan.toString
    require(plan.contains("agg=[c_mktsegment, count(*) AS agg0, " +
        "sum(c_custkey) AS agg1, min(c_custkey) AS agg2, " +
        "max(c_custkey) AS agg3 GROUP BY c_mktsegment]"),
      s"DSv2 aggregate pushdown regressed — scan ships whole ranges:\n$plan")
    agg.checkpointLinted().orderBy(col("c_mktsegment"))
  }

  /** STREAMING wire-sink gate (round-16, [[graft.io.pg
    * .PgLiteDataSource]] streaming writes): the cleaned customer frame
    * flows through a REAL file-stream source in multiple micro-batches
    * into `writeStream.format("pglite")` — each epoch staged
    * per-task, published in one wire transaction together with its
    * epoch marker (exactly-once across checkpoint replays, proven in
    * PgLiteDataSourceSpec) — then reads back through the DSv2 range
    * scan. The oracle replays the clean rules: a lost epoch, a double
    * publish, or a batch-boundary seam breaks the hash. */
  def pgStreamSink(s: SparkSession, dir: String): DataFrame =
      Tables.withGateShuffle(s) {
    val slug = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val base = s"target/tmp-pg-sink-$slug"
    // the CHECKPOINT must be fresh per run (a reused one replays as
    // all-committed and the sink would no-op) — but the parquet
    // fan-out input is a pure function of the source table, so it is
    // disk-memoized like the other stream-parity fixtures (VERDICT
    // r16 task 6: the gate measures the SINK, not fixture rebuilds)
    graft.io.Fs.deleteRecursive(s, s"$base/ckpt")
    val cleaned = graft.etl.Clean.clean(t(s, dir, "customer"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    // 8 input files × maxFilesPerTrigger=3 → three real micro-batches
    // (r19, VERDICT r18 task 8: the gate certifies multi-batch
    // exactly-once semantics, which three triggers exercise exactly as
    // four did — each trigger is ~1.5 s of fixed micro-batch machinery,
    // so the fourth bought wall, not coverage; the published table and
    // its oracle hash are trigger-count-invariant)
    graft.io.StageMemo.cachedDir(s, s"$base/in",
      graft.io.StageMemo.fingerprint(
        Seq(s"$dir/customer.parquet"), "pg-sink-in-v1")) {
      cleaned.repartition(8).write.mode("overwrite").parquet(s"$base/in")
    }
    val (server, _) = graft.io.pg.PgLiteServer.start()
    try {
      val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
      c.connect()
      try {
        c.query(graft.io.Sinks.createSchemaDdl("silver"))
        c.query(graft.io.Sinks.createTableDdl(
          cleaned.schema, "silver", "customer_st"))
      } finally c.close()
      val q = s.readStream.schema(cleaned.schema)
        .option("maxFilesPerTrigger", "3")
        .parquet(s"$base/in")
        .writeStream.format("pglite")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("table", "silver.customer_st")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.format("pglite")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("table", "silver.customer_st")
        .option("partitionColumn", "c_custkey")
        .option("numPartitions", "8")
        .load()
        // EAGER: the scan must run while the endpoint is alive — the
        // enclosing finally stops the server before any later action
        .checkpointLinted()
        .orderBy(col("c_custkey"))
    } finally server.stop()
  }

  /** STREAMING wire-SOURCE gate (round-17, [[graft.io.pg
    * .PgLiteDataSource]] micro-batch reads): the INGEST mirror of
    * [[pgStreamSink]] — the cleaned customer frame lands in a wire
    * table, then `spark.readStream.format("pglite")` polls it out by
    * the key high-water mark in MULTIPLE rate-limited micro-batches
    * (`maxKeysPerTrigger` = a third of the key span, AvailableNow
    * drains to a snapshot) into a parquet sink. The oracle replays the
    * clean rules: a key lost or doubled at a batch boundary, a seam in
    * the per-batch range partitioning, or a stale high-water mark
    * breaks the hash. */
  def pgStreamSource(s: SparkSession, dir: String): DataFrame =
      Tables.withGateShuffle(s) {
    val slug = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val base = s"target/tmp-pg-src-$slug"
    graft.io.Fs.deleteRecursive(s, base)
    val (server, _) = graft.io.pg.PgLiteServer.start()
    try {
      val cleaned = graft.etl.Clean.clean(t(s, dir, "customer"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
      c.connect()
      val spanThird = try {
        c.query(graft.io.Sinks.createSchemaDdl("silver"))
        c.query(graft.io.Sinks.createTableDdl(
          cleaned.schema, "silver", "customer_src"))
        graft.io.pg.PgWire.copyDistributed(
          cleaned, "127.0.0.1", server.port, "silver.customer_src",
          numPartitions = 8)
        val mm = c.query("SELECT min(c_custkey) AS lo, max(c_custkey) AS hi " +
          "FROM silver.customer_src").rows.head
        // (hi-lo)/3 + 1 keys per trigger -> exactly THREE rate-limited
        // micro-batches (r19, VERDICT r18 task 8: the floor-division
        // span third left a 4th remainder trigger of pure fixed cost;
        // the drained snapshot and its oracle hash are
        // trigger-count-invariant)
        math.max(1L, (mm(1).get.toLong - mm(0).get.toLong) / 3 + 1)
      } finally c.close()
      val q = s.readStream.format("pglite")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("table", "silver.customer_src")
        .option("partitionColumn", "c_custkey")
        .option("maxKeysPerTrigger", spanThird.toString)
        .load()
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$base/out").orderBy(col("c_custkey"))
    } finally server.stop()
  }

  /** FILTERED streaming wire-SOURCE gate (round-18, VERDICT r17 task
    * 5): [[pgStreamSource]] with a server-side `IN` predicate riding
    * every trigger — the r17 planner composes a WHERE with per-trigger
    * key ranges ([[graft.io.pg.PgLiteDataSource]], census under the
    * WHERE) but no gate drove the filter×streaming composition until
    * now. Spark's optimizer runs filter pushdown only on BATCH DSv2
    * relations, so the streaming filter arrives as the source's
    * `where` option (the spark.read.jdbc `predicates` idiom); the
    * equivalent Spark-side filter stays in the plan as
    * belt-and-braces. The gate REQUIRES the server-side predicate
    * structurally (every trigger's reported source description must
    * carry the WHERE — a regression to shipping unfiltered rows fails
    * even if values match) and the oracle replays clean rules +
    * filter on the parquet source. */
  def pgStreamSourceFiltered(s: SparkSession, dir: String): DataFrame =
      Tables.withGateShuffle(s) {
    val slug = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val base = s"target/tmp-pg-srcf-$slug"
    graft.io.Fs.deleteRecursive(s, base)
    val (server, _) = graft.io.pg.PgLiteServer.start()
    try {
      val cleaned = graft.etl.Clean.clean(t(s, dir, "customer"))
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
      c.connect()
      val spanThird = try {
        c.query(graft.io.Sinks.createSchemaDdl("silver"))
        c.query(graft.io.Sinks.createTableDdl(
          cleaned.schema, "silver", "customer_srcf"))
        graft.io.pg.PgWire.copyDistributed(
          cleaned, "127.0.0.1", server.port, "silver.customer_srcf",
          numPartitions = 8)
        val mm = c.query("SELECT min(c_custkey) AS lo, max(c_custkey) AS hi " +
          "FROM silver.customer_srcf").rows.head
        // (hi-lo)/3 + 1 keys per trigger -> exactly THREE rate-limited
        // micro-batches (r19, VERDICT r18 task 8: the floor-division
        // span third left a 4th remainder trigger of pure fixed cost;
        // the drained snapshot and its oracle hash are
        // trigger-count-invariant)
        math.max(1L, (mm(1).get.toLong - mm(0).get.toLong) / 3 + 1)
      } finally c.close()
      val q = s.readStream.format("pglite")
        .option("host", "127.0.0.1").option("port", server.port)
        .option("table", "silver.customer_srcf")
        .option("partitionColumn", "c_custkey")
        .option("maxKeysPerTrigger", spanThird.toString)
        .option("where", "c_mktsegment IN ('building', 'machinery')")
        .load()
        .filter(col("c_mktsegment").isin("building", "machinery"))
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // structural assertion: every trigger's source carried the
      // pushed WHERE (the micro-batch stream reports it; a regression
      // to Spark-side filtering drops it from the description)
      val descs = q.recentProgress.toSeq.flatMap(_.sources.toSeq)
        .map(_.description)
      require(descs.nonEmpty && descs.forall(
          _.contains("WHERE c_mktsegment IN ('building', 'machinery')")),
        s"streaming filter pushdown regressed — sources: $descs")
      s.read.parquet(s"$base/out").orderBy(col("c_custkey"))
    } finally server.stop()
  }

  /** CBO-statistics broadcast gate (round-18, VERDICT r17 task 7 —
    * harvesting the r17 `estimateStatistics` stretch): a join between
    * the orders parquet table and a FILTERED wire scan must plan a
    * BroadcastHashJoin with the WIRE side as the broadcast build —
    * possible only because the scan reports its server-probed,
    * filter-aware row count to Spark's CBO. Without the probe the
    * DSv2 relation's size defaults to "unknown/huge", Spark
    * broadcasts the parquet side instead, and the structural
    * assertion fails — so the gate pins the stats path, not just the
    * join result. AQE is disabled inside the gate so the STATIC
    * planner's decision (the one CBO stats drive) is what's asserted. */
  def pgCboBroadcast(s: SparkSession, dir: String): DataFrame = {
    val port = pgReadOnlyPort(s, dir)
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val wire = roRead(s, port).load()
        .filter(col("c_mktsegment").isin("building", "machinery"))
      val joined = t(s, dir, "orders")
        .select(col("o_custkey"))
        .join(wire, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_custkey")).cast("long").as("sum_cust"))
      val exchanges = joined.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      require(exchanges.nonEmpty &&
          exchanges.exists(_.toString.contains("pglite:silver.customer_ro")),
        "CBO stats regressed — the filtered wire scan was not the " +
          s"broadcast side:\n${joined.queryExecution.executedPlan}")
      joined.checkpointLinted().orderBy(col("c_mktsegment"))
    } finally s.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  /** CSV-format COPY gate (round-16, [[graft.io.pg.PgCsvCopy]]): the
    * third published COPY format — quoted-empty-vs-NULL semantics and
    * quote-aware row framing — through the full socket round trip:
    * clean customer in via `COPY … WITH (FORMAT CSV)`, out via CSV
    * COPY TO STDOUT, with the TEXT-format export of the same table
    * REQUIRED cell-identical before the CSV read-back becomes the
    * result. Same clean-rules oracle as the rest of the COPY family. */
  def pgCopyCsv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (server, _) = graft.io.pg.PgLiteServer.start()
    try {
      val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
      c.connect()
      val back = try {
        c.query(graft.io.Sinks.createSchemaDdl("silver"))
        val cleaned = graft.etl.Clean.clean(t(s, dir, "customer"))
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        c.query(graft.io.Sinks.createTableDdl(
          cleaned.schema, "silver", "customer_csv"))
        val rows = cleaned.orderBy(col("c_custkey")).collect().iterator.map { r =>
          Seq(Option(r.get(0)).map(_.toString),
            Option(r.get(1)).map(_.toString),
            Option(r.get(2)).map(_.toString))
        }.toSeq
        val tag = c.copyInCsv("COPY silver.customer_csv " +
          "(c_custkey, c_name, c_mktsegment) FROM STDIN WITH (FORMAT CSV)",
          rows.iterator)
        require(tag == s"COPY ${rows.length}", s"unexpected COPY tag: $tag")
        val sel = "COPY silver.customer_csv (c_custkey, c_name, c_mktsegment)"
        val csv = c.copyOutCsv(s"$sel TO STDOUT WITH (FORMAT CSV)")
        val text = c.copyOut(s"$sel TO STDOUT")
        require(csv == text, "CSV and text COPY TO STDOUT exports disagree")
        csv
      } finally c.close()
      back.map(r => (r(0).get.toLong, r(1).orNull, r(2).orNull))
        .toDF("c_custkey", "c_name", "c_mktsegment")
        .orderBy(col("c_custkey"))
    } finally server.stop()
  }

  /** Run a statement expected to fail; returns its SQLSTATE. */
  private def intercept(c: graft.io.pg.PgLiteClient, sql: String): String =
    try { c.query(sql); "no error" }
    catch { case e: c.PgServerError => e.code }

  /** JSONL ROUND-TRIP gate (round-13, [[graft.io.Sinks.jsonlDir]] /
    * [[graft.io.Sources.jsonl]]): the documents corpus exported as
    * JSON-Lines — the LLM-pipeline interchange format — and scanned
    * back with the source schema must be value-identical to the
    * parquet source. Exercises line framing against real document
    * text (escaping), schema-driven null restoration, and the
    * distributed multi-part write/read pair. */
  def ioJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"target/tmp-io-jsonl-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val docs = t(s, dir, "documents")
    graft.io.Sinks.jsonlDir(docs, out)
    graft.io.Sources.jsonl(s, out, Some(docs.schema)).orderBy(col("doc_id"))
  }

  /** ORC round-trip: documents exported as ORC and scanned back must
    * be value-identical to the parquet source (the q_io_jsonl pattern
    * for the other native columnar format). */
  def ioOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = s"target/tmp-io-orc-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val docs = t(s, dir, "documents")
    graft.io.Sinks.orcDir(docs, out)
    graft.io.Sources.orc(s, out, Some(docs.schema)).orderBy(col("doc_id"))
  }

  /** Malformed-line QUARANTINE gate: the corpus exported as JSONL plus
    * 7 deterministically injected garbage lines, read back through the
    * PERMISSIVE quarantine route — the clean side must carry EXACTLY
    * the source rows (count + id/char checksums) and the quarantine
    * exactly the 7 bad lines. A leaked garbage row, a dropped clean
    * row, or a mis-routed line breaks the hash. */
  def ioJsonlQuarantine(s: SparkSession, dir: String): DataFrame = {
    val out = s"target/tmp-io-quar-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
    val docs = t(s, dir, "documents")
    graft.io.Sinks.jsonlDir(docs, out)
    val garbage = (1 to 7).map(i => s"{broken json line $i")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(out, "zz_garbage.json"),
      garbage.mkString("", "\n", "\n"))
    val qr = graft.io.Sources.jsonlWithQuarantine(s, out, docs.schema)
    // 1-row result: checkpoint it eagerly so release() can drop the
    // raw-corpus cache here instead of pinning it for the session
    val res = qr.clean.agg(
        count(lit(1)).as("n_clean"),
        sum(col("doc_id")).cast("long").as("sum_ids"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .crossJoin(qr.quarantine.agg(count(lit(1)).as("n_quarantined")))
      .checkpointLinted()
    qr.release()
    res
  }

  /** Each query with its DuckDB equivalent. Note DuckDB regexes are RE2
    * (`\1` backrefs, 'g' flag); Spark's are Java (`$1`, global by
    * default) — formulations differ syntactically, semantics verified
    * identical. */
  val queries: Seq[Query] = Seq(
    // the store loop must be value-invisible: silver object ≡ the
    // clean rules applied directly to the parquet source
    Query("ref_io_object_store", ioObjectStore,
      """SELECT c_custkey,
         coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
         coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer ORDER BY c_custkey"""),
    Query("ref_io_csv_roundtrip", ioCsvRoundtrip,
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),
    // the wire COPY round trip must be value-invisible: read-back ≡
    // the clean rules applied directly to the parquet source
    Query("ref_pg_copy", pgCopy,
      """SELECT c_custkey,
         coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
         coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer ORDER BY c_custkey"""),
    // the 8-connection concurrent COPY must land on the identical
    // read-back — same oracle as the single-socket twin
    Query("ref_pg_copy_distributed", pgCopyDistributed,
      """SELECT c_custkey,
         coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
         coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer ORDER BY c_custkey"""),
    // the staged, transactionally-published COPY must land on the
    // identical read-back — same oracle as its two siblings
    Query("ref_pg_copy_exactly_once", pgCopyExactlyOnce,
      """SELECT c_custkey,
         coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
         coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer ORDER BY c_custkey"""),
    // the STREAMING source: the table polled out by key high-water
    // mark in rate-limited micro-batches — same clean-rules oracle
    Query("ref_pg_stream_source", pgStreamSource,
      """SELECT c_custkey,
         coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
         coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer ORDER BY c_custkey""", gate = true),
    // the FILTERED streaming source: the pushed IN-list rides every
    // trigger's key ranges server-side — clean rules + filter oracle
    Query("ref_pg_stream_source_filtered", pgStreamSourceFiltered,
      """SELECT c_custkey,
           coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
           coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer
         WHERE coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown')
               IN ('building', 'machinery')
         ORDER BY c_custkey""", gate = true),
    // the CBO-statistics harvest: the join itself must be exact —
    // count + key checksum per segment over the filtered join
    Query("ref_pg_cbo_broadcast", pgCboBroadcast,
      """SELECT seg AS c_mktsegment, count(1) AS n_orders,
           CAST(sum(o_custkey) AS BIGINT) AS sum_cust
         FROM orders
         JOIN (SELECT c_custkey,
                 coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS seg
               FROM customer) c
           ON o_custkey = c_custkey
         WHERE seg IN ('building', 'machinery')
         GROUP BY 1 ORDER BY 1"""),
    // the STREAMING sink: micro-batched epochs, each published
    // atomically with its epoch marker — same clean-rules oracle
    Query("ref_pg_stream_sink", pgStreamSink,
      """SELECT c_custkey,
         coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
         coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer ORDER BY c_custkey""", gate = true),
    // the DSv2 sink: append through Spark's V2 commit protocol (staged
    // exactly-once) + DSv2 scan back — same clean-rules oracle
    Query("ref_pg_dsv2_write", pgDsv2Write,
      """SELECT c_custkey,
         coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
         coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer ORDER BY c_custkey"""),
    // the DSv2 TOP-N pushdown: per-range ORDER BY … DESC LIMIT k on
    // the wire, merged by Spark — the oracle re-derives the global
    // top-100 keys from the parquet source under the same clean rules
    Query("ref_pg_dsv2_topn", pgDsv2TopN,
      """SELECT * FROM (
           SELECT c_custkey,
             coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
             coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
           FROM customer ORDER BY c_custkey DESC LIMIT 100
         ) ORDER BY c_custkey"""),
    // the DSv2 AGGREGATE pushdown: per-range GROUP BY partials on the
    // wire, final-merged by Spark — the oracle re-derives the group
    // aggregates from the parquet source under the same clean rules
    Query("ref_pg_dsv2_agg", pgDsv2Agg,
      """SELECT coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment,
           count(*) AS n_rows,
           CAST(sum(c_custkey) AS BIGINT) AS sum_key,
           min(c_custkey) AS min_key,
           max(c_custkey) AS max_key
         FROM customer GROUP BY 1 ORDER BY 1"""),
    // the LIKE-filtered partitioned read: the pushed prefix pattern
    // evaluates server-side inside every key range
    Query("ref_pg_dsv2_like", pgDsv2Like,
      """SELECT c_custkey,
           coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
           coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer
         WHERE coalesce(nullif(lower(trim(c_name)), ''), 'unknown')
               LIKE 'customer#0000001%'
         ORDER BY c_custkey"""),
    // the FILTERED partitioned read: the pushed comparison evaluates
    // server-side inside every key range — the oracle replays clean
    // rules + the filter on the parquet source
    Query("ref_pg_dsv2_filter", pgDsv2Filter,
      """SELECT c_custkey,
           coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
           coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer
         WHERE coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown')
               IN ('building', 'machinery')
         ORDER BY c_custkey"""),
    // the DSv2 face of the distributed scan: server-inferred schema +
    // range-partitioned read — same clean-rules oracle as its sibling
    Query("ref_pg_dsv2_scan", pgDsv2Scan,
      """SELECT c_custkey,
         coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
         coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer ORDER BY c_custkey"""),
    // the distributed SCAN: 8 per-partition key-range reads must
    // reassemble the table with no seam (row lost or doubled at a
    // range boundary) — same clean-rules oracle as the write gates
    Query("ref_pg_scan_distributed", pgScanDistributed,
      """SELECT c_custkey,
         coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
         coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer ORDER BY c_custkey"""),
    // the CSV format: quoted-empty-vs-NULL + quote-aware framing
    // (CSV ≡ text export required in the query) — same oracle
    Query("ref_pg_copy_csv", pgCopyCsv,
      """SELECT c_custkey,
         coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
         coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer ORDER BY c_custkey"""),
    // the EXPORT side: COPY TO STDOUT (text ≡ binary required in the
    // query) must be value-invisible — same clean-rules oracle as the
    // COPY FROM STDIN family it mirrors
    Query("ref_pg_copy_out", pgCopyOut,
      """SELECT c_custkey,
         coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
         coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer ORDER BY c_custkey"""),
    // the BINARY-format COPY round trip must be value-invisible: every
    // typed field codec (int8/float8/µs-timestamp/UTF-8) inverted
    // exactly, so the read-back ≡ the parquet slice it started from
    Query("ref_pg_copy_binary", pgCopyBinary,
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
         FROM orders WHERE o_orderkey % 10 = 7 ORDER BY o_orderkey"""),
    // DB-side SERIAL ids were assigned in sorted-segment insert order →
    // row_number over the sorted distinct segment list replays them
    Query("ref_pg_runtime", pgRuntime,
      """SELECT CAST(row_number() OVER (ORDER BY seg) AS INT) AS id, seg,
           n_customers
         FROM (SELECT lower(trim(c_mktsegment)) AS seg,
                 count(1) AS n_customers
               FROM customer GROUP BY 1)
         ORDER BY id"""),
    Query("q_io_jsonl_roundtrip", ioJsonlRoundtrip,
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"),
    Query("q_io_orc_roundtrip", ioOrcRoundtrip,
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"),
    // the quarantine routing must be value-invisible to the clean side
    // (full count + checksums) and catch exactly the 7 injected lines
    Query("q_io_jsonl_quarantine", ioJsonlQuarantine,
      """SELECT count(1) AS n_clean,
           CAST(sum(doc_id) AS BIGINT) AS sum_ids,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(7 AS BIGINT) AS n_quarantined
         FROM documents"""),
    Query("ref_io_xlsx_scan", ioXlsxScan,
      "SELECT n_name, n_regionkey FROM nation ORDER BY n_name"),
    Query("ref_gold_star", goldStar,
      """WITH k AS (
           SELECT c_name, c_nationkey,
             substr(sha256(coalesce(CAST(c_name AS VARCHAR), 'nan')), 1, 16) AS profile_key
           FROM customer),
         main AS (
           SELECT *, CAST(row_number() OVER (ORDER BY profile_key, c_name) AS INT) AS id
           FROM k)
         SELECT id AS profile_id, c_nationkey FROM main ORDER BY profile_id"""),
    Query("ref_clean_trim_fill", cleanTrimFill,
      """SELECT c_custkey,
         coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
         coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
         FROM customer ORDER BY c_custkey"""),
    Query("ref_standardize_values", standardizeValues,
      """SELECT p_partkey,
         replace(lower(regexp_replace(trim(p_name), '([^A-Z_])([A-Z])', '\1_\2', 'g')), ' ', '') AS name_std,
         replace(lower(regexp_replace(trim(p_type), '([^A-Z_])([A-Z])', '\1_\2', 'g')), ' ', '') AS type_std
         FROM part ORDER BY p_partkey"""),
    Query("ref_natural_key", naturalKeyQ,
      """SELECT c_custkey,
         concat_ws('|', CAST(c_name AS VARCHAR), CAST(c_custkey AS VARCHAR)) AS natural_key
         FROM customer ORDER BY c_custkey"""),
    Query("ref_hash_key", hashKeyQ,
      """SELECT c_custkey,
         substr(sha256(concat(coalesce(CAST(c_name AS VARCHAR), 'nan'),
                              coalesce(CAST(c_nationkey AS VARCHAR), 'nan'))), 1, 16) AS c_key
         FROM customer ORDER BY c_custkey"""),
    Query("ref_config_split", configSplit,
      """SELECT substr(sha256(coalesce(CAST(c_custkey AS VARCHAR), 'nan')), 1, 16) AS c_key,
         c_mktsegment, c_nationkey
         FROM customer ORDER BY c_key"""),
    Query("ref_dim_dedup", dimDedup,
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
         ORDER BY c_mktsegment, c_nationkey"""),
    Query("ref_surrogate_id", surrogateId,
      """SELECT CAST(row_number() OVER (ORDER BY c_mktsegment) AS INT) AS id, c_mktsegment
         FROM (SELECT DISTINCT c_mktsegment FROM customer)
         ORDER BY id"""),
    Query("ref_fk_resolve", fkResolve,
      """WITH dim AS (
           SELECT c_custkey, CAST(row_number() OVER (ORDER BY c_custkey) AS INT) AS customer_id
           FROM customer)
         SELECT d.customer_id, o.o_orderkey, o.o_orderstatus
         FROM orders o LEFT JOIN dim d ON o.o_custkey = d.c_custkey
         ORDER BY o.o_orderkey"""),
    // the flagship hashes BOTH wire legs: the dim chain replayed to its
    // surrogate ids, joined to orders (the fact read-back), cut to the
    // sampled ordered head exactly like the wire SELECT … LIMIT 100
    Query("ref_medallion", medallion,
      """WITH cleaned AS (
           SELECT c_custkey,
                  coalesce(nullif(lower(trim(c_name)), ''), 'unknown') AS c_name,
                  c_nationkey,
                  coalesce(nullif(lower(trim(c_mktsegment)), ''), 'unknown') AS c_mktsegment
           FROM customer),
         keyed AS (
           SELECT *, substr(sha256(concat(coalesce(CAST(c_name AS VARCHAR), 'nan'),
                                          coalesce(CAST(c_nationkey AS VARCHAR), 'nan'))), 1, 16) AS c_key
           FROM cleaned),
         dd AS (SELECT DISTINCT * FROM keyed),
         main AS (
           SELECT CAST(row_number() OVER (ORDER BY c_key, c_custkey) AS INT) AS id,
                  c_custkey, c_name, c_nationkey, c_mktsegment, c_key
           FROM dd),
         head AS (
           SELECT o.o_orderkey, m.id AS customer_id, o.o_orderstatus,
                  m.c_name, m.c_key
           FROM orders o JOIN main m ON o.o_custkey = m.c_custkey
           ORDER BY o.o_orderkey LIMIT 100)
         SELECT o_orderkey, customer_id, o_orderstatus, c_name, c_key
         FROM head ORDER BY o_orderkey""")
  )
}
