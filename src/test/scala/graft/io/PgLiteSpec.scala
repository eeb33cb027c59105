package graft.io

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import graft.io.pg.{PgLiteClient, PgLiteServer}

/** PG-wire endpoint + driverless client: golden protocol bytes against
  * the PUBLISHED v3 layouts (so the pair can't drift into a private
  * dialect), then the reference's runtime patterns — SERIAL assignment
  * with RETURNING-id capture (the id_mapping,
  * dag_etl_minio_to_postgres.py:134-136), UNIQUE and FK enforcement
  * with real SQLSTATEs, read-back scans. */
class PgLiteSpec extends SparkSpec {

  behavior of "PgLiteServer wire protocol"

  it should "answer SSLRequest and startup with the documented byte layouts" in {
    val (server, _) = PgLiteServer.start()
    try {
      val sock = new Socket("127.0.0.1", server.port)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      // SSLRequest: int32 len=8, int32 80877103 → exactly one byte 'N'
      out.writeInt(8); out.writeInt(80877103); out.flush()
      in.read() shouldBe 'N'.toInt
      // StartupMessage: protocol 196608, "user\0graft\0\0"
      val body = "user".getBytes(UTF_8) ++ Array(0.toByte) ++
        "graft".getBytes(UTF_8) ++ Array(0.toByte, 0.toByte)
      out.writeInt(4 + 4 + body.length); out.writeInt(196608)
      out.write(body); out.flush()
      // AuthenticationOk: 'R' len=8 code=0 — byte-exact per the docs
      in.read() shouldBe 'R'.toInt
      in.readInt() shouldBe 8
      in.readInt() shouldBe 0
      // then ParameterStatus/BackendKeyData until ReadyForQuery 'Z' len=5 'I'
      var tpe = in.read()
      while (tpe != 'Z'.toInt) {
        Seq('S'.toInt, 'K'.toInt) should contain(tpe)
        val len = in.readInt()
        in.readFully(new Array[Byte](len - 4))
        tpe = in.read()
      }
      in.readInt() shouldBe 5
      in.read() shouldBe 'I'.toInt
      sock.close()
    } finally server.stop()
  }

  behavior of "PgLite runtime semantics (the reference's Postgres leg)"

  it should "run DDL, SERIAL+RETURNING inserts, constraints, and scans end-to-end" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect(negotiateSsl = true)
      c.query(Sinks.createSchemaDdl("gold")).tags shouldBe Seq("CREATE SCHEMA")
      // the repo's own DDL emitter (SERIAL PK + UNIQUE), run live
      val ddl = Sinks.createTableDdl(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("seg",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.IntegerType))),
        "gold", "segment", serialPk = Some("id"), unique = Seq("seg"))
      c.query(ddl).tags shouldBe Seq("CREATE TABLE")
      // idempotent re-create (IF NOT EXISTS)
      c.query(ddl).tags shouldBe Seq("CREATE TABLE")
      // SERIAL + RETURNING: the id_mapping pattern
      val idMap = Seq("automobile", "building", "machinery").map { seg =>
        val r = c.query(
          s"INSERT INTO gold.segment (seg, n) VALUES ('$seg', 1) RETURNING id")
        r.columns shouldBe Seq("id")
        r.typeOids shouldBe Seq(23) // int4
        seg -> r.rows.head.head.get.toLong
      }.toMap
      idMap shouldBe Map("automobile" -> 1L, "building" -> 2L, "machinery" -> 3L)
      // UNIQUE violation: Postgres SQLSTATE 23505, table unchanged
      val dup = intercept[c.PgServerError](
        c.query("INSERT INTO gold.segment (seg, n) VALUES ('building', 9)"))
      dup.code shouldBe "23505"
      // FK table + violation: 23503
      c.query("CREATE TABLE gold.fact (seg_id INTEGER REFERENCES gold.segment(id), v TEXT)")
      c.query("INSERT INTO gold.fact (seg_id, v) VALUES (2, 'ok')")
      val fk = intercept[c.PgServerError](
        c.query("INSERT INTO gold.fact (seg_id, v) VALUES (99, 'bad')"))
      fk.code shouldBe "23503"
      // NULL round trip + scan with ORDER BY
      c.query("INSERT INTO gold.fact (seg_id, v) VALUES (1, NULL)")
      val scan = c.query("SELECT seg_id, v FROM gold.fact ORDER BY seg_id")
      scan.rows shouldBe Seq(Seq(Some("1"), None), Seq(Some("2"), Some("ok")))
      scan.tags shouldBe Seq("SELECT 2")
      // escaped quote survives the literal parser
      c.query("INSERT INTO gold.segment (seg, n) VALUES ('o''brien', 0)")
      val ob = c.query("SELECT seg FROM gold.segment ORDER BY seg")
      ob.rows.map(_.head.get) should contain("o'brien")
      // multi-statement simple query: both tags, one ReadyForQuery
      val multi = c.query(
        "INSERT INTO gold.fact (seg_id, v) VALUES (3, 'x'); SELECT v FROM gold.fact")
      multi.tags shouldBe Seq("INSERT 0 1", "SELECT 3")
      // an error mid-batch skips the rest (PG semantics) and reports
      val bad = intercept[c.PgServerError](c.query(
        "INSERT INTO gold.fact (seg_id, v) VALUES (77, 'y'); SELECT seg FROM gold.segment"))
      bad.code shouldBe "23503"
      // undefined table
      intercept[c.PgServerError](
        c.query("SELECT x FROM gold.nope")).code shouldBe "42P01"
      c.close()
    } finally server.stop()
  }

  it should "bulk-load through the COPY protocol with escapes, nulls, and constraints" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE SCHEMA silver")
      c.query("CREATE TABLE silver.docs (id SERIAL PRIMARY KEY, k TEXT UNIQUE, v TEXT)")
      // hostile payloads: tab, newline, backslash, plus a NULL field
      val rows = Seq(
        Seq(Some("a"), Some("plain")),
        Seq(Some("b"), Some("tab\there and line\nbreak and back\\slash")),
        Seq(Some("c"), None))
      c.copyIn("COPY silver.docs (k, v) FROM STDIN", rows) shouldBe "COPY 3"
      val back = c.query("SELECT id, k, v FROM silver.docs ORDER BY k")
      back.rows shouldBe Seq(
        Seq(Some("1"), Some("a"), Some("plain")),
        Seq(Some("2"), Some("b"), Some("tab\there and line\nbreak and back\\slash")),
        Seq(Some("3"), Some("c"), None))
      // constraint violation mid-batch: all-or-nothing, table unchanged
      val dup = intercept[c.PgServerError](c.copyIn(
        "COPY silver.docs (k, v) FROM STDIN",
        Seq(Seq(Some("z"), Some("x")), Seq(Some("a"), Some("dup")))))
      dup.code shouldBe "23505"
      c.query("SELECT k FROM silver.docs").rows.length shouldBe 3
      // serials continue after the bulk batch
      val nxt = c.query("INSERT INTO silver.docs (k, v) VALUES ('d', 'x') RETURNING id")
      nxt.rows.head.head.get shouldBe "4"
      // COPY into a missing relation errors BEFORE CopyInResponse
      intercept[c.PgServerError](c.copyIn(
        "COPY silver.nope (k) FROM STDIN", Seq(Seq(Some("x")))))
        .code shouldBe "42P01"
      // the connection survives all of the above
      c.query("SELECT k FROM silver.docs").rows.length shouldBe 4
      c.close()
    } finally server.stop()
  }

  it should "abort with CopyFail when the row producer throws mid-stream" in {
    val (server, _) = PgLiteServer.start()
    try {
      val c = new PgLiteClient("127.0.0.1", server.port)
      c.connect()
      c.query("CREATE TABLE pf (k INTEGER)")
      // producer dies after 2 rows (the PgWire.copyDistributed failure
      // mode: a deserialization error mid-partition) — the client must
      // resync the connection, not hang the server mid-COPY
      val bad = new Iterator[Seq[Option[String]]] {
        private var i = 0
        def hasNext = true
        def next(): Seq[Option[String]] = {
          i += 1
          if (i > 2) sys.error("producer blew up")
          Seq(Some(i.toString))
        }
      }
      val e = intercept[RuntimeException](
        c.copyIn("COPY pf (k) FROM STDIN", bad, batchRows = 1))
      e.getMessage should include("blew up")
      // the aborted COPY left nothing behind and the connection works
      c.query("SELECT k FROM pf").rows shouldBe empty
      c.query("INSERT INTO pf (k) VALUES (7)")
      c.query("SELECT k FROM pf").rows shouldBe Seq(Seq(Some("7")))
      c.close()
    } finally server.stop()
  }

  it should "round-trip randomized hostile payloads through COPY + SELECT" in {
    // deterministic randomized property (the RandomizedPropertySpec
    // idiom): 300 rows of adversarial text — tabs, newlines, CRs,
    // backslashes, quotes, unicode, empty strings, NULLs — must
    // survive the full socket round trip byte-identically
    val rng = new scala.util.Random(4242)
    val atoms = Array("a", "tab\t", "nl\n", "cr\r", "bs\\", "q'", "dq\"",
      "\\N", "é漢🙂", "", " ", "end\\")
    def randomField(): Option[String] =
      if (rng.nextInt(10) == 0) None
      else Some((0 until rng.nextInt(6))
        .map(_ => atoms(rng.nextInt(atoms.length))).mkString)
    val rows = (0 until 300).map(i => Seq(Some(i.toString), randomField()))
    val (server, _) = PgLiteServer.start()
    try {
      val c = new PgLiteClient("127.0.0.1", server.port)
      c.connect()
      c.query("CREATE TABLE fuzz (k INTEGER, v TEXT)")
      c.copyIn("COPY fuzz (k, v) FROM STDIN", rows) shouldBe "COPY 300"
      val back = c.query("SELECT k, v FROM fuzz ORDER BY k")
      back.rows shouldBe rows
      c.close()
    } finally server.stop()
  }

  it should "interleave concurrent per-connection COPYs atomically" in {
    val (server, _) = PgLiteServer.start()
    try {
      val admin = new PgLiteClient("127.0.0.1", server.port)
      admin.connect()
      admin.query("CREATE TABLE conc (src INTEGER, k INTEGER UNIQUE)")
      // 4 writers × 500 rows, disjoint key ranges, concurrent sockets —
      // the PgWire.copyDistributed partition shape
      val threads = (0 until 4).map { w =>
        new Thread(() => {
          val c = new PgLiteClient("127.0.0.1", server.port)
          c.connect()
          try c.copyIn("COPY conc (src, k) FROM STDIN",
            (0 until 500).iterator.map(i =>
              Seq(Some(w.toString), Some((w * 1000 + i).toString))),
            batchRows = 64)
          finally c.close()
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      // nothing lost, nothing duplicated, per-writer counts intact
      val back = admin.query("SELECT src FROM conc")
      back.rows.length shouldBe 2000
      back.rows.groupBy(_.head.get).view.mapValues(_.size).toMap shouldBe
        Map("0" -> 500, "1" -> 500, "2" -> 500, "3" -> 500)
      admin.close()
    } finally server.stop()
  }

  it should "keep empty-string rows in single-column COPY (Postgres text format)" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE lines (s TEXT)")
      // an empty line IS a valid row: one empty-string field — must not
      // be silently dropped (r14 ADVICE, PgLiteServer COPY decode)
      val rows = Seq(Seq(Some("x")), Seq(Some("")), Seq(Some("y")), Seq(Some("")))
      c.copyIn("COPY lines (s) FROM STDIN", rows) shouldBe "COPY 4"
      val back = c.query("SELECT s FROM lines ORDER BY s")
      back.rows shouldBe Seq(
        Seq(Some("")), Seq(Some("")), Seq(Some("x")), Seq(Some("y")))
      c.close()
    } finally server.stop()
  }

  it should "sort SQL NULLs last in ORDER BY, numeric and text" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE t (n INTEGER, s TEXT)")
      c.query("INSERT INTO t (n, s) VALUES (2, 'b')")
      c.query("INSERT INTO t (n, s) VALUES (NULL, NULL)")
      c.query("INSERT INTO t (n, s) VALUES (1, 'a')")
      // Postgres ASC default is NULLS LAST; must not crash (r14 ADVICE)
      c.query("SELECT n FROM t ORDER BY n").rows shouldBe
        Seq(Seq(Some("1")), Seq(Some("2")), Seq(None))
      c.query("SELECT s FROM t ORDER BY s").rows shouldBe
        Seq(Seq(Some("a")), Seq(Some("b")), Seq(None))
      c.close()
    } finally server.stop()
  }

  it should "honor explicit NULLS FIRST|LAST, full sort and top-k heap alike" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE t (n INTEGER)")
      Seq("2", "NULL", "1", "3", "NULL").foreach(v =>
        c.query(s"INSERT INTO t (n) VALUES ($v)"))
      def vals(sql: String): Seq[Option[String]] =
        c.query(sql).rows.map(_.head)
      // all four explicit combinations (Spark's ASC default is NULLS
      // FIRST — the opposite of PG's — so the DSv2 TopN pushdown
      // depends on the explicit form being honored exactly)
      vals("SELECT n FROM t ORDER BY n ASC NULLS FIRST") shouldBe
        Seq(None, None, Some("1"), Some("2"), Some("3"))
      vals("SELECT n FROM t ORDER BY n ASC NULLS LAST") shouldBe
        Seq(Some("1"), Some("2"), Some("3"), None, None)
      vals("SELECT n FROM t ORDER BY n DESC NULLS FIRST") shouldBe
        Seq(None, None, Some("3"), Some("2"), Some("1"))
      vals("SELECT n FROM t ORDER BY n DESC NULLS LAST") shouldBe
        Seq(Some("3"), Some("2"), Some("1"), None, None)
      // the bounded top-k heap path (LIMIT < rows) places nulls the
      // same way the full sort does
      vals("SELECT n FROM t ORDER BY n ASC NULLS FIRST LIMIT 3") shouldBe
        Seq(None, None, Some("1"))
      vals("SELECT n FROM t ORDER BY n DESC NULLS LAST LIMIT 2") shouldBe
        Seq(Some("3"), Some("2"))
      // defaults unchanged: ASC → LAST, DESC → FIRST (PG semantics)
      vals("SELECT n FROM t ORDER BY n DESC LIMIT 2") shouldBe
        Seq(None, None)
      c.close()
    } finally server.stop()
  }

  it should "bind parameters whose VALUES contain $n tokens without corruption" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE bx (a TEXT, b TEXT)")
      // a sequential-replace bind would splice 'costs $1 each' first,
      // then rewrite the $1 INSIDE it on the next pass (r16 review) —
      // the single quote-aware scan must keep the value verbatim
      c.execParams("INSERT INTO bx (a, b) VALUES ($1, $2)",
        Seq(Some("x"), Some("costs $1 each")))
      c.query("SELECT a, b FROM bx").rows.map(_.map(_.get)) shouldBe
        Seq(Seq("x", "costs $1 each"))
      // a $n inside the statement's OWN string literal stays text
      c.execParams("INSERT INTO bx (a, b) VALUES ('lit $1', $1)",
        Seq(Some("y")))
      c.query("SELECT a, b FROM bx WHERE a = 'lit $1'")
        .rows.map(_.map(_.get)) shouldBe Seq(Seq("lit $1", "y"))
      // referencing a parameter the Bind never supplied is an error
      intercept[c.PgServerError](
        c.execParams("INSERT INTO bx (a, b) VALUES ($1, $3)",
          Seq(Some("z")))).code shouldBe "08P01"
      c.close()
    } finally server.stop()
  }

  it should "answer ORDER BY … LIMIT 0 with an empty set, not an error" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE lz (n INTEGER)")
      c.query("INSERT INTO lz (n) VALUES (1)")
      c.query("SELECT n FROM lz ORDER BY n LIMIT 0").rows shouldBe Nil
      c.query("SELECT n FROM lz LIMIT 0").rows shouldBe Nil
      c.close()
    } finally server.stop()
  }

  it should "expose the catalog through information_schema.tables" in {
    val (server, engine) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      engine.execute("CREATE SCHEMA s1")
      engine.execute("CREATE TABLE s1.t1 (k INTEGER)")
      engine.execute("CREATE TABLE s1.t1__stage_p0_t42 (k INTEGER)")
      c.query("SELECT table_schema, table_name FROM information_schema.tables " +
          "WHERE table_name >= 't1__stage_' AND table_name < 't1__stage~'")
        .rows.map(_.map(_.get)) shouldBe Seq(Seq("s1", "t1__stage_p0_t42"))
      // read-only: no INSERT target
      intercept[c.PgServerError](
        c.query("INSERT INTO information_schema.tables (table_schema, table_name) " +
          "VALUES ('x', 'y')")).code should not be "00000"
      c.close()
    } finally server.stop()
  }

  it should "answer aggregate SELECTs: count/sum/min/max, GROUP BY, NULL group" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE t (g TEXT, n INTEGER, x NUMERIC(10,2))")
      Seq(("'a'", "1", "1.50"), ("'a'", "2", "NULL"), ("'b'", "NULL", "2.25"),
          ("NULL", "4", "0.25"), ("NULL", "NULL", "NULL")).foreach {
        case (g, n, x) =>
          c.query(s"INSERT INTO t (g, n, x) VALUES ($g, $n, $x)")
      }
      // global aggregates: count(*) counts rows, count(c)/sum/min/max
      // skip NULLs; exact decimal sum
      c.query("SELECT count(*), count(n), sum(n), min(n), max(n), sum(x) FROM t")
        .rows.map(_.map(_.orNull)) shouldBe
        Seq(Seq("5", "3", "7", "1", "4", "4.00"))
      // GROUP BY: one row per group, the SQL NULL group groups together
      c.query("SELECT g, count(*) AS c, sum(n) AS s FROM t GROUP BY g")
        .rows.map(_.map(_.orNull)).sortBy(r => Option(r.head).getOrElse("")) shouldBe
        Seq(Seq(null, "2", "4"), Seq("a", "2", "3"), Seq("b", "1", null))
      // WHERE composes (half-open range), and a zero-row global
      // aggregate still answers ONE row: count 0, sum NULL
      c.query("SELECT count(*), sum(n) FROM t WHERE n >= 2").rows
        .map(_.map(_.orNull)) shouldBe Seq(Seq("2", "6"))
      c.query("SELECT count(*), sum(n) FROM t WHERE n >= 100").rows
        .map(_.map(_.orNull)) shouldBe Seq(Seq("0", null))
      // multi-column GROUP BY: every (g, n) pair here is distinct
      c.query("SELECT g, n, count(*) AS c FROM t GROUP BY g, n")
        .rows.map(_.last) shouldBe Seq.fill(5)(Some("1"))
      // a bare column outside the GROUP BY is a grouping error
      intercept[c.PgServerError](
        c.query("SELECT n, count(*) FROM t GROUP BY g")).code shouldBe "42803"
      // sum over a non-numeric column does not exist
      intercept[c.PgServerError](
        c.query("SELECT sum(g) FROM t")).code shouldBe "42883"
      c.close()
    } finally server.stop()
  }

  it should "filter by IN lists and IS [NOT] NULL in plain and aggregate selects" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE t (k INTEGER, g TEXT, n INTEGER)")
      Seq(("1", "'a'", "10"), ("2", "'b'", "NULL"), ("3", "NULL", "30"),
          ("4", "'c, d'", "40"), ("5", "'a'", "NULL")).foreach {
        case (k, g, n) =>
          c.query(s"INSERT INTO t (k, g, n) VALUES ($k, $g, $n)")
      }
      // typed IN on integers; quoted IN with an embedded comma; a NULL
      // list element matches nothing (PG semantics)
      c.query("SELECT k FROM t WHERE k IN (1, 3, 99)")
        .rows.map(_.head.get) shouldBe Seq("1", "3")
      c.query("SELECT k FROM t WHERE g IN ('c, d', 'b', NULL)")
        .rows.map(_.head.get) shouldBe Seq("2", "4")
      // null tests, standalone and composed with comparisons
      c.query("SELECT k FROM t WHERE g IS NULL")
        .rows.map(_.head.get) shouldBe Seq("3")
      c.query("SELECT k FROM t WHERE n IS NOT NULL AND k >= 2")
        .rows.map(_.head.get) shouldBe Seq("3", "4")
      c.query("SELECT k FROM t WHERE g IN ('a') AND n IS NULL")
        .rows.map(_.head.get) shouldBe Seq("5")
      // the aggregate path takes the same predicates
      c.query("SELECT count(*), sum(k) FROM t WHERE n IS NULL")
        .rows.map(_.map(_.get)) shouldBe Seq(Seq("2", "7"))
      c.query("SELECT g, count(*) AS c FROM t WHERE k IN (1, 2, 5) GROUP BY g")
        .rows.map(_.map(_.orNull)).sortBy(_.head) shouldBe
        Seq(Seq("a", "2"), Seq("b", "1"))
      // a bad literal in the list is a typed error, not a mis-compare
      intercept[c.PgServerError](
        c.query("SELECT k FROM t WHERE k IN (1, 'x')")).code shouldBe "22P02"
      // LIKE: %/_ patterns, escape, regex metachars stay literal
      c.query("INSERT INTO t (k, g, n) VALUES (6, 'abc.d', 1)")
      c.query("INSERT INTO t (k, g, n) VALUES (7, 'abcxd', 1)")
      c.query("SELECT k FROM t WHERE g LIKE 'abc%'")
        .rows.map(_.head.get) shouldBe Seq("6", "7")
      c.query("SELECT k FROM t WHERE g LIKE 'abc_d'")
        .rows.map(_.head.get) shouldBe Seq("6", "7")
      c.query("SELECT k FROM t WHERE g LIKE 'abc.d'") // '.' literal
        .rows.map(_.head.get) shouldBe Seq("6")
      c.query("SELECT k FROM t WHERE g LIKE '%c%d%'") // 'c, d' matches too
        .rows.map(_.head.get) shouldBe Seq("4", "6", "7")
      // no wildcards = exact equality; a bare prefix matches nothing
      c.query("SELECT k FROM t WHERE g LIKE 'a'")
        .rows.map(_.head.get) shouldBe Seq("1", "5")
      c.query("SELECT k FROM t WHERE g LIKE 'ab'").rows shouldBe Nil
      // backslash escapes the next pattern char (PG default ESCAPE)
      c.query("INSERT INTO t (k, g, n) VALUES (8, '50%', 1)")
      c.query("SELECT k FROM t WHERE g LIKE '50\\%'")
        .rows.map(_.head.get) shouldBe Seq("8")
      // LIKE on a non-text column is 42883, like PG
      intercept[c.PgServerError](
        c.query("SELECT k FROM t WHERE k LIKE '1%'")).code shouldBe "42883"
      // ORDER BY a column OUTSIDE the projection (real-PG semantics,
      // r17) — sorted by k descending, only g emitted
      c.query("SELECT g FROM t WHERE k IN (1, 2, 4) ORDER BY k DESC")
        .rows.map(_.head.orNull) shouldBe Seq("c, d", "b", "a")
      // MULTI-COLUMN ORDER BY (r17 second batch): composed
      // lexicographically, per-item direction and NULLS placement —
      // n groups {1: k=6,7,8; 10: k=1; 30: k=3; 40: k=4; NULL: k=2,5}
      c.query("SELECT k FROM t ORDER BY n ASC NULLS LAST, k DESC")
        .rows.map(_.head.get) shouldBe
        Seq("8", "7", "6", "1", "3", "4", "5", "2")
      // …including through the bounded top-k heap (LIMIT)
      c.query("SELECT k FROM t ORDER BY n ASC NULLS LAST, k DESC LIMIT 4")
        .rows.map(_.head.get) shouldBe Seq("8", "7", "6", "1")
      // …including through the bounded top-k heap path (LIMIT):
      // n=40 → 'c, d', n=30 → the NULL-g row
      c.query("SELECT g FROM t WHERE n IS NOT NULL ORDER BY n DESC LIMIT 2")
        .rows.map(_.head.orNull) shouldBe Seq("c, d", null)
      c.close()
    } finally server.stop()
  }

  it should "continue the serial via setval after an explicit-id bulk load" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE SCHEMA g")
      c.query("CREATE TABLE g.prop_x (id SERIAL PRIMARY KEY, v TEXT)")
      c.query("INSERT INTO g.prop_x (v) VALUES ('a') RETURNING id")
        .rows.head.head.get shouldBe "1"
      // COPY with EXPLICIT ids does not advance the sequence (real PG)
      c.copyIn("COPY g.prop_x (id, v) FROM STDIN",
        Seq(Seq(Some("2"), Some("b")), Seq(Some("3"), Some("c"))))
      // …so the next server-assigned id collides without setval
      intercept[c.PgServerError](
        c.query("INSERT INTO g.prop_x (v) VALUES ('d') RETURNING id"))
        .code shouldBe "23505"
      // the published post-bulk-load idiom: setval to max(id), next
      // draw continues at N+1 (the failed insert above burned one id —
      // a PG-faithful gap that setval overwrites)
      c.query("SELECT setval('g.prop_x_id_seq', 3)")
        .rows.head.head.get shouldBe "3"
      c.query("INSERT INTO g.prop_x (v) VALUES ('d') RETURNING id")
        .rows.head.head.get shouldBe "4"
      // resolution is catalog-backed ('_' in table names is fine, the
      // rightmost split matching a serial column wins); unknown → 42P01
      intercept[c.PgServerError](
        c.query("SELECT setval('g.nope_id_seq', 9)")).code shouldBe "42P01"
      c.close()
    } finally server.stop()
  }

  it should "stream query rows incrementally off the socket (bounded buffering)" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    val c2 = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect(); c2.connect()
      c.query("CREATE TABLE big (k INTEGER, pad TEXT)")
      val rows = (1 to 5000).map(i => Seq(Some(i.toString), Some("x" * 64)))
      c.copyIn("COPY big (k, pad) FROM STDIN", rows)
      val before = c2.bytesRead
      val st = c2.queryStream("SELECT k, pad FROM big")
      st.columns shouldBe Seq("k", "pad")
      val first = st.next()
      first.head shouldBe Some("1") // heap order = insertion order
      // BOUNDED: after one row, only the RowDescription + one DataRow
      // have left the socket — not the ~350 KB the whole result
      // carries. This is the r16-verdict fetchSize-cursor posture,
      // proven on the byte counter rather than trusted from the shape.
      (c2.bytesRead - before) should be < 4096L
      // the remainder streams to completion and equals the buffered
      // query() of a second connection, row for row
      val all = first +: st.toSeq
      all.length shouldBe 5000
      (c2.bytesRead - before) should be > (5000L * 64)
      all shouldBe c.query("SELECT k, pad FROM big").rows
      // an up-front error throws AT queryStream() (the constructor
      // pumps to the first row), and the connection stays usable
      intercept[c2.PgServerError](
        c2.queryStream("SELECT k FROM missing")).code shouldBe "42P01"
      c2.query("SELECT count(*) FROM big").rows.head.head.get shouldBe "5000"
    } finally { c.close(); c2.close(); server.stop() }
  }

  it should "take any number of ANDed WHERE predicates and wrap BIGINT sums" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE t (k INTEGER, g TEXT, n INTEGER, big BIGINT)")
      (1 to 10).foreach(i => c.query("INSERT INTO t (k, g, n, big) VALUES " +
        s"($i, '${if (i % 2 == 0) "even" else "odd"}', ${i * 10}, 0)"))
      // THREE conjunctions on a plain select: a key range (what a
      // partitioned reader ships) PLUS a pushed user filter (r17 —
      // the two-slot grammar forced the DSv2 source to decline all
      // filters on partitioned scans)
      c.query("SELECT k FROM t WHERE k >= 3 AND k < 9 AND g = 'even'")
        .rows.map(_.head.get) shouldBe Seq("4", "6", "8")
      // four conjunctions, mixing ops and columns
      c.query("SELECT k FROM t " +
          "WHERE k >= 1 AND k <= 10 AND n > 25 AND g = 'odd'")
        .rows.map(_.head.get) shouldBe Seq("3", "5", "7", "9")
      // the aggregate path takes the same N-conjunction WHERE
      c.query("SELECT count(*), sum(n) FROM t " +
          "WHERE k >= 2 AND k < 10 AND g = 'even'")
        .rows.map(_.map(_.get)) shouldBe Seq(Seq("4", "200"))
      // sum(BIGINT) outputs NUMERIC (like real PG): exact, never
      // wrapped — the DSv2 pushdown declares DecimalType(38,0) for it
      c.query(s"INSERT INTO t (k, g, n, big) VALUES " +
        s"(11, 'x', 0, ${Long.MaxValue})")
      c.query(s"INSERT INTO t (k, g, n, big) VALUES (12, 'x', 0, 1)")
      c.query("SELECT sum(big) FROM t WHERE g = 'x'")
        .rows.head.head.get shouldBe "9223372036854775808"
      // sum(INTEGER) outputs BIGINT and RANGE-CHECKS like real PG
      // (r18, ADVICE r17): an overflowing sum fails loudly with 22003
      // ("bigint out of range") — never a silently wrapped value. A
      // pushed overflow then errors in every Spark mode, matching the
      // ANSI default's throw; the r16-r17 mod-2^64 wrap mirrored
      // non-ANSI Spark, the mode sessions don't run. The engine
      // stores text and doesn't range-check int4, so oversized cells
      // stand in for the 2^33 rows a real overflow would need.
      c.query("CREATE TABLE ti (v INTEGER)")
      c.query(s"INSERT INTO ti (v) VALUES (${Long.MaxValue})")
      c.query("INSERT INTO ti (v) VALUES (1)")
      intercept[c.PgServerError](c.query("SELECT sum(v) FROM ti"))
        .code shouldBe "22003"
      // a fitting sum still answers exactly
      c.query("SELECT sum(v) FROM ti WHERE v = 1")
        .rows.head.head.get shouldBe "1"
      c.close()
    } finally server.stop()
  }

  it should "group by integer-division buckets: the equi-depth histogram probe" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE h (k BIGINT, t TEXT)")
      // a sparse, skewed keyspace: 1..6 dense, then a hollow gap, then
      // 1000..1001 — the shape even key-space splits mishandle
      Seq(1L, 2L, 3L, 4L, 5L, 6L, 1000L, 1001L).foreach(k =>
        c.query(s"INSERT INTO h (k, t) VALUES ($k, 'x')"))
      c.query("INSERT INTO h (k, t) VALUES (NULL, 'n')")
      // one round trip returns the whole bucket histogram: one row per
      // NON-EMPTY bucket; NULL keys group as the NULL bucket (SQL)
      val r = c.query("SELECT k / 10 AS b, count(*) AS n FROM h GROUP BY k / 10")
      r.columns shouldBe Seq("b", "n")
      r.rows.map(row => (row(0), row(1).get)).sortBy(_._1.getOrElse("")) shouldBe
        Seq((None, "1"), (Some("0"), "6"), (Some("100"), "2"))
      // the bucket expression composes with WHERE (the planner probes
      // UNDER the pushed filter) and with aggregate siblings
      c.query("SELECT k / 10 AS b, count(*) AS n, min(k) AS lo FROM h " +
          "WHERE k >= 2 AND k < 1001 GROUP BY k / 10")
        .rows.map(_.map(_.orNull)).sortBy(_.head) shouldBe
        Seq(Seq("0", "5", "2"), Seq("100", "1", "1000"))
      // PG semantics: truncation toward zero, zero divisor errors
      intercept[c.PgServerError](
        c.query("SELECT k / 0 AS b, count(*) FROM h GROUP BY k / 0"))
        .code shouldBe "22012"
      // division is an integer-key affair: TEXT columns refuse (42883),
      // and a select-list bucket must appear in GROUP BY (42803)
      intercept[c.PgServerError](
        c.query("SELECT t / 10 AS b, count(*) FROM h GROUP BY t / 10"))
        .code shouldBe "42883"
      intercept[c.PgServerError](
        c.query("SELECT k / 10 AS b, count(*) FROM h GROUP BY k / 7"))
        .code shouldBe "42803"
      c.close()
    } finally server.stop()
  }

  it should "order and aggregate float8 NaN/Infinity like PG and Spark (NaN greatest)" in {
    val (server, engine) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE t (d DOUBLE PRECISION)")
      Seq("'1.5'", "'NaN'", "'-Infinity'", "'Infinity'").foreach(v =>
        c.query(s"INSERT INTO t (d) VALUES ($v)"))
      // total order: -Infinity < finite < Infinity < NaN — PG's float8
      // order AND Spark's, so pushed top-n partials ship the right rows
      c.query("SELECT d FROM t ORDER BY d").rows.map(_.head.get) shouldBe
        Seq("-Infinity", "1.5", "Infinity", "NaN")
      c.query("SELECT d FROM t ORDER BY d DESC NULLS LAST LIMIT 1")
        .rows.map(_.head.get) shouldBe Seq("NaN")
      // float8 sums are IEEE double (BigDecimal has no NaN/Infinity):
      // NaN poisons the sum, exactly like PG and Spark
      c.query("SELECT sum(d), min(d), max(d) FROM t")
        .rows.map(_.map(_.get)) shouldBe
        Seq(Seq("NaN", "-Infinity", "NaN"))
      // Spark double semantics: -0.0 = 0.0 (a pushed EqualTo must not
      // drop the negative-zero row Spark would return)
      c.query("INSERT INTO t (d) VALUES ('-0.0')")
      c.query("SELECT d FROM t WHERE d = 0.0").rows.map(_.head.get) shouldBe
        Seq("-0.0")
      // describe agrees with execute on the aggregate surface
      engine.describe("SELECT count(*), sum(d) FROM t", null)
        .map(col => (col.name, col.pgType)) shouldBe
        Seq(("count", "BIGINT"), ("sum_d", "DOUBLE PRECISION"))
      c.close()
    } finally server.stop()
  }

  it should "compare timestamps by wall clock, not text bytes" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE t (ts TIMESTAMP)")
      // a hand-written literal has no fraction; a writer's canonical
      // Timestamp.toString always carries one — same instant, and a
      // pushed `=` must see them equal where raw bytes would not
      c.query("INSERT INTO t (ts) VALUES ('2026-02-01 12:30:05')")
      c.query("SELECT ts FROM t WHERE ts = '2026-02-01 12:30:05.0'")
        .rows.map(_.head.get) shouldBe Seq("2026-02-01 12:30:05")
      // mixed-format text still sorts chronologically
      c.query("INSERT INTO t (ts) VALUES ('2026-02-01 12:30:04.9')")
      c.query("SELECT ts FROM t ORDER BY ts").rows.map(_.head.get) shouldBe
        Seq("2026-02-01 12:30:04.9", "2026-02-01 12:30:05")
      c.close()
    } finally server.stop()
  }

  it should "order strings by UTF-8 bytes (Spark's order), not UTF-16 code units" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE t (s TEXT)")
      // U+10000 (supplementary plane, UTF-8 F0 90 80 80) vs U+FFFD
      // (UTF-8 EF BF BD): Java UTF-16 `<` says U+10000 first (D800 <
      // FFFD), Spark's UTF8String byte order says U+FFFD first — a
      // pushed min/top-n partial must use Spark's order or it ships
      // the wrong per-range winner
      c.query("INSERT INTO t (s) VALUES ('𐀀')")
      c.query("INSERT INTO t (s) VALUES ('�')")
      c.query("SELECT s FROM t ORDER BY s LIMIT 1")
        .rows.map(_.head.get) shouldBe Seq("�")
      c.query("SELECT min(s) AS lo, max(s) AS hi FROM t")
        .rows.map(_.map(_.get)) shouldBe
        Seq(Seq("�", "𐀀"))
      c.close()
    } finally server.stop()
  }

  it should "abort a COPY issued through query() with CopyFail and stay usable" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE cp (k TEXT)")
      // wrong entry point: must not desync the connection (r14 ADVICE)
      intercept[IllegalStateException](
        c.query("COPY cp (k) FROM STDIN")).getMessage should include("copyIn")
      // connection resynchronized: normal traffic still works
      c.query("INSERT INTO cp (k) VALUES ('ok')")
      c.query("SELECT k FROM cp").rows shouldBe Seq(Seq(Some("ok")))
      c.close()
    } finally server.stop()
  }

  it should "survive a non-COPY statement passed to copyIn (r15 ADVICE)" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE cp2 (k TEXT)")
      c.query("INSERT INTO cp2 (k) VALUES ('pre')")
      // the symmetric mistake: a SELECT through copyIn must resync to
      // ReadyForQuery before throwing, not leave 'T'/'D' frames queued
      intercept[IllegalStateException](
        c.copyIn("SELECT k FROM cp2", Seq(Seq(Some("x")))))
        .getMessage should include("not COPY")
      c.query("SELECT k FROM cp2").rows shouldBe Seq(Seq(Some("pre")))
      c.close()
    } finally server.stop()
  }

  behavior of "PgLite transactions (reference :110-121 transactional DDL, :138 single commit)"

  it should "publish everything on COMMIT, invisible to other connections until then" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    val c2 = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect(); c2.connect()
      c.query("CREATE TABLE acct (id SERIAL PRIMARY KEY, k TEXT UNIQUE)")
      c.query("INSERT INTO acct (k) VALUES ('base')")
      c.query("BEGIN").tags shouldBe Seq("BEGIN")
      c.txStatus shouldBe 'T'
      // the reference's whole insert loop, one commit (dag :125-138)
      c.query("INSERT INTO acct (k) VALUES ('tx1') RETURNING id")
        .rows.head.head shouldBe Some("2")
      c.copyIn("COPY acct (k) FROM STDIN",
        Seq(Seq(Some("tx2")), Seq(Some("tx3")))) shouldBe "COPY 2"
      // read-your-writes inside the transaction…
      c.query("SELECT k FROM acct ORDER BY k").rows.flatMap(_.head) shouldBe
        Seq("base", "tx1", "tx2", "tx3")
      // …but ISOLATED from a second connection until commit
      c2.query("SELECT k FROM acct ORDER BY k").rows.flatMap(_.head) shouldBe
        Seq("base")
      c.query("COMMIT").tags shouldBe Seq("COMMIT")
      c.txStatus shouldBe 'I'
      c2.query("SELECT k FROM acct ORDER BY k").rows.flatMap(_.head) shouldBe
        Seq("base", "tx1", "tx2", "tx3")
      c.close(); c2.close()
    } finally server.stop()
  }

  it should "leave nothing behind on ROLLBACK — rows and DDL, with a PG-faithful serial gap" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE r (id SERIAL PRIMARY KEY, k TEXT)")
      c.query("INSERT INTO r (k) VALUES ('keep')")
      c.query("BEGIN")
      c.query("INSERT INTO r (k) VALUES ('gone')")
      c.query("CREATE TABLE r2 (k TEXT)") // DDL is transactional (dag :110-121)
      c.query("INSERT INTO r2 (k) VALUES ('also gone')")
      c.query("ROLLBACK").tags shouldBe Seq("ROLLBACK")
      c.query("SELECT k FROM r").rows shouldBe Seq(Seq(Some("keep")))
      intercept[c.PgServerError](
        c.query("SELECT k FROM r2")).code shouldBe "42P01"
      // sequences are NON-transactional (real PG): the rolled-back
      // insert consumed id 2, so the next insert gets 3
      c.query("INSERT INTO r (k) VALUES ('next') RETURNING id")
        .rows.head.head shouldBe Some("3")
      c.close()
    } finally server.stop()
  }

  it should "answer 25P02 after an in-transaction error until ROLLBACK; COMMIT rolls back" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE u (k TEXT UNIQUE)")
      c.query("INSERT INTO u (k) VALUES ('dup')")
      c.query("BEGIN")
      c.query("INSERT INTO u (k) VALUES ('staged')")
      intercept[c.PgServerError](
        c.query("INSERT INTO u (k) VALUES ('dup')")).code shouldBe "23505"
      c.txStatus shouldBe 'E'
      // aborted: every statement (including COPY) answers 25P02
      intercept[c.PgServerError](
        c.query("SELECT k FROM u")).code shouldBe "25P02"
      intercept[c.PgServerError](
        c.copyIn("COPY u (k) FROM STDIN", Seq(Seq(Some("x")))))
        .code shouldBe "25P02"
      // COMMIT of an aborted transaction rolls back (PG tag semantics)
      c.query("COMMIT").tags shouldBe Seq("ROLLBACK")
      c.txStatus shouldBe 'I'
      c.query("SELECT k FROM u").rows shouldBe Seq(Seq(Some("dup")))
      c.close()
    } finally server.stop()
  }

  it should "append through INSERT … SELECT with live constraints and LIMIT scans" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE src (k TEXT, n INTEGER)")
      c.copyIn("COPY src (k, n) FROM STDIN",
        Seq(Seq(Some("a"), Some("2")), Seq(Some("b"), Some("1")),
          Seq(Some("c"), None))) shouldBe "COPY 3"
      c.query("CREATE TABLE dst (id SERIAL PRIMARY KEY, k TEXT UNIQUE, n INTEGER)")
      c.query("INSERT INTO dst (k, n) SELECT k, n FROM src")
        .tags shouldBe Seq("INSERT 0 3")
      // serials assigned on the way in; LIMIT caps the sorted scan
      c.query("SELECT id, k FROM dst ORDER BY k LIMIT 2").rows shouldBe
        Seq(Seq(Some("1"), Some("a")), Seq(Some("2"), Some("b")))
      // re-running the same append violates UNIQUE → all-or-nothing
      intercept[c.PgServerError](
        c.query("INSERT INTO dst (k, n) SELECT k, n FROM src"))
        .code shouldBe "23505"
      c.query("SELECT k FROM dst").tags shouldBe Seq("SELECT 3")
      c.close()
    } finally server.stop()
  }

  behavior of "extended protocol (Parse/Bind/Describe/Execute/Sync)"

  it should "bind text parameters server-side, with quoting and NULLs handled" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE px (id SERIAL PRIMARY KEY, k TEXT, v TEXT)")
      // RETURNING through the extended pipeline: Describe supplies the
      // RowDescription, Execute the row — psycopg2's prepared shape
      val r1 = c.execParams(
        "INSERT INTO px (k, v) VALUES ($1, $2) RETURNING id",
        Seq(Some("o'brien"), None))
      r1.columns shouldBe Seq("id")
      r1.rows shouldBe Seq(Seq(Some("1")))
      r1.tags shouldBe Seq("INSERT 0 1")
      val r2 = c.execParams("SELECT id, k, v FROM px ORDER BY id")
      r2.columns shouldBe Seq("id", "k", "v")
      r2.typeOids.head shouldBe 23
      r2.rows shouldBe Seq(Seq(Some("1"), Some("o'brien"), None))
      c.close()
    } finally server.stop()
  }

  it should "bind BINARY int4/int8/float8 parameters by their declared oids" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE pb (id SERIAL PRIMARY KEY, " +
        "i INTEGER, n BIGINT, d DOUBLE PRECISION)")
      // the shape a real driver sends by default for prepared numeric
      // params: Parse declares oids, Bind ships big-endian fixed-width
      // payloads with format code 1 (r17, VERDICT r16 task 5)
      val r1 = c.execParamsBinary(
        "INSERT INTO pb (i, n, d) VALUES ($1, $2, $3) RETURNING id",
        Seq((23, Some(-7)), (20, Some(Long.MaxValue)), (701, Some(1.5))))
      r1.rows shouldBe Seq(Seq(Some("1")))
      // a NULL binary parameter is the -1-length cell, like text
      c.execParamsBinary(
        "INSERT INTO pb (i, n, d) VALUES ($1, $2, $3) RETURNING id",
        Seq((23, None), (20, Some(0L)), (701, Some(-0.5))))
        .rows shouldBe Seq(Seq(Some("2")))
      c.query("SELECT id, i, n, d FROM pb ORDER BY id").rows shouldBe Seq(
        Seq(Some("1"), Some("-7"), Some(Long.MaxValue.toString), Some("1.5")),
        Seq(Some("2"), None, Some("0"), Some("-0.5")))
      // binary params compose with WHERE through the extended path
      c.execParamsBinary("SELECT id FROM pb WHERE n = $1",
        Seq((20, Some(Long.MaxValue)))).rows shouldBe Seq(Seq(Some("1")))
      // r18: every wire type binds binary through the published
      // per-type send formats (the JDBC-driver default for temporal
      // and numeric params too, not just the fixed-width trio)
      c.query("CREATE TABLE pw (m NUMERIC(12,2), dt DATE, " +
        "ts TIMESTAMP, b BOOLEAN, t TEXT)")
      c.execParamsBinary(
        "INSERT INTO pw (m, dt, ts, b, t) VALUES ($1, $2, $3, $4, $5)",
        Seq((1700, Some(new java.math.BigDecimal("-12345.67"))),
          (1082, Some(java.sql.Date.valueOf("2026-02-01"))),
          (1114, Some(java.sql.Timestamp.valueOf("2026-02-01 03:04:05.123456"))),
          (16, Some(true)), (25, Some("o'brien"))))
      c.query("SELECT m, dt, ts, b, t FROM pw").rows shouldBe Seq(
        Seq(Some("-12345.67"), Some("2026-02-01"),
          Some("2026-02-01 03:04:05.123456"), Some("true"), Some("o'brien")))
      // an UNKNOWN oid in binary format is refused loudly (0A000),
      // never mis-decoded; the pipeline recovers at Sync
      intercept[c.PgServerError](c.execExtended(
        "SELECT id FROM pb WHERE i = $1", Seq(600),
        Seq(Some("x".getBytes("UTF-8"))), Seq(1))).code shouldBe "0A000"
      // a wrong-width payload is a protocol error, not a mis-parse
      intercept[c.PgServerError](c.execExtended(
        "SELECT id FROM pb WHERE n = $1", Seq(20),
        Seq(Some(Array[Byte](1, 2, 3))), Seq(1))).code shouldBe "08P01"
      // the connection survived both refusals
      c.query("SELECT count(*) FROM pb").rows.head.head.get shouldBe "2"
      c.close()
    } finally server.stop()
  }

  it should "serve BINARY result formats for every wire type" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE pr (id SERIAL PRIMARY KEY, " +
        "i INTEGER, n BIGINT, d DOUBLE PRECISION, t TEXT, " +
        "b BOOLEAN, m NUMERIC(12,2), dt DATE, ts TIMESTAMP)")
      c.query("INSERT INTO pr (i, n, d, t, b, m, dt, ts) VALUES " +
        s"(-7, ${Long.MinValue}, -0.5, 'o''brien', 'true', " +
        "-12345.67, '2026-02-01', '2026-02-01 03:04:05.123456')")
      c.query("INSERT INTO pr (i, n, d, t, b, m, dt, ts) VALUES " +
        "(NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)")
      // Bind requests result format 1 (uniform) — the shape a real
      // driver's prepared path sends by default (r18, VERDICT r17
      // task 4): DataRow cells arrive as the PUBLISHED binary send
      // formats (big-endian ints, IEEE 754 bits, bool byte,
      // 2000-epoch day/micro counts, base-10000 numerics, text =
      // UTF-8 bytes — the same codecs the COPY BINARY surface pins)
      // and must decode back to exactly the text-format values, NULL
      // as the -1 cell
      val r = c.execParamsBinaryResults(
        "SELECT id, i, n, d, t, b, m, dt, ts FROM pr ORDER BY id")
      r.columns shouldBe Seq("id", "i", "n", "d", "t", "b", "m", "dt", "ts")
      r.typeOids shouldBe Seq(23, 23, 20, 701, 25, 16, 1700, 1082, 1114)
      r.rows shouldBe Seq(
        Seq(Some("1"), Some("-7"), Some(Long.MinValue.toString),
          Some("-0.5"), Some("o'brien"), Some("true"), Some("-12345.67"),
          Some("2026-02-01"), Some("2026-02-01 03:04:05.123456")),
        Seq(Some("2"), None, None, None, None, None, None, None, None))
      // the same row over the TEXT format must be cell-identical —
      // format invisibility, the property the whole feature rides on
      c.execParams("SELECT id, i, n, d, t, b, m, dt, ts FROM pr ORDER BY id")
        .rows shouldBe r.rows
      // binary results compose with binary params in one pipeline
      c.execParamsBinaryResults("SELECT n FROM pr WHERE id = $1",
        Seq((23, Some(1)))).rows shouldBe Seq(Seq(Some(Long.MinValue.toString)))
      // float8 specials survive the bit-level round trip
      c.query("INSERT INTO pr (i, n, d, t, b, m, dt, ts) VALUES " +
        "(0, 0, 'NaN', '', 'false', 0, '2026-01-01', '2026-01-01 00:00:00')")
      c.execParamsBinaryResults("SELECT d FROM pr WHERE id = 3")
        .rows shouldBe Seq(Seq(Some("NaN")))
      // per-column codes: binary where asked, text elsewhere
      c.execExtended("SELECT n, t FROM pr WHERE id = 1",
        Nil, Nil, Nil, resultFormats = Seq(1, 0))
        .rows shouldBe Seq(Seq(Some(Long.MinValue.toString), Some("o'brien")))
      // a result-format count that matches neither 0, 1, nor the
      // column count is a protocol error
      intercept[c.PgServerError](c.execExtended("SELECT n, t, i FROM pr",
        Nil, Nil, Nil, resultFormats = Seq(1, 0))).code shouldBe "08P01"
      // the connection survived the refusal
      c.query("SELECT count(*) FROM pr").rows.head.head.get shouldBe "3"
      c.close()
    } finally server.stop()
  }

  it should "refuse a Bind with more parameter format codes than parameters" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE bf (a INTEGER, b INTEGER)")
      // 3 codes for 2 parameters is neither 0, 1 nor one per parameter:
      // real PostgreSQL answers "bind message has 3 parameter formats
      // but 2 parameters" (08P01) instead of binding
      val two = Seq(Some("1".getBytes("UTF-8")), Some("2".getBytes("UTF-8")))
      intercept[c.PgServerError](c.execExtended(
        "INSERT INTO bf (a, b) VALUES ($1, $2)", Seq(0, 0), two,
        Seq(0, 0, 0))).code shouldBe "08P01"
      // nothing ran, and the connection still serves the same pipeline
      c.query("SELECT count(*) FROM bf").rows.head.head.get shouldBe "0"
      c.execExtended("INSERT INTO bf (a, b) VALUES ($1, $2)", Seq(0, 0), two,
        Seq(0, 0))
      c.query("SELECT a, b FROM bf").rows shouldBe Seq(Seq(Some("1"), Some("2")))
      c.close()
    } finally server.stop()
  }

  it should "bind and serve BYTEA in binary format (raw bytes on the wire)" in {
    // r19, ADVICE r18: the catalog supports BYTEA, so the binary
    // param/result maps must too — PG's binary bytea format is the
    // raw bytes; canonical text is the \x hex output form
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE by (id SERIAL PRIMARY KEY, p BYTEA)")
      // binary PARAMETER by declared oid 17
      c.execParamsBinary("INSERT INTO by (p) VALUES ($1) RETURNING id",
        Seq((17, Some("\\x00ff7f")))).rows shouldBe Seq(Seq(Some("1")))
      c.query("INSERT INTO by (p) VALUES (NULL)")
      // binary RESULT: raw bytes decode back to the same hex text
      val r = c.execParamsBinaryResults("SELECT id, p FROM by ORDER BY id")
      r.typeOids shouldBe Seq(23, 17)
      r.rows shouldBe Seq(
        Seq(Some("1"), Some("\\x00ff7f")),
        Seq(Some("2"), None))
      // text-format twin is cell-identical (format invisibility)
      c.execParams("SELECT id, p FROM by ORDER BY id").rows shouldBe r.rows
      c.close()
    } finally server.stop()
  }

  it should "suspend portals on Execute row limits and resume like a fetchSize cursor" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE fz (id SERIAL PRIMARY KEY, v TEXT)")
      (1 to 10).foreach(i => c.query(s"INSERT INTO fz (v) VALUES ('v$i')"))
      // TEXT cursor: 10 rows at fetchSize 3 → Execute(3) four times,
      // the first three answered PortalSuspended (r19, VERDICT r18
      // task 1: pre-r19 the int32 limit was discarded and the first
      // Execute streamed all 10 rows + CommandComplete)
      val (r, execs) = c.execFetch(
        "SELECT id, v FROM fz ORDER BY id", Nil, fetchSize = 3)
      r.rows.map(_.head.get) shouldBe (1 to 10).map(_.toString)
      r.rows.map(_(1).get) shouldBe (1 to 10).map(i => s"v$i")
      execs shouldBe 4
      r.tags shouldBe Seq("SELECT 10")
      // BINARY result formats ride the same cursor unchanged
      val (rb, execsB) = c.execFetch(
        "SELECT id, v FROM fz ORDER BY id", Nil, fetchSize = 4,
        resultFormats = Seq(1))
      rb.rows shouldBe r.rows
      execsB shouldBe 3
      // an exact-multiple drain completes on the boundary Execute —
      // no wasted extra round trip
      c.execFetch("SELECT id FROM fz ORDER BY id", Nil,
        fetchSize = 5)._2 shouldBe 2
      // fetchSize ≥ result: one Execute, no suspension
      c.execFetch("SELECT id FROM fz", Nil, fetchSize = 100)._2 shouldBe 1
      // parameters compose with the cursor loop
      c.execFetch("SELECT id FROM fz WHERE v = $1", Seq(Some("v7")),
        fetchSize = 2)._1.rows shouldBe Seq(Seq(Some("7")))
      // an error inside the loop surfaces and the pipeline recovers
      intercept[c.PgServerError](c.execFetch(
        "SELECT nope FROM fz", Nil, fetchSize = 2)).code shouldBe "42703"
      c.query("SELECT count(*) FROM fz").rows.head.head.get shouldBe "10"
      c.close()
    } finally server.stop()
  }

  it should "keep suspended portals alive across Sync inside a transaction only" in {
    // the JDBC autocommit-off cursor: setFetchSize sends Execute(n) +
    // SYNC per fetch and relies on the explicit transaction to keep
    // the portal alive; at transaction end (and at Sync outside one)
    // the portal — and its cursor — is destroyed, per the published
    // portal lifetime rules
    val (server, engine) = PgLiteServer.start()
    try {
      engine.execute("CREATE TABLE jz (id SERIAL PRIMARY KEY, v TEXT)")
      (1 to 10).foreach(i => engine.execute(s"INSERT INTO jz (v) VALUES ('v$i')"))
      val sock = new Socket("127.0.0.1", server.port)
      val out = new DataOutputStream(sock.getOutputStream)
      val in = new DataInputStream(sock.getInputStream)
      // handshake
      val body = "user".getBytes(UTF_8) ++ Array(0.toByte) ++
        "graft".getBytes(UTF_8) ++ Array(0.toByte, 0.toByte)
      out.writeInt(4 + 4 + body.length); out.writeInt(196608)
      out.write(body); out.flush()
      def readMsg(): (Char, Array[Byte]) = {
        val tpe = in.read().toChar
        val len = in.readInt()
        val b = new Array[Byte](len - 4)
        in.readFully(b)
        (tpe, b)
      }
      def drainToZ(): Seq[(Char, Array[Byte])] = {
        val seen = Seq.newBuilder[(Char, Array[Byte])]
        var done = false
        while (!done) {
          val m = readMsg()
          seen += m
          if (m._1 == 'Z') done = true
        }
        seen.result()
      }
      drainToZ()
      def msg(tpe: Char, b: Array[Byte]): Unit = {
        out.writeByte(tpe); out.writeInt(4 + b.length); out.write(b)
      }
      def cstr(s: String): Array[Byte] = s.getBytes(UTF_8) :+ 0.toByte
      def i16(v: Int): Array[Byte] =
        Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      def i32(v: Int): Array[Byte] =
        Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte,
          ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      def simpleQuery(sql: String): Unit = {
        msg('Q', cstr(sql)); out.flush(); drainToZ()
      }
      // one fetch = Execute("cur", n) + Sync, the JDBC shape; returns
      // (row count, terminal message type: 's' suspended / 'C'
      // complete / 'E' error)
      def fetch(n: Int): (Int, Char) = {
        msg('E', cstr("cur") ++ i32(n)); msg('S', Array.emptyByteArray)
        out.flush()
        val msgs = drainToZ()
        val rows = msgs.count(_._1 == 'D')
        val term = msgs.map(_._1).find(t => t == 's' || t == 'C' || t == 'E').get
        (rows, term)
      }
      simpleQuery("BEGIN")
      // Parse unnamed, Bind NAMED portal "cur", Sync — the portal is
      // created inside the open transaction
      msg('P', cstr("") ++ cstr("SELECT id FROM jz ORDER BY id") ++ i16(0))
      msg('B', cstr("cur") ++ cstr("") ++ i16(0) ++ i16(0) ++ i16(0))
      msg('S', Array.emptyByteArray)
      out.flush(); drainToZ()
      // three fetches of 4: the portal SURVIVES the Sync between them
      // because the explicit transaction is open
      fetch(4) shouldBe ((4, 's'))
      fetch(4) shouldBe ((4, 's'))
      fetch(4) shouldBe ((2, 'C'))
      // drained cursor: re-Execute answers the saved tag, no rows
      fetch(4) shouldBe ((0, 'C'))
      // COMMIT ends the transaction → portal destroyed
      simpleQuery("COMMIT")
      val (rowsAfter, termAfter) = fetch(4)
      rowsAfter shouldBe 0
      termAfter shouldBe 'E' // 34000: portal "cur" does not exist
      sock.close()
    } finally server.stop()
  }

  behavior of "CancelRequest (out-of-band statement cancellation)"

  it should "cancel a running statement from a second socket with SQLSTATE 57014" in {
    val (server, engine) = PgLiteServer.start()
    try {
      engine.execute("CREATE TABLE cx (k BIGINT)")
      engine.execute("INSERT INTO cx (k) VALUES (1)")
      val c = new PgLiteClient("127.0.0.1", server.port)
      c.connect()
      // a WRONG secret is silently ignored: the short sleep completes
      val (pid, secret) = c.backendKey
      val tShort = new Thread(() => c.query("SELECT pg_sleep(0.5)"))
      var shortErr: Throwable = null
      tShort.setUncaughtExceptionHandler((_, e) => shortErr = e)
      tShort.start()
      Thread.sleep(100)
      c.cancelRequest(pid, secret ^ 1)
      tShort.join(10000)
      shortErr shouldBe null
      // the REAL key cancels a long statement mid-flight, promptly
      @volatile var caught: Throwable = null
      val t0 = System.nanoTime()
      val tLong = new Thread(() => c.query("SELECT pg_sleep(30)"))
      tLong.setUncaughtExceptionHandler((_, e) => caught = e)
      tLong.start()
      Thread.sleep(200)
      c.cancelRequest()
      tLong.join(10000)
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      caught should not be null
      caught shouldBe a[c.PgServerError]
      caught.asInstanceOf[c.PgServerError].code shouldBe "57014"
      elapsedMs should be < 8000L // cancelled, not ran to completion
      // the session connection survived the cancellation
      c.query("SELECT count(*) FROM cx").rows.head.head.get shouldBe "1"
      // inside a transaction, a cancelled statement ABORTS it (25P02
      // until rollback) — an error like any other, per PG
      c.query("BEGIN")
      @volatile var txErr: Throwable = null
      val tTx = new Thread(() => c.query("SELECT pg_sleep(30)"))
      tTx.setUncaughtExceptionHandler((_, e) => txErr = e)
      tTx.start()
      Thread.sleep(200)
      c.cancelRequest()
      tTx.join(10000)
      txErr.asInstanceOf[c.PgServerError].code shouldBe "57014"
      intercept[c.PgServerError](
        c.query("SELECT count(*) FROM cx")).code shouldBe "25P02"
      c.query("ROLLBACK")
      c.query("SELECT count(*) FROM cx").rows.head.head.get shouldBe "1"
      c.close()
    } finally server.stop()
  }

  it should "recover from an extended-pipeline error at Sync and stay usable" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE pe (k TEXT UNIQUE)")
      c.execParams("INSERT INTO pe (k) VALUES ($1)", Seq(Some("a")))
      // duplicate key through the extended path: ErrorResponse, then
      // everything until Sync is skipped, then ReadyForQuery
      intercept[c.PgServerError](
        c.execParams("INSERT INTO pe (k) VALUES ($1)", Seq(Some("a"))))
        .code shouldBe "23505"
      // the connection resynchronized: both protocols still work
      c.execParams("SELECT k FROM pe").rows shouldBe Seq(Seq(Some("a")))
      c.query("SELECT k FROM pe").rows shouldBe Seq(Seq(Some("a")))
      // an unknown statement name fails with the documented SQLSTATE
      // (the client always binds the unnamed statement, so provoke it
      // by binding before any parse on a FRESH connection)
      val c2 = new PgLiteClient("127.0.0.1", server.port)
      c2.connect()
      intercept[c2.PgServerError](
        c2.execParams("SELECT k FROM nope_table")).code shouldBe "42P01"
      c2.close()
      c.close()
    } finally server.stop()
  }

  it should "run the extended pipeline inside transactions with 25P02 abort semantics" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE TABLE pt (k TEXT UNIQUE)")
      c.query("BEGIN")
      c.execParams("INSERT INTO pt (k) VALUES ($1)", Seq(Some("staged")))
      intercept[c.PgServerError](
        c.execParams("INSERT INTO pt (k) VALUES ($1)", Seq(Some("staged"))))
        .code shouldBe "23505"
      c.txStatus shouldBe 'E'
      intercept[c.PgServerError](
        c.execParams("SELECT k FROM pt")).code shouldBe "25P02"
      c.query("ROLLBACK")
      c.execParams("SELECT k FROM pt").rows shouldBe Seq()
      c.close()
    } finally server.stop()
  }

  behavior of "exactly-once staged COPY (VERDICT r15 task 2)"

  it should "replay a succeeded partition's COPY and still read back exactly one copy" in {
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE SCHEMA silver")
      c.query("CREATE TABLE silver.t (k TEXT)")
      val rows = Seq(Seq(Some("r1")), Seq(Some("r2")))
      val run = "aaaa01" // this job's run id
      // attempt 0 SUCCEEDS…
      def stageAttempt(a: Int): String = {
        val st = graft.io.pg.PgWire.stageName("t", run, 0, a)
        c.query(s"DROP TABLE IF EXISTS silver.$st")
        c.query(s"CREATE TABLE IF NOT EXISTS silver.$st (k TEXT)")
        c.copyIn(s"COPY silver.$st (k) FROM STDIN", rows) shouldBe "COPY 2"
        st
      }
      stageAttempt(0)
      // …and a SPECULATIVE duplicate of the same partition also runs to
      // success as attempt 1 — the scenario that double-loads the naive
      // per-partition COPY
      val winner = stageAttempt(1)
      // meanwhile a CONCURRENT writer to the same target has a LIVE
      // stage under a different run id — the r16 unscoped publish
      // sweep dropped it and killed that job (ADVICE r16)
      val other = graft.io.pg.PgWire.stageName("t", "bbbb02", 0, 0)
      c.query(s"CREATE TABLE silver.$other (k TEXT)")
      c.copyIn(s"COPY silver.$other (k) FROM STDIN", rows)
      // the driver publishes ONE winner (Spark's task-commit keeps one
      // result per partition) and sweeps THIS RUN's attempts, in one tx
      graft.io.pg.PgWire.publishStages(c, "silver.t", "k", "silver", "t",
        run, Seq((winner, 2L)))
      // exactly one copy of the partition, and no stage residue of
      // this run — loser and winner both gone
      c.query("SELECT k FROM silver.t ORDER BY k").rows.flatMap(_.head) shouldBe
        Seq("r1", "r2")
      intercept[c.PgServerError](
        c.query(s"SELECT k FROM silver.$winner")).code shouldBe "42P01"
      intercept[c.PgServerError](c.query(
        s"SELECT k FROM silver.${graft.io.pg.PgWire.stageName("t", run, 0, 0)}"))
        .code shouldBe "42P01"
      // the concurrent writer's live stage SURVIVED the publish
      c.query(s"SELECT k FROM silver.$other").rows.length shouldBe 2
      c.close()
    } finally server.stop()
  }

  it should "publish a DataFrame exactly once through copyDistributedExactlyOnce" in {
    import spark.implicits._
    val (server, _) = PgLiteServer.start()
    val c = new PgLiteClient("127.0.0.1", server.port)
    try {
      c.connect()
      c.query("CREATE SCHEMA silver")
      c.query("CREATE TABLE silver.d (k TEXT, n INTEGER)")
      val df = (1 to 100).map(i => (s"k$i", i)).toDF("k", "n")
      val total = graft.io.pg.PgWire.copyDistributedExactlyOnce(
        df, "127.0.0.1", server.port, "silver.d", numPartitions = 4)
      total shouldBe 100L
      val back = c.query("SELECT k, n FROM silver.d")
      back.rows.length shouldBe 100
      back.rows.map(_.head.get).distinct.length shouldBe 100
      c.close()
    } finally server.stop()
  }
}
