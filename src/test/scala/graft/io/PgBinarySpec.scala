package graft.io

import java.sql.{Date, Timestamp}

import graft.SparkSpec
import graft.io.pg.{PgBinaryCopy, PgLiteClient, PgLiteEngine, PgLiteServer, PgWire}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** COPY BINARY: the codec against the PUBLISHED field layouts (golden
  * bytes, base-10000 numeric algebra), then text/binary format PARITY
  * end-to-end — the same hostile frame loaded through both formats
  * must read back value-identical — plus the format-mismatch and
  * malformed-stream failure paths. */
class PgBinarySpec extends SparkSpec {

  behavior of "PgBinaryCopy field codecs"

  private def rt(tpe: String, text: String): String =
    PgBinaryCopy.decodeField(tpe, PgBinaryCopy.encodeField(tpe, text))

  it should "round-trip every supported type's canonical text" in {
    rt("BIGINT", "9223372036854775807") shouldBe "9223372036854775807"
    rt("BIGINT", "-42") shouldBe "-42"
    rt("INTEGER", "2147483647") shouldBe "2147483647"
    rt("SERIAL", "7") shouldBe "7"
    rt("TEXT", "tab\there\nand\\slash") shouldBe "tab\there\nand\\slash"
    rt("TEXT", "") shouldBe "" // empty string is NOT null in binary either
    rt("VARCHAR(32)", "naïve ünïcode 日本") shouldBe "naïve ünïcode 日本"
    rt("DOUBLE PRECISION", "1.25") shouldBe "1.25"
    rt("DOUBLE PRECISION", (0.1 + 0.2).toString) shouldBe (0.1 + 0.2).toString
    rt("BOOLEAN", "true") shouldBe "true"
    rt("BOOLEAN", "false") shouldBe "false"
    rt("DATE", "2026-01-15") shouldBe "2026-01-15"
    rt("DATE", "1969-07-20") shouldBe "1969-07-20" // pre-2000: negative days
    rt("TIMESTAMP", "2026-01-15 12:34:56.123456") shouldBe
      "2026-01-15 12:34:56.123456"
    rt("TIMESTAMP", "1999-12-31 23:59:59.0") shouldBe "1999-12-31 23:59:59.0"
    // bytea (r19, ADVICE r18): text form is PG's \x hex output, binary
    // form the raw bytes — the trivial passthrough
    rt("BYTEA", "\\x00ff7f10") shouldBe "\\x00ff7f10"
    rt("BYTEA", "\\x") shouldBe "\\x" // empty byte string
    PgBinaryCopy.encodeField("BYTEA", "\\x0001ff") shouldBe
      Array[Byte](0, 1, 0xff.toByte)
    PgBinaryCopy.decodeField("BYTEA", Array[Byte](0xde.toByte, 0xad.toByte)) shouldBe
      "\\xdead"
    // a malformed hex literal is a typed error, never a wrong payload
    intercept[graft.io.pg.PgLiteEngine.PgError](
      PgBinaryCopy.encodeField("BYTEA", "nothex")).code shouldBe "22P02"
    intercept[graft.io.pg.PgLiteEngine.PgError](
      PgBinaryCopy.encodeField("BYTEA", "\\x0g")).code shouldBe "22P02"
  }

  it should "pin the published binary layouts byte-for-byte" in {
    // int8 42 → 8 bytes big-endian
    PgBinaryCopy.encodeField("BIGINT", "42") shouldBe
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 42)
    // bool
    PgBinaryCopy.encodeField("BOOLEAN", "true") shouldBe Array[Byte](1)
    // date 2000-01-02 → 1 day since the PG epoch
    PgBinaryCopy.encodeField("DATE", "2000-01-02") shouldBe
      Array[Byte](0, 0, 0, 1)
    // timestamp 2000-01-01 00:00:01 → 1 000 000 µs since the PG epoch
    PgBinaryCopy.encodeField("TIMESTAMP", "2000-01-01 00:00:01.0") shouldBe
      Array[Byte](0, 0, 0, 0, 0, 0x0f, 0x42, 0x40)
    // numeric 12.30: ndigits=2 weight=0 sign=+ dscale=2 digits=[12, 3000]
    PgBinaryCopy.encodeField("NUMERIC(12,2)", "12.30") shouldBe
      Array[Byte](0, 2, 0, 0, 0, 0, 0, 2, 0, 12, 0x0b, 0xb8.toByte)
    // header: PGCOPY\n\377\r\n\0 + flags 0 + extension 0
    PgBinaryCopy.header().take(11) shouldBe
      "PGCOPY\n\u00ff\r\n\u0000".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    PgBinaryCopy.trailer() shouldBe Array[Byte](0xff.toByte, 0xff.toByte)
  }

  it should "round-trip numerics across scales, signs, and NaN" in {
    Seq("0", "0.00", "1", "-1", "12.30", "-0.5000", "0.0001", "9999",
      "10000", "12345678.9012", "-123456789.0001", "99999999.9999",
      "0.00010000", "NaN").foreach { s =>
      withClue(s"numeric $s: ") { rt("NUMERIC(20,8)", s) shouldBe s }
    }
    // digit-group boundaries: 10000 = [1] at weight 1
    PgBinaryCopy.encodeField("NUMERIC(8,0)", "10000") shouldBe
      Array[Byte](0, 1, 0, 1, 0, 0, 0, 0, 0, 1)
  }

  it should "reject malformed binary streams loudly" in {
    val types = Seq("BIGINT")
    def err(bytes: Array[Byte]): String =
      intercept[PgLiteEngine.PgError](
        PgBinaryCopy.decodeStream(bytes, types)).code
    err("not a pgcopy stream at all".getBytes) shouldBe "22P04"
    // valid header, no trailer
    err(PgBinaryCopy.header()) shouldBe "22P04"
    // tuple with the wrong field count
    val badCount = PgBinaryCopy.header() ++
      PgBinaryCopy.encodeTuple(Seq("BIGINT", "BIGINT"),
        Seq(Some("1"), Some("2"))) ++ PgBinaryCopy.trailer()
    err(badCount) shouldBe "22P04"
    // truncated field payload
    val good = PgBinaryCopy.header() ++
      PgBinaryCopy.encodeTuple(types, Seq(Some("7"))) ++ PgBinaryCopy.trailer()
    err(good.dropRight(5)) shouldBe "22P04"
    // trailing garbage after the trailer
    err(good ++ Array[Byte](0)) shouldBe "22P04"
    // hostile lengths near Int.MaxValue: `off + len` overflows Int
    // negative and would slip past a non-widened bounds check — both
    // the header-extension and field-length reads must stay 22P04,
    // not ArrayIndexOutOfBounds
    val hugeExt = PgBinaryCopy.header()
    val extOff = hugeExt.length - 4 // last 4 bytes = extension length
    Array[Byte](0x7f, -1, -1, -16).copyToArray(hugeExt, extOff)
    err(hugeExt) shouldBe "22P04"
    val hugeField = PgBinaryCopy.header() ++
      Array[Byte](0, 1) ++ // one field
      Array[Byte](0x7f, -1, -1, -16) // length 0x7ffffff0
    err(hugeField) shouldBe "22P04"
    // intact stream decodes
    PgBinaryCopy.decodeStream(good, types) shouldBe Seq(Seq("7"))
  }

  behavior of "COPY BINARY over the wire"

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("s", StringType),
    StructField("d", DoubleType),
    StructField("n", DecimalType(12, 2)),
    StructField("b", BooleanType),
    StructField("ts", TimestampType),
    StructField("dt", DateType)))

  private def hostileDf = {
    val data: Seq[Row] = (0 until 97).map { i =>
      Row(
        i.toLong,
        i % 7 match {
          case 0 => null
          case 1 => s"tab\there $i"
          case 2 => s"line\nbreak $i"
          case 3 => s"back\\slash $i"
          case 4 => "" // empty string is NOT null
          case _ => s"plain $i"
        },
        if (i % 5 == 0) null else i * 1.25,
        if (i % 6 == 0) null else new java.math.BigDecimal(s"$i.75"),
        if (i % 4 == 0) null else Boolean.box(i % 2 == 0),
        if (i % 8 == 0) null else new Timestamp(1700000000000L + i * 1000L),
        if (i % 9 == 0) null else Date.valueOf("2026-01-15"))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 5), schema)
  }

  it should "land a table value-identical to its text-format twin" in {
    val df = hostileDf
    val (server, _) = PgLiteServer.start()
    try {
      val c = new PgLiteClient("127.0.0.1", server.port)
      c.connect()
      try {
        c.query(Sinks.createSchemaDdl("fmt"))
        c.query(Sinks.createTableDdl(schema, "fmt", "via_text"))
        c.query(Sinks.createTableDdl(schema, "fmt", "via_bin"))
        PgWire.copyDistributed(df, "127.0.0.1", server.port,
          "fmt.via_text", numPartitions = 4)
        PgWire.copyDistributed(df, "127.0.0.1", server.port,
          "fmt.via_bin", numPartitions = 4, format = PgLiteEngine.FmtBinary)
        val sel = s"SELECT ${schema.fieldNames.mkString(", ")} FROM fmt"
        val t = c.query(s"$sel.via_text").rows.sortBy(_.head.get.toLong)
        val b = c.query(s"$sel.via_bin").rows.sortBy(_.head.get.toLong)
        b should have size 97
        b shouldBe t // every cell byte-identical, nulls included
      } finally c.close()
    } finally server.stop()
  }

  it should "refuse mismatched client framing and survive it" in {
    val (server, _) = PgLiteServer.start()
    try {
      val c = new PgLiteClient("127.0.0.1", server.port)
      c.connect()
      try {
        c.query("CREATE SCHEMA s")
        c.query("CREATE TABLE s.t (k BIGINT)")
        // text framing into a BINARY statement
        intercept[IllegalStateException] {
          c.copyIn("COPY s.t (k) FROM STDIN BINARY", Seq(Seq(Some("1"))))
        }.getMessage should include("format mismatch")
        // binary framing into a text statement
        intercept[IllegalStateException] {
          c.copyIn("COPY s.t (k) FROM STDIN",
            Iterator(Seq(Some("1"))), PgLiteEngine.FmtBinary, Seq("BIGINT"))
        }.getMessage should include("format mismatch")
        // the connection survived both aborts; a correct COPY lands
        c.copyIn("COPY s.t (k) FROM STDIN WITH (FORMAT BINARY)",
          Iterator(Seq(Some("5")), Seq(None)), PgLiteEngine.FmtBinary,
          Seq("BIGINT")) shouldBe "COPY 2"
        c.query("SELECT k FROM s.t ORDER BY k").rows shouldBe
          Seq(Seq(Some("5")), Seq(None))
      } finally c.close()
    } finally server.stop()
  }

  it should "round-trip randomized typed payloads through the binary wire, both directions" in {
    // deterministic randomized property (the PgLiteSpec text-fuzz
    // idiom): 300 rows across the whole supported type vocabulary —
    // hostile text, double extremes, random-scale numerics,
    // micro-precision timestamps, pre/post-2000 dates, NULLs — must
    // survive COPY FROM STDIN BINARY + COPY TO STDOUT BINARY
    // byte-identically in their canonical text forms
    val rng = new scala.util.Random(20260816)
    val atoms = Array("a", "tab\t", "nl\n", "cr\r", "bs\\", "q'", "dq\"",
      "\\N", "é漢🙂", "", " ", "end\\")
    def opt[A](f: => A): Option[String] =
      if (rng.nextInt(8) == 0) None else Some(f.toString)
    val doubles = Array(0.0, -0.0, 1e308, -1e-308, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity, 0.1 + 0.2)
    def numeric(): String = {
      val scale = rng.nextInt(9)
      val unscaled = BigInt(rng.nextLong() % 1000000000000L)
      val bd = new java.math.BigDecimal(unscaled.bigInteger, scale)
      if (bd.signum == 0 && unscaled.signum < 0)
        bd.abs.toPlainString // negative zero has no canonical text form
      else bd.toPlainString
    }
    def ts(): String = {
      val ldt = java.time.LocalDateTime.of(
        1900 + rng.nextInt(200), 1 + rng.nextInt(12), 1 + rng.nextInt(28),
        rng.nextInt(24), rng.nextInt(60), rng.nextInt(60),
        rng.nextInt(1000000) * 1000)
      java.sql.Timestamp.valueOf(ldt).toString
    }
    def date(): String = java.time.LocalDate
      .of(1900 + rng.nextInt(200), 1 + rng.nextInt(12), 1 + rng.nextInt(28))
      .toString
    val types = Seq("BIGINT", "TEXT", "DOUBLE PRECISION",
      "NUMERIC(20,8)", "BOOLEAN", "TIMESTAMP", "DATE")
    val rows: Seq[Seq[Option[String]]] = (0 until 300).map { i =>
      Seq(
        Some(i.toString), // unique key keeps the read-back sortable
        opt((0 until rng.nextInt(5))
          .map(_ => atoms(rng.nextInt(atoms.length))).mkString),
        opt(doubles(rng.nextInt(doubles.length))),
        opt(numeric()),
        opt(rng.nextBoolean()),
        opt(ts()),
        opt(date()))
    }
    val (server, engine) = PgLiteServer.start()
    try {
      engine.execute("CREATE TABLE bfuzz (k BIGINT, v TEXT, " +
        "d DOUBLE PRECISION, n NUMERIC(20,8), b BOOLEAN, ts TIMESTAMP, dt DATE)")
      val c = new PgLiteClient("127.0.0.1", server.port)
      c.connect()
      try {
        c.copyIn("COPY bfuzz (k, v, d, n, b, ts, dt) FROM STDIN BINARY",
          rows.iterator, PgLiteEngine.FmtBinary, types) shouldBe "COPY 300"
        val back = c.copyOut(
          "COPY bfuzz (k, v, d, n, b, ts, dt) TO STDOUT BINARY",
          PgLiteEngine.FmtBinary, types)
          .sortBy(_.head.get.toLong)
        back shouldBe rows
      } finally c.close()
    } finally server.stop()
  }

  behavior of "COPY CSV format"

  it should "draw the NULL vs empty-string line by quoting" in {
    import graft.io.pg.PgCsvCopy
    // output: NULL unquoted-empty, empty string quoted, hostile quoted
    PgCsvCopy.encodeRow(Seq(None, Some(""), Some("a,b"), Some("q\"x"),
      Some("line\nbreak"), Some("plain"))) shouldBe
      "," + "\"\"" + ",\"a,b\",\"q\"\"x\",\"line\nbreak\",plain"
    // decode inverts exactly, including the quote-aware row framing
    PgCsvCopy.decodeRows(
      ",\"\",\"a,b\",\"q\"\"x\",\"line\nbreak\",plain\n") shouldBe
      Seq(Seq(null, "", "a,b", "q\"x", "line\nbreak", "plain"))
    // an unterminated quote is a loud 22P04, never half a table
    intercept[PgLiteEngine.PgError](
      PgCsvCopy.decodeRows("\"open")).code shouldBe "22P04"
  }

  it should "round-trip hostile payloads through CSV COPY both directions" in {
    val rng = new scala.util.Random(816)
    val atoms = Array("a", "comma,", "q\"", "nl\n", "cr\r", "", " ",
      "é漢🙂", "\"\"", ",,")
    def field(): Option[String] =
      if (rng.nextInt(8) == 0) None
      else Some((0 until rng.nextInt(5))
        .map(_ => atoms(rng.nextInt(atoms.length))).mkString)
    val rows: Seq[Seq[Option[String]]] =
      (0 until 200).map(i => Seq(Some(i.toString), field()))
    val (server, engine) = PgLiteServer.start()
    try {
      engine.execute("CREATE TABLE cfuzz (k BIGINT, v TEXT)")
      val c = new PgLiteClient("127.0.0.1", server.port)
      c.connect()
      try {
        c.copyIn("COPY cfuzz (k, v) FROM STDIN WITH (FORMAT CSV)",
          rows.iterator, PgLiteEngine.FmtCsv) shouldBe "COPY 200"
        // CSV export ≡ what went in (NULL vs "" preserved)
        val back = c.copyOut("COPY cfuzz (k, v) TO STDOUT WITH (FORMAT CSV)",
          PgLiteEngine.FmtCsv)
          .sortBy(_.head.get.toLong)
        back shouldBe rows
        // and the TEXT export of the same table agrees cell-for-cell
        val viaText = c.copyOut("COPY cfuzz (k, v) TO STDOUT")
          .sortBy(_.head.get.toLong)
        viaText shouldBe rows
      } finally c.close()
    } finally server.stop()
  }

  behavior of "COPY format matrix"

  it should "read back identically for every copy-in × copy-out format pair" in {
    import PgLiteEngine.{FmtBinary, FmtCsv, FmtText}
    val formats = Seq(FmtText, FmtCsv, FmtBinary)
    val cols = "k, t, n, d, b, dt, ts, m, y"
    val types = Seq("INTEGER", "TEXT", "BIGINT", "DOUBLE PRECISION", "BOOLEAN",
      "DATE", "TIMESTAMP", "NUMERIC(12,2)", "BYTEA")
    // every wire type; text cells hold each format's special characters
    val texts = Seq(None, Some(""), Some("tab\there"), Some("line\nbreak"),
      Some("a,b"), Some("q\"x"), Some("back\\slash"), Some("\\N"))
    val rows: Seq[Seq[Option[String]]] = texts.zipWithIndex.map { case (t, k) =>
      def o(v: String): Option[String] = if (k % 3 == 2) None else Some(v)
      Seq(Some(k.toString), t, o((k * 1000000000000L - 5).toString),
        o((k - 3.5).toString), o((k % 2 == 0).toString), o(s"20${10 + k}-0${1 + k}-15"),
        o(s"1999-12-31 23:59:${10 + k}.123456"), o(s"${k * 100 - 250}.${k}5"),
        o(f"\\x00ff$k%02x"))
    }
    val (server, engine) = PgLiteServer.start()
    try {
      val c = new PgLiteClient("127.0.0.1", server.port)
      c.connect()
      try {
        formats.foreach { in =>
          engine.execute(s"CREATE TABLE x_$in (k INTEGER, t TEXT, n BIGINT, " +
            "d DOUBLE PRECISION, b BOOLEAN, dt DATE, ts TIMESTAMP, " +
            "m NUMERIC(12,2), y BYTEA)")
          c.copyIn(s"COPY x_$in ($cols) FROM STDIN${in.clause}",
            rows, in, types) shouldBe s"COPY ${rows.length}"
          formats.foreach { out =>
            withClue(s"in $in, out $out: ") {
              c.copyOut(s"COPY x_$in ($cols) TO STDOUT${out.clause}", out, types)
                .sortBy(_.head.get.toInt) shouldBe rows
            }
          }
        }
      } finally c.close()
    } finally server.stop()
  }

  behavior of "COPY TO STDOUT"

  it should "export text and binary streams identical to the loaded rows" in {
    val df = hostileDf
    val types = schema.fields.map(f => Sinks.pgType(f.dataType)).toSeq
    val (server, _) = PgLiteServer.start()
    try {
      val c = new PgLiteClient("127.0.0.1", server.port)
      c.connect()
      try {
        c.query(Sinks.createSchemaDdl("ex"))
        c.query(Sinks.createTableDdl(schema, "ex", "t"))
        PgWire.copyDistributed(df, "127.0.0.1", server.port,
          "ex.t", numPartitions = 4, format = PgLiteEngine.FmtBinary)
        val cols = schema.fieldNames.mkString(", ")
        val viaSelect = c.query(s"SELECT $cols FROM ex.t").rows
          .sortBy(_.head.get.toLong)
        val viaText = c.copyOut(s"COPY ex.t ($cols) TO STDOUT")
          .sortBy(_.head.get.toLong)
        val viaBin = c.copyOut(
          s"COPY ex.t ($cols) TO STDOUT WITH (FORMAT BINARY)",
          PgLiteEngine.FmtBinary, types)
          .sortBy(_.head.get.toLong)
        viaText should have size 97
        viaText shouldBe viaSelect // text export ≡ wire SELECT, nulls included
        viaBin shouldBe viaSelect  // binary export too
        // the connection stays usable after both exports
        c.query("SELECT k FROM ex.t ORDER BY k LIMIT 1")
          .rows shouldBe Seq(Seq(Some("0")))
      } finally c.close()
    } finally server.stop()
  }

  it should "survive wrong-API and wrong-format COPY OUT calls" in {
    val (server, engine) = PgLiteServer.start()
    try {
      engine.execute("CREATE SCHEMA s")
      engine.execute("CREATE TABLE s.t (k BIGINT)")
      engine.execute("INSERT INTO s.t (k) VALUES (9)")
      val c = new PgLiteClient("127.0.0.1", server.port)
      c.connect()
      try {
        // COPY OUT through plain query(): drained, thrown, survivable
        intercept[IllegalStateException] {
          c.query("COPY s.t (k) TO STDOUT")
        }.getMessage should include("use copyOut()")
        // text copyOut against a binary statement: drained + thrown
        intercept[IllegalStateException] {
          c.copyOut("COPY s.t (k) TO STDOUT BINARY")
        }.getMessage should include("format mismatch")
        // copyOut on a SELECT: resynced + thrown
        intercept[IllegalStateException] {
          c.copyOut("SELECT k FROM s.t")
        }
        // copyOut on a COPY FROM STDIN: CopyFail + thrown
        intercept[IllegalStateException] {
          c.copyOut("COPY s.t (k) FROM STDIN")
        }.getMessage should include("use copyIn()")
        // after all four mistakes, the connection still serves
        c.copyOut("COPY s.t (k) TO STDOUT") shouldBe Seq(Seq(Some("9")))
      } finally c.close()
    } finally server.stop()
  }

  it should "abort all-or-nothing on a malformed stream and keep the table" in {
    val (server, engine) = PgLiteServer.start()
    try {
      engine.execute("CREATE SCHEMA s")
      engine.execute("CREATE TABLE s.t (k BIGINT)")
      val c = new PgLiteClient("127.0.0.1", server.port)
      c.connect()
      try {
        c.copyIn("COPY s.t (k) FROM STDIN BINARY",
          Iterator(Seq(Some("1"))), PgLiteEngine.FmtBinary,
          Seq("BIGINT")) shouldBe "COPY 1"
        // a producer failure mid-binary-stream aborts via CopyFail
        val dying = new Iterator[Seq[Option[String]]] {
          private var sent = false
          def hasNext = true
          def next(): Seq[Option[String]] =
            if (!sent) { sent = true; Seq(Some("2")) }
            else throw new RuntimeException("producer died")
        }
        val boom = intercept[RuntimeException] {
          c.copyIn("COPY s.t (k) FROM STDIN BINARY", dying,
            PgLiteEngine.FmtBinary, Seq("BIGINT"))
        }
        boom.getMessage should include("producer died")
        // nothing from the failed COPY landed; the connection survived
        c.query("SELECT k FROM s.t").rows shouldBe Seq(Seq(Some("1")))
      } finally c.close()
    } finally server.stop()
  }
}
