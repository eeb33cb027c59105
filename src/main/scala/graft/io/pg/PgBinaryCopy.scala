package graft.io.pg

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime}
import java.time.temporal.ChronoUnit

import scala.collection.mutable

/** PostgreSQL COPY BINARY codec — the published on-wire binary format
  * (`COPY … WITH (FORMAT BINARY)`): an 11-byte signature
  * `PGCOPY\n\377\r\n\0`, a 32-bit flags field, a 32-bit header-
  * extension length, then per tuple a 16-bit field count followed by
  * (32-bit byte length | -1 for NULL, raw field bytes) per field, and
  * a -1 field-count trailer. Field encodings are the types' binary
  * send/recv formats (network byte order throughout).
  *
  * This engine stores values as canonical TEXT
  * ([[PgLiteEngine.Table.rows]]), so the codec converts between that
  * text form and the binary field layout. The invariant both ends are
  * specced against: `decodeField(t, encodeField(t, text)) == text` for
  * every canonical text this repo's writers emit ([[PgWire.encode]]),
  * so a table loaded through binary COPY reads back byte-identical to
  * its text-COPY twin (`ref_pg_copy_binary`'s oracle).
  *
  * Supported (the full [[graft.io.Sinks.pgType]] surface):
  * TEXT/VARCHAR/CHAR, INTEGER, BIGINT, DOUBLE PRECISION, BOOLEAN,
  * DATE, TIMESTAMP, NUMERIC, and BYTEA (r19, ADVICE r18 — binary
  * bytea is the raw bytes; the canonical text form is PG's `\x…` hex
  * output). Anything else raises 0A000 rather than guessing a layout.
  *
  * Reference: the PostgreSQL documentation "COPY … Binary Format" and
  * the public send/recv formats (timestamp: microseconds since
  * 2000-01-01; date: days since 2000-01-01; numeric: base-10000 digit
  * groups with weight/sign/dscale). Reference repo context: the DAG's
  * psycopg2 leg (dags/dag_etl_minio_to_postgres.py:125-148) uses text
  * INSERTs; binary COPY is the bulk posture a production loader uses.
  */
object PgBinaryCopy {
  import PgLiteEngine.PgError

  /** `PGCOPY\n\377\r\n\0` */
  val Signature: Array[Byte] =
    Array('P', 'G', 'C', 'O', 'P', 'Y', '\n', 0xff.toByte, '\r', '\n', 0x00)
      .map(_.toByte)

  private val PgEpochDate = LocalDate.of(2000, 1, 1)
  private val PgEpochTs = LocalDateTime.of(2000, 1, 1, 0, 0, 0)

  /** Normalize a DDL type (`NUMERIC(12,2)` → `NUMERIC`) the same way
    * [[PgLiteEngine.oidOf]] does. */
  private def norm(pgType: String): String =
    pgType.toUpperCase.takeWhile(c => c.isLetter || c == ' ').trim

  // ---- per-field codecs ----------------------------------------------------

  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be64(v: Long): Array[Byte] =
    Array((v >>> 56).toByte, ((v >> 48) & 0xff).toByte,
      ((v >> 40) & 0xff).toByte, ((v >> 32) & 0xff).toByte,
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  /** Big-endian int16 (unsigned; `.toShort` gives the signed view) and
    * int32 readers — the wire's network byte order, shared by both
    * protocol ends. */
  private[pg] def int16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
  private[pg] def int32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
  private def rd64(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 56) | ((b(off + 1) & 0xffL) << 48) |
      ((b(off + 2) & 0xffL) << 40) | ((b(off + 3) & 0xffL) << 32) |
      ((b(off + 4) & 0xffL) << 24) | ((b(off + 5) & 0xffL) << 16) |
      ((b(off + 6) & 0xffL) << 8) | (b(off + 7) & 0xffL)

  /** One NON-NULL field: canonical text → binary send format. */
  def encodeField(pgType: String, text: String): Array[Byte] = norm(pgType) match {
    case "TEXT" | "VARCHAR" | "CHAR" => text.getBytes(UTF_8)
    case "INTEGER" | "INT" | "SERIAL" => be32(text.trim.toInt)
    case "BIGINT" => be64(text.trim.toLong)
    case "DOUBLE PRECISION" =>
      be64(java.lang.Double.doubleToLongBits(text.trim.toDouble))
    case "BOOLEAN" => text.trim.toLowerCase match {
      case "true" | "t" | "1" => Array(1.toByte)
      case "false" | "f" | "0" => Array(0.toByte)
      case other => throw PgError("22P02", s"bad boolean: $other")
    }
    case "DATE" =>
      be32(ChronoUnit.DAYS.between(PgEpochDate, LocalDate.parse(text.trim)).toInt)
    case "TIMESTAMP" =>
      // wall-clock (no zone), exactly Timestamp.valueOf's text form —
      // micros since 2000-01-01 00:00:00, TZ-independent both ways
      val ldt = java.sql.Timestamp.valueOf(text.trim).toLocalDateTime
      be64(ChronoUnit.MICROS.between(PgEpochTs, ldt))
    case "NUMERIC" | "DECIMAL" => encodeNumeric(text.trim)
    // canonical text is PG's hex output format `\xDEADBEEF`; binary
    // send format is simply the raw bytes
    case "BYTEA" => unhex(text.trim)
    case other =>
      throw PgError("0A000", s"no binary format for type $other")
  }

  /** One NON-NULL field: binary send format → canonical text. */
  def decodeField(pgType: String, b: Array[Byte]): String = norm(pgType) match {
    case "TEXT" | "VARCHAR" | "CHAR" => new String(b, UTF_8)
    case "INTEGER" | "INT" | "SERIAL" =>
      expect(b, 4, "int4"); int32(b, 0).toString
    case "BIGINT" => expect(b, 8, "int8"); rd64(b, 0).toString
    case "DOUBLE PRECISION" =>
      expect(b, 8, "float8")
      java.lang.Double.longBitsToDouble(rd64(b, 0)).toString
    case "BOOLEAN" =>
      expect(b, 1, "bool"); if (b(0) != 0) "true" else "false"
    case "DATE" =>
      expect(b, 4, "date")
      PgEpochDate.plusDays(int32(b, 0).toLong).toString
    case "TIMESTAMP" =>
      expect(b, 8, "timestamp")
      java.sql.Timestamp.valueOf(
        PgEpochTs.plus(rd64(b, 0), ChronoUnit.MICROS)).toString
    case "NUMERIC" | "DECIMAL" => decodeNumeric(b)
    case "BYTEA" => hex(b)
    case other =>
      throw PgError("0A000", s"no binary format for type $other")
  }

  /** Bytes → PG's canonical bytea text, the hex format `\x0aff`. */
  def hex(b: Array[Byte]): String = {
    val sb = new StringBuilder("\\x")
    b.foreach(x => sb.append(Character.forDigit((x >> 4) & 0xf, 16))
      .append(Character.forDigit(x & 0xf, 16)))
    sb.toString
  }

  /** Inverse of [[hex]]; anything but `\x` + hex digit pairs is 22P02. */
  def unhex(t: String): Array[Byte] = {
    if (!t.startsWith("\\x") || (t.length % 2) != 0 ||
        !t.drop(2).forall(c => Character.digit(c, 16) >= 0))
      throw PgError("22P02", s"bad bytea hex literal: ${t.take(40)}")
    t.drop(2).grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
  }

  private def expect(b: Array[Byte], n: Int, what: String): Unit =
    if (b.length != n)
      throw PgError("22P03", s"bad $what length ${b.length}, expected $n")

  // ---- numeric (base-10000 digit groups) ------------------------------------

  private val SignPos = 0x0000
  private val SignNeg = 0x4000
  private val SignNaN = 0xc000

  /** `ndigits int16, weight int16, sign int16, dscale int16,
    * digits int16[ndigits]` — digit i contributes
    * `digit * 10000^(weight - i)`. */
  private[pg] def encodeNumeric(text: String): Array[Byte] = {
    if (text.equalsIgnoreCase("NaN"))
      return be16(0) ++ be16(0) ++ be16(SignNaN) ++ be16(0)
    val bd =
      try new JBigDecimal(text)
      catch { case _: NumberFormatException =>
        throw PgError("22P02", s"bad numeric: $text") }
    val dscale = math.max(bd.scale, 0)
    val neg = bd.signum < 0
    val abs = bd.abs.stripTrailingZeros
    if (abs.signum == 0)
      return be16(0) ++ be16(0) ++ be16(if (neg) SignNeg else SignPos) ++ be16(dscale)
    val plain = abs.toPlainString
    val dot = plain.indexOf('.')
    val intPart = if (dot < 0) plain else plain.substring(0, dot)
    val fracPart = if (dot < 0) "" else plain.substring(dot + 1)
    // left-pad the integer part, right-pad the fraction to 4-aligned
    val intPad = "0" * ((4 - intPart.length % 4) % 4) + intPart
    val fracPad = fracPart + "0" * ((4 - fracPart.length % 4) % 4)
    var groups = (intPad ++ fracPad).grouped(4).map(_.toInt).toVector
    var weight = intPad.length / 4 - 1
    while (groups.nonEmpty && groups.head == 0) { // value < 1
      groups = groups.tail; weight -= 1
    }
    while (groups.nonEmpty && groups.last == 0) groups = groups.dropRight(1)
    val out = mutable.ArrayBuilder.make[Byte]
    out ++= be16(groups.length); out ++= be16(weight)
    out ++= be16(if (neg) SignNeg else SignPos); out ++= be16(dscale)
    groups.foreach(g => out ++= be16(g))
    out.result()
  }

  /** Inverse of [[encodeNumeric]]: plain decimal string with exactly
    * `dscale` fraction digits (the display scale PG carries). */
  private[pg] def decodeNumeric(b: Array[Byte]): String = {
    if (b.length < 8) throw PgError("22P03", s"bad numeric length ${b.length}")
    val ndigits = int16(b, 0).toShort
    val weight = int16(b, 2).toShort
    val sign = int16(b, 4)
    val dscale = int16(b, 6).toShort
    if (sign == SignNaN) return "NaN"
    if (sign != SignPos && sign != SignNeg)
      throw PgError("22P03", f"bad numeric sign 0x$sign%04x")
    if (b.length != 8 + 2 * ndigits)
      throw PgError("22P03", s"numeric length ${b.length} != ${8 + 2 * ndigits}")
    var acc = JBigDecimal.ZERO
    (0 until ndigits).foreach { i =>
      val d = int16(b, 8 + 2 * i).toShort
      if (d < 0 || d > 9999) throw PgError("22P03", s"bad numeric digit $d")
      // digit * 10000^(weight-i) == digit scaled by -4*(weight-i)
      acc = acc.add(JBigDecimal.valueOf(d.toLong, -4 * (weight - i)))
    }
    val scaled =
      try acc.setScale(dscale, RoundingMode.UNNECESSARY)
      catch { case _: ArithmeticException =>
        throw PgError("22P03", s"numeric value needs more than dscale=$dscale") }
    val s = scaled.toPlainString
    if (sign == SignNeg && scaled.signum != 0) "-" + s
    else if (sign == SignNeg) { // negative zero keeps its sign in text? PG prints -0 as 0
      s
    } else s
  }

  // ---- stream framing --------------------------------------------------------

  /** Header: signature + flags 0 + no extension. */
  def header(): Array[Byte] = Signature ++ be32(0) ++ be32(0)

  /** One tuple: int16 field count, then (len, bytes | -1) per field. */
  def encodeTuple(types: Seq[String], row: Seq[Option[String]]): Array[Byte] = {
    require(row.length == types.length,
      s"row has ${row.length} fields, expected ${types.length}")
    val out = mutable.ArrayBuilder.make[Byte]
    out ++= be16(row.length)
    types.zip(row).foreach {
      case (_, None) => out ++= be32(-1)
      case (t, Some(v)) =>
        val b = encodeField(t, v)
        out ++= be32(b.length); out ++= b
    }
    out.result()
  }

  /** `-1` field-count trailer. */
  def trailer(): Array[Byte] = be16(-1 & 0xffff)

  /** Decode a COMPLETE binary COPY stream (all CopyData payloads
    * concatenated) into text rows (null = SQL NULL). Verifies the
    * signature, skips the header extension, demands the trailer, and
    * rejects truncation/garbage loudly — a malformed stream must abort
    * the COPY, never load half a table. */
  def decodeStream(bytes: Array[Byte], types: Seq[String]): Seq[Seq[String]] = {
    if (bytes.length < Signature.length + 8 ||
        !bytes.take(Signature.length).sameElements(Signature))
      throw PgError("22P04", "COPY binary signature not recognized")
    var off = Signature.length
    off += 4 // flags: no critical bits defined beyond OIDs flag; ignore
    val extLen = int32(bytes, off); off += 4
    // Long arithmetic: a hostile length near Int.MaxValue overflows
    // `off + extLen` negative and would slip past an Int comparison
    if (extLen < 0 || off.toLong + extLen > bytes.length)
      throw PgError("22P04", s"bad header extension length $extLen")
    off += extLen
    val rows = mutable.ArrayBuffer[Seq[String]]()
    var done = false
    while (!done) {
      if (off + 2 > bytes.length)
        throw PgError("22P04", "unexpected end of COPY binary data (no trailer)")
      val nf = int16(bytes, off).toShort; off += 2
      if (nf == -1) done = true
      else {
        if (nf != types.length)
          throw PgError("22P04",
            s"tuple has $nf fields, table copy list has ${types.length}")
        val row = new Array[String](nf)
        (0 until nf).foreach { i =>
          if (off + 4 > bytes.length)
            throw PgError("22P04", "truncated field header")
          val len = int32(bytes, off); off += 4
          if (len == -1) row(i) = null
          else {
            if (len < 0 || off.toLong + len > bytes.length)
              throw PgError("22P04", s"bad field length $len")
            row(i) = decodeField(types(i),
              java.util.Arrays.copyOfRange(bytes, off, off + len))
            off += len
          }
        }
        rows += row.toSeq
      }
    }
    if (off != bytes.length)
      throw PgError("22P04", s"${bytes.length - off} trailing bytes after COPY trailer")
    rows.toSeq
  }
}
