package graft.io.pg

import java.io.{BufferedOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import PgBinaryCopy.{int16, int32}
import PgLiteEngine.CopyFormat

/** PostgreSQL frontend (wire v3) — the client half of the
  * [[PgLiteServer]] pair. A REAL `org.postgresql`
  * driver would be the stronger witness, but the offline image ships
  * no PostgreSQL JDBC jar and `build.sbt` may not grow dependencies —
  * so the protocol is exercised from both ends against the PUBLISHED
  * message layouts instead (PgLiteSpec additionally pins golden
  * handshake bytes so the pair can't drift into a private dialect).
  *
  * Speaks: optional SSLRequest (expects 'N'), StartupMessage, the
  * simple query 'Q' (buffered [[query]] or streaming [[queryStream]]),
  * the extended protocol P/B/D/E/S with text or binary parameters and
  * result columns ([[execParams]] and its variants), the fetch cursor
  * Execute(n)/Flush ([[execFetch]]), COPY FROM STDIN (pushed into
  * [[copyInSink]], or pulled from an iterator by [[copyIn]]) and TO
  * STDOUT ([[copyOut]]) in the text, CSV and binary formats with
  * d/c/f, CancelRequest, and 'X' terminate. Reads:
  * R/S/K/Z/T/D/C/E/I/N/G/H/d/c plus the extended 1/2/3/n/t/s.
  */
final class PgLiteClient(host: String, port: Int,
                         user: String = "graft", database: String = "graft") {

  final case class PgServerError(code: String, message: String)
      extends RuntimeException(s"$code: $message")
  final case class QueryResult(columns: Seq[String], typeOids: Seq[Int],
                               rows: Seq[Seq[Option[String]]], tags: Seq[String],
                               typeMods: Seq[Int] = Nil)

  private val sock = new Socket(host, port)
  // disable Nagle (r19): strict request/response framing — without it
  // every Query/Bind round trip stalls ~40-90 ms in the kernel's
  // small-packet coalescing against the peer's delayed ACK (libpq sets
  // TCP_NODELAY on its sockets for the same reason)
  sock.setTcpNoDelay(true)
  // byte-counting tap under the message reader: [[bytesRead]] lets a
  // spec PROVE the streaming read path is incremental (after pulling
  // one row of a large result, only ~one frame's bytes have left the
  // socket) instead of trusting the iterator shape
  @volatile private var inBytes = 0L
  private val in = new DataInputStream(
    new java.io.FilterInputStream(sock.getInputStream) {
      override def read(): Int = {
        val b = super.read(); if (b >= 0) inBytes += 1; b
      }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = super.read(b, off, len); if (n > 0) inBytes += n; n
      }
    })
  private[io] def bytesRead: Long = inBytes
  // buffered: flushed where the client waits for the server (Query,
  // Sync, Flush, CopyDone, CopyFail, Terminate, the startup packets)
  private val out = new DataOutputStream(
    new BufferedOutputStream(sock.getOutputStream, 1 << 16))

  /** Full connection handshake; `negotiateSsl` first sends an
    * SSLRequest and requires the documented single-byte 'N' refusal. */
  def connect(negotiateSsl: Boolean = false): Unit = {
    if (negotiateSsl) {
      out.writeInt(8); out.writeInt(80877103); out.flush()
      val resp = in.read()
      require(resp == 'N', s"expected SSL refusal 'N', got $resp")
    }
    val params = Seq("user" -> user, "database" -> database)
    val body = params.flatMap { case (k, v) =>
      k.getBytes(UTF_8).toSeq ++ Seq(0.toByte) ++
        v.getBytes(UTF_8).toSeq ++ Seq(0.toByte)
    } :+ 0.toByte
    out.writeInt(4 + 4 + body.length)
    out.writeInt(196608)
    out.write(body.toArray)
    out.flush()
    // drain until ReadyForQuery; demand AuthenticationOk on the way
    var authOk = false
    var ready = false
    while (!ready) {
      val (tpe, payload) = readMessage()
      tpe match {
        case 'R' =>
          require(payload.length == 4 && int32(payload, 0) == 0,
            "expected AuthenticationOk")
          authOk = true
        case 'K' => // BackendKeyData: the session's live cancel key
          backendPid = int32(payload, 0)
          backendSecret = int32(payload, 4)
        case 'S' | 'N' => ()
        case 'Z' => ready = true
        case 'E' => throw parseError(payload)
        case other => throw new IllegalStateException(s"startup: unexpected '$other'")
      }
    }
    require(authOk, "server never sent AuthenticationOk")
  }

  @volatile private var backendPid = 0
  @volatile private var backendSecret = 0

  /** This session's BackendKeyData as received at startup. */
  def backendKey: (Int, Int) = (backendPid, backendSecret)

  /** Out-of-band CancelRequest (r19): the published flow — a FRESH
    * socket carrying code 80877102 plus this session's BackendKeyData
    * (pid, secret), then closed without a reply. Best-effort like real
    * PG: it lands only if the target session has a statement in
    * flight, which then fails with SQLSTATE 57014 on the session's own
    * connection. */
  def cancelRequest(): Unit = cancelRequest(backendPid, backendSecret)

  /** [[cancelRequest]] with an explicit key — lets a spec prove a
    * wrong secret is ignored. */
  def cancelRequest(pid: Int, secret: Int): Unit = {
    val s = new Socket(host, port)
    try {
      val o = new DataOutputStream(s.getOutputStream)
      o.writeInt(16); o.writeInt(80877102)
      o.writeInt(pid); o.writeInt(secret)
      o.flush()
    } finally s.close()
  }

  /** Simple-query round trip. Multiple result sets merge their rows;
    * every CommandComplete tag is collected in order. */
  def query(sql: String): QueryResult = {
    sendCString('Q', sql)
    collect(new RowStream("query()"))._1
  }

  /** STREAMING simple-query: DataRow frames are read off the socket
    * ONE MESSAGE PER PULL — the posture a real driver's fetchSize
    * cursor has — so however large the result, the client holds one
    * row at a time (VERDICT r16 task 2: the buffered [[query]] gave a
    * distributed wire scan per-task memory ∝ its key range; this is
    * the read twin of [[copyIn]]'s constant-memory batches). The
    * connection is DEDICATED to the stream until exhaustion (the
    * terminating ReadyForQuery is consumed by the last hasNext);
    * abandoning a stream mid-way requires [[close]] — the socket
    * teardown is the resync. A server error mid-stream resyncs to
    * ReadyForQuery and throws from hasNext; rows already delivered
    * stand, exactly like a real cursor. Statement surface: row-set
    * statements only (COPY responses abort like [[query]]). */
  def queryStream(sql: String): RowStream = {
    sendCString('Q', sql)
    new RowStream("queryStream()")
  }

  /** Drain a response into a [[QueryResult]], with the number of
    * Execute round trips it took. */
  private def collect(s: RowStream): (QueryResult, Int) = {
    val rows = s.toVector
    (QueryResult(s.columns, s.typeOids, rows, s.tags.toSeq, s.typeMods), s.executes)
  }

  /** Lazy row iterator over one in-flight response, simple or
    * extended — see [[queryStream]]. `columns`/`typeOids` are
    * populated once the RowDescription arrives (the constructor pumps
    * until the first row, the terminal ReadyForQuery, or an error — so
    * an up-front failure like 42P01 throws at [[queryStream]], not
    * mid-scan). Cells of a column `resultFormats` requests binary
    * decode back to canonical text by the RowDescription oid. An
    * extended fetch cursor passes `resume` (re-Execute on
    * PortalSuspended) and `settle` (Sync once CommandComplete or an
    * error ends the portal). */
  final class RowStream private[PgLiteClient] (
      api: String, resultFormats: Seq[Int] = Nil,
      resume: () => Unit = () => (), settle: () => Unit = () => ())
      extends Iterator[Seq[Option[String]]] {
    var columns: Seq[String] = Nil
    var typeOids: Seq[Int] = Nil
    private[PgLiteClient] var typeMods: Seq[Int] = Nil
    private[PgLiteClient] val tags = mutable.ArrayBuffer[String]()
    private[PgLiteClient] var executes = 1
    private var formats = IndexedSeq.empty[Int]
    private var nextRow: Seq[Option[String]] = null
    private var done = false
    private var err: PgServerError = null
    pump()

    /** Advance message by message until a row is buffered or the
      * statement terminates — never more than one row in memory. */
    private def pump(): Unit = {
      while (nextRow == null && !done) {
        val (tpe, payload) = readMessage()
        tpe match {
          case 'T' =>
            val (cs, os, ms) = parseRowDescription(payload)
            columns = cs; typeOids = os; typeMods = ms
            formats = PgLiteEngine.formatCodes(resultFormats, cs.length, "result column")
          case 'D' => nextRow = parseDataRow(payload)
          case 'C' => tags += cString(payload); settle()
          case 'E' => err = parseError(payload); settle()
          case 's' => executes += 1; resume() // PortalSuspended
          case 'I' | 'N' | 'S' | '1' | '2' | '3' | 'n' | 't' => ()
          case 'Z' =>
            done = true
            if (err != null) throw err
          case 'G' =>
            // CopyInResponse: abort the COPY cleanly and resynchronize
            // to ReadyForQuery, so the connection survives the mistake
            done = true
            abortCopy("COPY FROM STDIN requires copyIn()")
            throw new IllegalStateException(
              s"$api: statement is COPY ... FROM STDIN — use copyIn()")
          case 'H' =>
            // CopyOutResponse: the server streams the whole export then
            // ReadyForQuery regardless — drain and throw
            done = true
            drainToReady()
            throw new IllegalStateException(
              s"$api: statement is COPY ... TO STDOUT — use copyOut()")
          case other =>
            throw new IllegalStateException(s"$api: unexpected '$other'")
        }
      }
    }

    /** One DataRow payload → cells (None = SQL NULL). */
    private def parseDataRow(payload: Array[Byte]): Seq[Option[String]] = {
      val n = int16(payload, 0)
      var off = 2
      val r = mutable.ArrayBuffer[Option[String]]()
      (0 until n).foreach { i =>
        val len = int32(payload, off); off += 4
        if (len < 0) r += None
        else {
          r += Some(
            if (formats(i) == 0) new String(payload, off, len, UTF_8)
            else decodeBinResult(typeOids(i), payload, off, len))
          off += len
        }
      }
      r.toSeq
    }

    override def hasNext: Boolean = { pump(); nextRow != null }
    override def next(): Seq[Option[String]] = {
      if (!hasNext) throw new NoSuchElementException("row stream exhausted")
      val r = nextRow; nextRow = null; r
    }
  }

  /** RowDescription → (names, type oids, typmods). Field layout per
    * the docs: name\0, table oid int32, attnum int16, type oid int32,
    * typlen int16, typmod int32, format int16. */
  private def parseRowDescription(
      payload: Array[Byte]): (Seq[String], Seq[Int], Seq[Int]) = {
    val n = int16(payload, 0)
    var off = 2
    val cs = mutable.ArrayBuffer[String]()
    val os = mutable.ArrayBuffer[Int]()
    val ms = mutable.ArrayBuffer[Int]()
    (0 until n).foreach { _ =>
      val end = payload.indexOf(0, off)
      cs += new String(payload, off, end - off, UTF_8)
      os += int32(payload, end + 1 + 4 + 2)
      ms += int32(payload, end + 1 + 4 + 2 + 4 + 2)
      off = end + 1 + 4 + 2 + 4 + 2 + 4 + 2
    }
    (cs.toSeq, os.toSeq, ms.toSeq)
  }

  /** EXTENDED-protocol round trip (Parse → Bind → Describe → Execute →
    * Sync) with TEXT-format parameters bound server-side into $1..$n —
    * the surface a real driver's server-side-prepared path exercises.
    * Uses the unnamed statement and portal; the row shape arrives from
    * Describe (RowDescription or NoData), rows from Execute.
    * `resultFormats` are explicit per-column result format codes (0
    * text, 1 binary — zero codes = all text, one = uniform, else one
    * per column, the published Bind rule): the mixed-format shape a
    * real driver sends for a row of fixed-width AND varlena columns.
    * Binary cells decode back to canonical text transparently. */
  def execParams(sql: String, params: Seq[Option[String]] = Nil,
                 resultFormats: Seq[Int] = Seq.empty): QueryResult =
    execExtended(sql, paramOids = Seq.fill(params.length)(0),
      payloads = params.map(_.map(_.getBytes(UTF_8))),
      formats = Seq.empty, // zero format codes = all text, per the docs
      resultFormats = resultFormats)

  /** [[execParams]] with TYPED BINARY parameters — what a real driver
    * sends by default for prepared int8/float8/int4 values: Parse
    * declares the parameter type OIDs, Bind carries per-parameter
    * format code 1 and the published fixed-width big-endian payloads.
    * `params` = (type oid, value): 23 int4, 20 int8, 701 float8. */
  def execParamsBinary(sql: String,
                       params: Seq[(Int, Option[Any])]): QueryResult =
    execExtended(sql, paramOids = params.map(_._1),
      payloads = params.map { case (oid, v) => v.map(encodeBinParam(oid, _)) },
      formats = Seq.fill(params.length)(1))

  /** [[execParamsBinary]] additionally requesting BINARY RESULT
    * format for every column (Bind result-format code 1 — what a real
    * driver's prepared path requests by default, r18): DataRow cells
    * arrive as the published per-type binary send formats and decode
    * back to canonical text by the RowDescription oids, so
    * [[QueryResult]] is format-invisible for every wire type. */
  def execParamsBinaryResults(sql: String,
                              params: Seq[(Int, Option[Any])] = Nil): QueryResult =
    execExtended(sql, paramOids = params.map(_._1),
      payloads = params.map { case (oid, v) => v.map(encodeBinParam(oid, _)) },
      formats = Seq.fill(params.length)(1), resultFormats = Seq(1))

  /** CURSOR-style extended-protocol fetch loop (r19, VERDICT r18 task
    * 1) — the wire flow a JDBC driver's `setFetchSize(n)` runs: Parse/
    * Bind/Describe once, then `Execute(maxRows=n)` + Flush repeatedly,
    * resuming each time the server answers PortalSuspended ('s'),
    * until CommandComplete; Sync closes the pipeline. Works on the
    * implicit transaction because Sync is withheld until the cursor
    * drains (libpq's portal-suspend pattern); the JDBC autocommit-off
    * variant — Sync BETWEEN fetches inside BEGIN…COMMIT — is specced
    * separately against the server's portal lifetime rules.
    * Returns the full result plus the number of Execute round trips
    * (ceil(rows/fetchSize) when the row count is a multiple boundary —
    * the observable proof the server suspended instead of streaming
    * everything on the first Execute). */
  def execFetch(sql: String, params: Seq[Option[String]] = Nil,
                fetchSize: Int = 0,
                resultFormats: Seq[Int] = Seq.empty): (QueryResult, Int) = {
    require(fetchSize > 0, "execFetch requires a positive fetchSize")
    extended(sql, Seq.fill(params.length)(0),
      params.map(_.map(_.getBytes(UTF_8))), Seq.empty, resultFormats, fetchSize)
  }

  /** Binary RESULT cells back to canonical text, by the
    * RowDescription oid — the published per-type binary send formats,
    * decoded through the same codecs the COPY BINARY surface uses
    * ([[PgBinaryCopy.decodeField]], spec-pinned against the published
    * layouts), so every wire type round-trips format-invisibly. */
  private def decodeBinResult(oid: Int, b: Array[Byte],
                              off: Int, len: Int): String = {
    val pgType = PgLiteEngine.typeOfOid(oid).getOrElse(
      throw new IllegalStateException(
        s"server sent a binary result for undecodable oid $oid"))
    PgBinaryCopy.decodeField(pgType,
      java.util.Arrays.copyOfRange(b, off, off + len))
  }

  /** Published binary send formats, every wire type (r18) — the same
    * per-type codecs the COPY BINARY surface pins. */
  private def encodeBinParam(oid: Int, v: Any): Array[Byte] = {
    val pgType = PgLiteEngine.typeOfOid(oid).getOrElse(
      throw new IllegalArgumentException(
        s"no binary parameter encoding for oid $oid"))
    PgBinaryCopy.encodeField(pgType, v.toString)
  }

  /** Shared extended-protocol pipeline; `formats` is the Bind
    * parameter-format-code array (empty = all text, one = uniform,
    * else per-parameter), `resultFormats` the result-column format
    * codes (same zero/one/per-column rule; binary cells decode back
    * to canonical text by the RowDescription oids). private[io] so
    * specs can craft hostile shapes (e.g. a binary format code on an
    * unsupported oid). */
  private[io] def execExtended(sql: String, paramOids: Seq[Int],
                               payloads: Seq[Option[Array[Byte]]],
                               formats: Seq[Int],
                               resultFormats: Seq[Int] = Seq.empty): QueryResult =
    extended(sql, paramOids, payloads, formats, resultFormats, fetchSize = 0)._1

  /** The one extended pipeline: Parse (unnamed statement, declared
    * param type oids, 0 = untyped), Bind (unnamed portal), Describe,
    * then Execute with a row limit of `fetchSize` (0 = all). An
    * unlimited Execute is followed by Sync; a limited one by Flush,
    * re-Executed on each PortalSuspended, with Sync withheld until
    * CommandComplete or an error. */
  private def extended(sql: String, paramOids: Seq[Int],
                       payloads: Seq[Option[Array[Byte]]], formats: Seq[Int],
                       resultFormats: Seq[Int], fetchSize: Int): (QueryResult, Int) = {
    val bb = new java.io.ByteArrayOutputStream()
    val body = new DataOutputStream(bb)
    def msg(tpe: Char): Unit = { send(tpe, bb.toByteArray); bb.reset() }
    body.write(0); body.write(sql.getBytes(UTF_8)); body.write(0)
    body.writeShort(paramOids.length); paramOids.foreach(body.writeInt)
    msg('P')
    body.write(0); body.write(0)
    body.writeShort(formats.length); formats.foreach(body.writeShort)
    body.writeShort(payloads.length)
    payloads.foreach {
      case None => body.writeInt(-1)
      case Some(b) => body.writeInt(b.length); body.write(b)
    }
    body.writeShort(resultFormats.length); resultFormats.foreach(body.writeShort)
    msg('B')
    send('D', Array[Byte]('P'.toByte, 0))
    def execute(): Unit = {
      body.write(0); body.writeInt(fetchSize)
      msg('E')
      send(if (fetchSize > 0) 'H' else 'S', Array.emptyByteArray)
      out.flush()
    }
    var synced = fetchSize == 0
    def sync(): Unit = if (!synced) {
      synced = true
      send('S', Array.emptyByteArray); out.flush()
    }
    execute()
    collect(new RowStream("extended query", resultFormats, () => execute(), () => sync()))
  }

  /** COPY … FROM STDIN round trip in `format` ([[PgLiteEngine.CopyFormat]])
    * over an iterator: [[copyInSink]] fed row by row, failed with
    * CopyFail if the iterator (the row PRODUCER) throws. Returns the
    * CommandComplete tag ("COPY n"). */
  def copyIn(sql: String, rows: IterableOnce[Seq[Option[String]]],
             format: CopyFormat = PgLiteEngine.FmtText,
             types: Seq[String] = Nil, batchRows: Int = 1024): String = {
    val sink = copyInSink(sql, format, types, batchRows)
    sink.guard(rows.iterator.foreach(sink.add))
    sink.finish()
  }

  /** Open a COPY … FROM STDIN in `format` that rows are PUSHED into —
    * the one copy-in path: send the statement, expect CopyInResponse
    * with the format's wire byte, send the format's header frame, then
    * one CopyData frame per `batchRows` added rows (never more than one
    * batch buffered, so arbitrarily large partitions stream through
    * constant memory); [[CopySink.finish]] sends the trailer and
    * CopyDone and returns the tag. `types` gives the DDL type per
    * copied column, which binary fields are encoded by. The statement
    * carries the format clause; CSV and text share wire byte 0, so
    * matching the clause is the CALLER's contract, as with a real
    * PostgreSQL. Every format lands value-identical tables from the
    * same canonical text rows (`ref_pg_copy_binary`,
    * `ref_pg_copy_csv`). */
  def copyInSink(sql: String, format: CopyFormat = PgLiteEngine.FmtText,
                 types: Seq[String] = Nil, batchRows: Int = 1024): CopySink = {
    startCopy(sql, format)
    val sink = new CopySink(format, types, batchRows)
    sink.guard(format.header.foreach(send('d', _)))
    sink
  }

  /** One open COPY FROM STDIN ([[copyInSink]]). */
  final class CopySink private[PgLiteClient] (format: CopyFormat,
                                              types: Seq[String], batchRows: Int) {
    private val buf = mutable.ArrayBuffer[Seq[Option[String]]]()
    private var open = true

    def add(row: Seq[Option[String]]): Unit = {
      buf += row
      if (buf.length >= batchRows) flush()
    }

    private def flush(): Unit = if (buf.nonEmpty) guard {
      send('d', format.encodeBatch(buf.toSeq, types))
      buf.clear()
    }

    /** A failing producer, encode or send fails the COPY before the
      * error surfaces. */
    private[PgLiteClient] def guard(body: => Unit): Unit =
      try body
      catch { case scala.util.control.NonFatal(e) =>
        fail(String.valueOf(e.getMessage)); throw e }

    /** Trailer, CopyDone, and the server's "COPY n" tag. */
    def finish(): String = {
      flush()
      guard(format.trailer.foreach(send('d', _)))
      open = false
      send('c', Array.emptyByteArray); out.flush() // CopyDone
      var tag = ""
      var err: PgServerError = null
      var ready = false
      while (!ready) {
        val (tpe, payload) = readMessage()
        tpe match {
          case 'C' => tag = cString(payload)
          case 'E' => err = parseError(payload)
          case 'Z' => ready = true
          case 'S' | 'N' => ()
          case other => throw new IllegalStateException(s"copyIn: unexpected '$other'")
        }
      }
      if (err != null) throw err
      tag
    }

    /** Abandon the COPY: CopyFail with `reason`, then resync to
      * ReadyForQuery, so a failing producer (e.g. a deserialization
      * error mid-partition) never leaves the connection desynced
      * mid-COPY. A broken SOCKET makes the abort itself throw —
      * swallowed, the caller's own error still surfaces and its
      * close() tears the socket down. No-op once finished. */
    def fail(reason: String): Unit = if (open) {
      open = false
      try abortCopy(reason)
      catch { case _: Throwable => () }
    }
  }

  /** COPY … TO STDOUT round trip in `format`: send the statement,
    * expect CopyOutResponse with the format's wire byte, collect the
    * CopyData frames until CopyDone, and decode the rows — the bulk
    * EXPORT twin of [[copyIn]] (`types` as there). Returns the rows
    * (None = SQL NULL).
    *
    * Single-socket and CLIENT-BUFFERED (the whole export
    * materializes here) — the protocol-fidelity posture, for
    * dimension-class tables and gate read-backs. The corpus-scale
    * read path is the `pglite` DSv2 scan ([[PgWire.readDistributed]]
    * with a key column): per-key-range connections over streaming row
    * iterators ([[queryStream]]), per-task memory one row. */
  def copyOut(sql: String, format: CopyFormat = PgLiteEngine.FmtText,
              types: Seq[String] = Nil): Seq[Seq[Option[String]]] = {
    sendCString('Q', sql)
    val buf = new java.io.ByteArrayOutputStream()
    var err: PgServerError = null
    var ready = false
    var sawCopyOut = false
    while (!ready) {
      val (tpe, payload) = readMessage()
      tpe match {
        case 'H' =>
          val fmt = payload(0).toInt
          if (fmt != format.wireByte) {
            // server streams the export regardless; drain it, stay usable
            drainToReady()
            throw new IllegalStateException(
              s"copyOut: COPY format mismatch (server $fmt, expected ${format.wireByte})")
          }
          sawCopyOut = true
        case 'd' => buf.write(payload)
        case 'c' => () // CopyDone; CommandComplete follows
        case 'C' => ()
        case 'E' => err = parseError(payload)
        case 'Z' => ready = true
        case 'S' | 'N' => ()
        case 'G' =>
          abortCopy("statement is COPY FROM STDIN")
          throw new IllegalStateException(
            "copyOut: statement is COPY ... FROM STDIN — use copyIn()")
        case other =>
          drainToReady()
          throw new IllegalStateException(
            s"copyOut: unexpected '$other' — statement is not COPY ... TO STDOUT")
      }
    }
    if (err != null) throw err
    if (!sawCopyOut)
      throw new IllegalStateException(
        "copyOut: statement produced no CopyOutResponse")
    format.decode(buf.toByteArray, types).map(_.map(Option(_)))
  }

  /** Send the COPY statement and wait for CopyInResponse, demanding
    * the server's overall-format byte match the caller's framing — a
    * text writer driving a binary COPY (or vice versa) aborts cleanly
    * with CopyFail instead of loading garbage. */
  private def startCopy(sql: String, format: CopyFormat): Unit = {
    sendCString('Q', sql)
    // wait for CopyInResponse (or an up-front error e.g. 42P01)
    var started = false
    while (!started) {
      val (tpe, payload) = readMessage()
      tpe match {
        case 'G' =>
          val fmt = payload(0).toInt
          if (fmt != format.wireByte) {
            abortCopy(s"client framing is $format but server format is $fmt")
            throw new IllegalStateException(
              s"copyIn: COPY format mismatch (server $fmt, expected ${format.wireByte})")
          }
          started = true
        case 'E' =>
          val err = parseError(payload)
          // server closes the statement with ReadyForQuery
          drainToReady()
          throw err
        case 'S' | 'N' => ()
        case other =>
          // e.g. a caller passed a non-COPY statement and got a
          // RowDescription/CommandComplete: resync to ReadyForQuery
          // before throwing so the connection survives the mistake
          // (mirrors the 'G' handler in query()).
          drainToReady()
          throw new IllegalStateException(
            s"copyIn: unexpected '$other' — statement is not COPY ... FROM STDIN")
      }
    }
  }

  /** CopyFail with `reason`, then resynchronize to ReadyForQuery. */
  private def abortCopy(reason: String): Unit = {
    sendCString('f', reason)
    drainToReady()
  }

  private def drainToReady(): Unit = {
    var ready = false
    while (!ready) {
      val (tpe, _) = readMessage()
      if (tpe == 'Z') ready = true
    }
  }

  /** One frontend message: type byte, int32 length, body. */
  private def send(tpe: Char, body: Array[Byte]): Unit = {
    out.writeByte(tpe); out.writeInt(4 + body.length); out.write(body)
  }

  /** A message whose body is one NUL-terminated string ('Q' query,
    * 'f' CopyFail reason), flushed. */
  private def sendCString(tpe: Char, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    out.writeByte(tpe); out.writeInt(4 + b.length + 1)
    out.write(b); out.writeByte(0); out.flush()
  }

  /** A payload that is one NUL-terminated string (CommandComplete). */
  private def cString(payload: Array[Byte]): String =
    new String(payload, 0, payload.length - 1, UTF_8)

  /** Idempotent: the streaming read path closes both on exhaustion
    * and from a task-completion listener, whichever fires first. */
  @volatile private var closed = false
  def close(): Unit = if (!closed) {
    closed = true
    try { out.writeByte('X'); out.writeInt(4); out.flush() }
    finally sock.close()
  }

  /** Backend transaction status from the last ReadyForQuery: 'I' idle,
    * 'T' in transaction, 'E' failed transaction (the wire-v3 status
    * byte — lets callers observe BEGIN/abort state live). */
  @volatile private var lastTxStatus: Char = 'I'
  def txStatus: Char = lastTxStatus

  private def readMessage(): (Char, Array[Byte]) = {
    // type byte and length in one read: the input is unbuffered
    val header = new Array[Byte](5)
    if (in.readNBytes(header, 0, 5) < 5)
      throw new java.io.EOFException("server closed connection")
    val tpe = header(0).toChar
    val payload = new Array[Byte](int32(header, 1) - 4)
    in.readFully(payload)
    if (tpe == 'Z' && payload.length == 1) lastTxStatus = payload(0).toChar
    (tpe, payload)
  }

  private def parseError(payload: Array[Byte]): PgServerError = {
    var off = 0
    var code = "?????"; var msg = ""
    while (off < payload.length && payload(off) != 0) {
      val k = payload(off).toChar
      val end = payload.indexOf(0, off + 1)
      val v = new String(payload, off + 1, end - off - 1, UTF_8)
      if (k == 'C') code = v
      if (k == 'M') msg = v
      off = end + 1
    }
    PgServerError(code, msg)
  }
}
