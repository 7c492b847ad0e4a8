package graft.serve

import java.io.{ByteArrayOutputStream, DataInputStream, EOFException}
import java.net.{ServerSocket, Socket}

import graft.operators.ObservationStore

/** The reference's native frontend↔backend TCP protocol
  * (`backend/PROTOCOL.md:8-33`, `db/db_protocol.go:19-58`,
  * `backend/lib/protocol.c:20-55,60-96,355-463`), so a LIVE balboa
  * frontend can use graft as a drop-in query backend — the last hop of
  * the migration story after the dump-file format
  * ([[graft.sources.BalboaDump]]).
  *
  * Wire shape: every message is a msgpack map(2) `{"T": int type,
  * "M": bin(inner)}` (the "typed message" double encoding). This server
  * implements the QUERY path: it decodes `QueryRequest` inner messages
  * (map of `Limit`/`Qrrname`/`Hrrname`/… — `db_protocol.go:42-46`,
  * `protocol.c:227-272`) and streams results as
  * `QUERY_STREAM_START_RESPONSE` / one `QUERY_STREAM_DATA_RESPONSE` per
  * entry / `QUERY_STREAM_END_RESPONSE` (`protocol.c:295-312`), each
  * entry the reference's 7-field single-char-key map with msgpack
  * TIMESTAMP-extension seconds (`protocol.c:190-211`,
  * `observation/observation.go:15-24`). Entry encoding mirrors mpack's
  * choices byte for byte (fixmap, fixstr keys, smallest-width uints,
  * fixext4 timestamps) — asserted at the byte level in BalboaTcpSpec.
  *
  * INPUT_REQUEST messages are decoded and handed to `onInput` (default:
  * counted and dropped) — bulk ingest at scale goes through the Spark
  * Structured-Streaming pipeline ([[graft.streaming.IngestPipeline]]),
  * the SURVEY §3.1 by-design mapping; dump/backup requests get an
  * `ERROR_RESPONSE` naming the unsupported operation
  * (`db_protocol.go:52-54` shape).
  *
  * A query's answer (`ObservationStore.answerPoint`, at most `Limit`
  * rows) is encoded in full before the start frame is written, so an
  * entry the wire cannot carry (seconds outside u32) fails only that
  * query with an `ERROR_RESPONSE`, never a half-written stream.
  */
object BalboaTcp {

  val TypeInputRequest = 1
  val TypeQueryRequest = 2
  val TypeBackupRequest = 3
  val TypeDumpRequest = 4
  val TypeErrorResponse = 128
  val TypeQueryResponse = 129
  val TypeQueryStreamStartResponse = 130
  val TypeQueryStreamDataResponse = 131
  val TypeQueryStreamEndResponse = 132

  final case class QueryRequest(rrname: Option[String], rdata: Option[String],
      rrtype: Option[String], sensorId: Option[String], limit: Int)

  final case class Entry(rrname: String, rrtype: String, rdata: String,
      sensorId: String, count: Long, firstSeen: Long, lastSeen: Long)

  // ------------------------------------------------------------- encode
  // Mirrors mpack's encoding choices (protocol.c via mpack.h): fixmap,
  // fixstr/str8/16/32 by length, smallest-width uints, fixext4 timestamp
  // for seconds that fit u32 (every unix-seconds value until 2106).

  private[serve] def writeMapHeader(out: ByteArrayOutputStream, n: Int): Unit =
    if (n <= 15) out.write(0x80 | n)
    else { out.write(0xde); out.write(n >> 8); out.write(n & 0xff) }

  private[serve] def writeStr(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes("UTF-8")
    if (b.length <= 31) out.write(0xa0 | b.length)
    else if (b.length <= 0xff) { out.write(0xd9); out.write(b.length) }
    else if (b.length <= 0xffff) {
      out.write(0xda); out.write(b.length >> 8); out.write(b.length & 0xff)
    } else {
      out.write(0xdb)
      var s2 = 24
      while (s2 >= 0) { out.write((b.length >> s2) & 0xff); s2 -= 8 }
    }
    out.write(b, 0, b.length)
  }

  private[graft] def writeBin(out: ByteArrayOutputStream,
      b: Array[Byte]): Unit = {
    if (b.length <= 0xff) { out.write(0xc4); out.write(b.length) }
    else if (b.length <= 0xffff) {
      out.write(0xc5); out.write(b.length >> 8); out.write(b.length & 0xff)
    } else {
      out.write(0xc6)
      var s = 24
      while (s >= 0) { out.write((b.length >> s) & 0xff); s -= 8 }
    }
    out.write(b, 0, b.length)
  }

  private[graft] def writeUint(out: ByteArrayOutputStream, v: Long): Unit = {
    require(v >= 0, s"negative uint $v")
    if (v <= 0x7f) out.write(v.toInt)
    else if (v <= 0xff) { out.write(0xcc); out.write(v.toInt) }
    else if (v <= 0xffff) {
      out.write(0xcd); out.write((v >> 8).toInt); out.write(v.toInt & 0xff)
    } else if (v <= 0xffffffffL) {
      out.write(0xce)
      var s = 24
      while (s >= 0) { out.write(((v >> s) & 0xff).toInt); s -= 8 }
    } else {
      out.write(0xcf)
      var s = 56
      while (s >= 0) { out.write(((v >> s) & 0xff).toInt); s -= 8 }
    }
  }

  private[serve] def writeBool(out: ByteArrayOutputStream, v: Boolean): Unit =
    out.write(if (v) 0xc3 else 0xc2)

  /** msgpack timestamp extension, seconds form — fixext4, ext type -1
    * (`mpack_write_timestamp_seconds`; u32 seconds + zero nanoseconds
    * always takes the 4-byte form). */
  private[serve] def writeTimestampSeconds(out: ByteArrayOutputStream,
      sec: Long): Unit = {
    require(sec >= 0 && sec <= 0xffffffffL, s"timestamp out of u32 range: $sec")
    out.write(0xd6); out.write(0xff)
    var s = 24
    while (s >= 0) { out.write(((sec >> s) & 0xff).toInt); s -= 8 }
  }

  /** One pdns entry, `protocol.c:190-211` field order (C,F,L,D,N,T,I). */
  def encodeEntry(e: Entry): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    writeMapHeader(out, 7)
    writeStr(out, "C"); writeUint(out, e.count)
    writeStr(out, "F"); writeTimestampSeconds(out, e.firstSeen)
    writeStr(out, "L"); writeTimestampSeconds(out, e.lastSeen)
    writeStr(out, "D"); writeStr(out, e.rdata)
    writeStr(out, "N"); writeStr(out, e.rrname)
    writeStr(out, "T"); writeStr(out, e.rrtype)
    writeStr(out, "I"); writeStr(out, e.sensorId)
    out.toByteArray
  }

  /** Outer typed message `{"T": type, "M": bin(inner)}`
    * (`protocol.c:60-96`). */
  def encodeTyped(tpe: Int, inner: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(inner.length + 16)
    writeMapHeader(out, 2)
    writeStr(out, "T"); writeUint(out, tpe.toLong)
    writeStr(out, "M"); writeBin(out, inner)
    out.toByteArray
  }

  /** Client-side QueryRequest encode, `protocol.c:227-272` key order
    * (Limit, Qrrname/Hrrname, Qrdata/Hrdata, Qrrtype/Hrrtype,
    * QsensorID/HsensorID) — what a balboa frontend puts on the wire. */
  def encodeQueryRequest(q: QueryRequest): Array[Byte] = {
    val out = new ByteArrayOutputStream(96)
    writeMapHeader(out, 9)
    writeStr(out, "Limit"); writeUint(out, q.limit.toLong)
    writeStr(out, "Qrrname"); writeStr(out, q.rrname.getOrElse(""))
    writeStr(out, "Hrrname"); writeBool(out, q.rrname.isDefined)
    writeStr(out, "Qrdata"); writeStr(out, q.rdata.getOrElse(""))
    writeStr(out, "Hrdata"); writeBool(out, q.rdata.isDefined)
    writeStr(out, "Qrrtype"); writeStr(out, q.rrtype.getOrElse(""))
    writeStr(out, "Hrrtype"); writeBool(out, q.rrtype.isDefined)
    writeStr(out, "QsensorID"); writeStr(out, q.sensorId.getOrElse(""))
    writeStr(out, "HsensorID"); writeBool(out, q.sensorId.isDefined)
    encodeTyped(TypeQueryRequest, out.toByteArray)
  }

  def encodeErrorResponse(message: String): Array[Byte] = {
    val out = new ByteArrayOutputStream(64)
    writeMapHeader(out, 1)
    writeStr(out, "Message"); writeStr(out, message)
    encodeTyped(TypeErrorResponse, out.toByteArray)
  }

  // ------------------------------------------------------------- decode
  // Tolerant on families (str OR bin strings, any uint width, fixext4/
  // fixext8/ext8 timestamps or a plain uint) — everything a conforming
  // msgpack writer could emit for these values, the BalboaDump stance.

  final class MsgReader(in: DataInputStream) {
    private def u8(): Int = {
      val b = in.read()
      if (b < 0) throw new EOFException("connection closed")
      b
    }
    private def beUint(n: Int): Long = {
      var acc = 0L
      var i = 0
      while (i < n) { acc = (acc << 8) | (u8() & 0xffL); i += 1 }
      acc
    }
    /** `n` bytes, buffered as they arrive: memory follows the bytes the
      * peer actually sends, never the length it declares. */
    private def bytesN(n: Int): Array[Byte] = {
      if (n < 0) fail(s"negative length $n")
      val b = in.readNBytes(n)
      if (b.length < n)
        throw new EOFException(
          s"connection closed after ${b.length} of $n bytes")
      b
    }
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"balboa tcp: $msg")

    /** Peek-free EOF probe: true when the stream ended cleanly BETWEEN
      * messages (socket closed by the peer). */
    def atCleanEnd(): Boolean = {
      in.mark(1)
      val b = in.read()
      if (b < 0) true else { in.reset(); false }
    }

    def readMapHeader(): Int = u8() match {
      case b if (b & 0xf0) == 0x80 => b & 0x0f
      case 0xde => beUint(2).toInt
      case 0xdf => beUint(4).toInt
      case b => fail(s"expected map, got 0x${b.toHexString}")
    }

    def readUint(): Long = u8() match {
      case b if b <= 0x7f => b.toLong
      case 0xcc => beUint(1)
      case 0xcd => beUint(2)
      case 0xce => beUint(4)
      case 0xcf => beUint(8)
      case b => fail(s"expected uint, got 0x${b.toHexString}")
    }

    /** [[readUint]] clamped to `Int.MaxValue`: a uint32 past it, or a
      * uint64 of 2^63 or more (negative as a Long), never wraps. */
    def readUintAsInt(): Int = {
      val v = readUint()
      if (v < 0 || v > Int.MaxValue) Int.MaxValue else v.toInt
    }

    def readBool(): Boolean = u8() match {
      case 0xc3 => true
      case 0xc2 => false
      case b => fail(s"expected bool, got 0x${b.toHexString}")
    }

    def readStr(): String = new String(readRaw(), "UTF-8")

    /** str OR bin family. */
    def readRaw(): Array[Byte] = {
      val len = u8() match {
        case b if (b & 0xe0) == 0xa0 => b & 0x1f
        case 0xc4 | 0xd9 => beUint(1).toInt
        case 0xc5 | 0xda => beUint(2).toInt
        case 0xc6 | 0xdb => beUint(4).toInt
        case b => fail(s"expected str/bin, got 0x${b.toHexString}")
      }
      bytesN(len)
    }

    /** Timestamp-extension seconds (fixext4 / fixext8 / ext8-12,
      * `mpack_expect_timestamp` coverage) or a bare uint (lenient). */
    def readTimestampSeconds(): Long = u8() match {
      case 0xd6 => // fixext4: type, u32 seconds
        if (u8() != 0xff) fail("fixext4 is not a timestamp")
        beUint(4)
      case 0xd7 => // fixext8: type, (ns << 34 | seconds) in u64
        if (u8() != 0xff) fail("fixext8 is not a timestamp")
        beUint(8) & ((1L << 34) - 1)
      case 0xc7 => // ext8: len must be 12: u32 ns + i64 seconds
        val len = beUint(1).toInt
        if (u8() != 0xff || len != 12) fail("ext8 is not a 12-byte timestamp")
        beUint(4) // nanoseconds, dropped (the reference keeps seconds)
        beUint(8)
      case b if b <= 0x7f => b.toLong // bare uint (protocol.c's old form)
      case 0xcc => beUint(1)
      case 0xcd => beUint(2)
      case 0xce => beUint(4)
      case 0xcf => beUint(8)
      case b => fail(s"expected timestamp, got 0x${b.toHexString}")
    }

    /** One outer typed message → (type, inner bytes). */
    def readTyped(): (Int, Array[Byte]) = {
      val n = readMapHeader()
      if (n != 2) fail(s"typed message must have 2 fields, got $n")
      var tpe = -1
      var inner: Array[Byte] = null
      var i = 0
      while (i < n) {
        readStr() match {
          case "T" => tpe = readUintAsInt()
          case "M" => inner = readRaw()
          case k => fail(s"unknown typed-message key '$k'")
        }
        i += 1
      }
      if (tpe < 0 || inner == null) fail("typed message missing T or M")
      (tpe, inner)
    }
  }

  private def innerReader(b: Array[Byte]): MsgReader =
    new MsgReader(new DataInputStream(new java.io.ByteArrayInputStream(b)))

  def decodeQueryRequest(inner: Array[Byte]): QueryRequest = {
    val rd = innerReader(inner)
    val n = rd.readMapHeader()
    var (qn, qd, qt, qs) = ("", "", "", "")
    var (hn, hd, ht, hs) = (false, false, false, false)
    var limit = 1000
    var i = 0
    while (i < n) {
      rd.readStr() match {
        case "Limit" => limit = rd.readUintAsInt()
        case "Qrrname" => qn = rd.readStr()
        case "Hrrname" => hn = rd.readBool()
        case "Qrdata" => qd = rd.readStr()
        case "Hrdata" => hd = rd.readBool()
        case "Qrrtype" => qt = rd.readStr()
        case "Hrrtype" => ht = rd.readBool()
        case "QsensorID" => qs = rd.readStr()
        case "HsensorID" => hs = rd.readBool()
        case k => throw new IllegalArgumentException(
          s"balboa tcp: unknown query-request key '$k'")
      }
      i += 1
    }
    QueryRequest(Option.when(hn)(qn), Option.when(hd)(qd),
      Option.when(ht)(qt), Option.when(hs)(qs), limit)
  }

  def decodeEntry(inner: Array[Byte]): Entry = {
    val rd = innerReader(inner)
    val n = rd.readMapHeader()
    require(n == 7, s"balboa tcp: entry must have 7 fields, got $n")
    var (rrname, rrtype, rdata, sensor) = ("", "", "", "")
    var (count, first, last) = (0L, 0L, 0L)
    var i = 0
    while (i < n) {
      rd.readStr() match {
        case "C" => count = rd.readUint()
        case "F" => first = rd.readTimestampSeconds()
        case "L" => last = rd.readTimestampSeconds()
        case "D" => rdata = rd.readStr()
        case "N" => rrname = rd.readStr()
        case "T" => rrtype = rd.readStr()
        case "I" => sensor = rd.readStr()
        case k => throw new IllegalArgumentException(
          s"balboa tcp: unknown entry key '$k'")
      }
      i += 1
    }
    Entry(rrname, rrtype, rdata, sensor, count, first, last)
  }

  def decodeErrorResponse(inner: Array[Byte]): String = {
    val rd = innerReader(inner)
    val n = rd.readMapHeader()
    var msg = ""
    var i = 0
    while (i < n) {
      rd.readStr() match {
        case "Message" => msg = rd.readStr()
        case _ => rd.readStr()
      }
      i += 1
    }
    msg
  }
}

/** TCP listener speaking the protocol above against an
  * [[ObservationStore]]. One thread per connection (the reference
  * backend's connection-thread model, `backend/balboa-rocksdb` style);
  * connections are long-lived and carry any number of requests.
  * `maxConnections` caps concurrent clients at the reference backend's
  * limit (`backend/lib/engine.c:554-557`: 64 connection threads) — an
  * over-cap accept gets an ErrorResponse and an immediate close instead
  * of an unbounded thread pile-up. [[stats]] keeps the engine's rolling
  * 10 s queries/inputs/errors/bytes/connections log. The store must be
  * a loaded disk store: an in-memory one is refused at construction. */
final class BalboaTcpServer(store: ObservationStore, port: Int = 0,
    onInput: BalboaTcp.Entry => Unit = _ => (),
    maxConnections: Int = 64,
    statsIntervalMillis: Long = 10000L,
    statsSink: String => Unit = s => System.err.println(s)) {
  import BalboaTcp._
  store.requireServed()

  private val server = new ServerSocket(port)
  private val pool = java.util.concurrent.Executors.newCachedThreadPool()
  @volatile private var running = false
  private val inputCount = new java.util.concurrent.atomic.AtomicLong(0)
  /** Rolling serving stats (engine.c:480-514 cadence). */
  val stats = new ServeStats("balboa-tcp", statsIntervalMillis, statsSink)
  // live accepted connections: stop() must close them too — pool
  // interrupts do NOT unblock java.net socket reads, so an idle
  // long-lived connection would otherwise pin its handler thread forever
  private val conns =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  def boundPort: Int = server.getLocalPort

  /** INPUT_REQUEST messages seen (decoded, handed to `onInput`). */
  def inputsReceived: Long = inputCount.get()

  def start(): Unit = {
    running = true
    stats.start()
    pool.execute(() => {
      while (running) {
        try {
          val sock = server.accept()
          if (conns.size >= maxConnections) {
            // over the connection cap: refuse loudly (ErrorResponse +
            // close), never queue unbounded handler threads
            stats.errors.incrementAndGet()
            pool.execute(() => {
              try {
                sock.getOutputStream.write(encodeErrorResponse(
                  s"too many connections (max $maxConnections)"))
                sock.getOutputStream.flush()
              } catch { case _: Throwable => }
              finally { try sock.close() catch { case _: Throwable => } }
            })
          } else {
            conns.add(sock)
            stats.connections.set(conns.size.toLong)
            pool.execute(() => try serve(sock) finally {
              conns.remove(sock)
              stats.connections.set(conns.size.toLong)
              ()
            })
          }
        } catch {
          case _: Throwable if !running => // closed in stop(): exit loop
          case e: Throwable =>
            // transient accept/submit failure (fd exhaustion, pool race):
            // log, back off briefly, keep accepting — a dead acceptor
            // with a live-looking server is the worst failure mode
            System.err.println(s"[balboa-tcp] accept failed: ${e.getMessage}")
            try Thread.sleep(50) catch { case _: InterruptedException => }
        }
      }
    })
  }

  def stop(): Unit = {
    running = false
    stats.stop()
    server.close()
    conns.forEach(s => try s.close() catch { case _: Throwable => })
    conns.clear()
    pool.shutdownNow()
    ()
  }

  /** Counts every byte written to the peer (the engine stats
    * `bytes_out` figure) without double-buffering. */
  private final class CountingStream(out: java.io.OutputStream)
      extends java.io.FilterOutputStream(out) {
    override def write(b: Int): Unit = {
      out.write(b); stats.bytesOut.incrementAndGet(); ()
    }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len); stats.bytesOut.addAndGet(len.toLong); ()
    }
  }

  private def serve(sock: Socket): Unit = {
    val in = new MsgReader(new DataInputStream(
      new java.io.BufferedInputStream(sock.getInputStream)))
    val out = new CountingStream(
      new java.io.BufferedOutputStream(sock.getOutputStream))
    try {
      while (running && !in.atCleanEnd()) {
        val (tpe, inner) = in.readTyped()
        tpe match {
          case TypeQueryRequest =>
            stats.queries.incrementAndGet()
            val q = decodeQueryRequest(inner)
            if (q.rrname.isEmpty && q.rdata.isEmpty) {
              stats.errors.incrementAndGet()
              out.write(encodeErrorResponse(
                "one of rrname or rdata must be given"))
              out.flush()
            } else {
              val rows = store.answerPoint(q.rrname, q.rdata,
                q.rrtype.filter(_.nonEmpty), q.sensorId, q.limit)
              // writeTimestampSeconds refuses seconds outside u32
              val frames =
                try Right(rows.map(o => encodeTyped(TypeQueryStreamDataResponse,
                  encodeEntry(Entry(o.rrname, o.rrtype, o.rdata, o.sensor_id,
                    o.count, QueryServer.unixSeconds(o.first_seen),
                    QueryServer.unixSeconds(o.last_seen))))))
                catch { case e: IllegalArgumentException => Left(e.getMessage) }
              frames match {
                case Left(msg) =>
                  stats.errors.incrementAndGet()
                  out.write(encodeErrorResponse(msg))
                case Right(data) =>
                  out.write(encodeTyped(TypeQueryStreamStartResponse,
                    Array.emptyByteArray))
                  data.foreach(out.write)
                  out.write(encodeTyped(TypeQueryStreamEndResponse,
                    Array.emptyByteArray))
              }
              out.flush()
            }
          case TypeInputRequest =>
            // decoded for protocol completeness; bulk ingest belongs to
            // the Spark streaming pipeline (not ack'd, like the reference)
            onInput(decodeEntry(inner))
            inputCount.incrementAndGet()
            stats.inputs.incrementAndGet()
            ()
          case other =>
            stats.errors.incrementAndGet()
            out.write(encodeErrorResponse(
              s"unsupported request type $other (use the Spark pipeline " +
                "for dump/backup)"))
            out.flush()
        }
      }
    } catch {
      case _: EOFException => // peer hung up mid-message
      case _: java.net.SocketException => // reset/closed
      case e: Throwable =>
        // protocol or execution error: best-effort error response (the
        // reference's ErrorResponse path), then drop the connection —
        // never kill the server thread silently
        stats.errors.incrementAndGet()
        try {
          out.write(encodeErrorResponse(
            Option(e.getMessage).getOrElse(e.getClass.getName)))
          out.flush()
        } catch { case _: Throwable => }
    } finally sock.close()
  }
}
