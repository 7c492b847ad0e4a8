package graft

import java.io.DataInputStream
import java.net.Socket
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ObservationStore
import graft.serve.{BalboaTcp, BalboaTcpServer}
import graft.serve.BalboaTcp._

/** The native frontend↔backend TCP protocol over a real socket: a
  * QueryRequest encoded the way the Go frontend does goes in, the
  * start/data…/end stream comes back; the entry encoding is asserted at
  * the BYTE level against `backend/lib/protocol.c:190-211`'s mpack
  * output. The servers answer from disk stores. */
class BalboaTcpSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val store = {
    import spark.implicits._
    val ts = Timestamp.valueOf("2018-01-01 00:00:00") // 1514764800 UTC
    val input = Seq(
      ("foo.bar", "s1", "A", "1.2.3.4", 3L, ts, ts),
      ("baz.io", "s1", "A", "1.2.3.4", 1L, ts, ts),
      ("foo.bar", "s2", "AAAA", "2001:db8::1", 2L, ts, ts)
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
      "timestamp_start", "timestamp_end")
    diskStore(ObservationStore.aggregate(input))
  }

  private lazy val server = {
    val s = new BalboaTcpServer(store); s.start(); s
  }

  private def roundTrip(req: Array[Byte],
      port: Int = server.boundPort): Seq[(Int, Array[Byte])] = {
    val sock = new Socket("localhost", port)
    try {
      sock.getOutputStream.write(req)
      sock.getOutputStream.flush()
      readResponse(new MsgReader(new DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))))
    } finally sock.close()
  }

  private def readTypedInner(msg: Array[Byte]): Array[Byte] =
    new MsgReader(new DataInputStream(
      new java.io.ByteArrayInputStream(msg))).readTyped()._2

  /** Messages of one response read off an open connection: through the
    * end frame, or the error frame. */
  private def readResponse(rd: MsgReader): Seq[(Int, Array[Byte])] = {
    val out = Seq.newBuilder[(Int, Array[Byte])]
    var done = false
    while (!done) {
      val (tpe, inner) = rd.readTyped()
      out += ((tpe, inner))
      done = tpe == TypeQueryStreamEndResponse || tpe == TypeErrorResponse
    }
    out.result()
  }

  /** An aggregate written as a disk store and loaded: what a server
    * serves. */
  private def diskStore(agg: org.apache.spark.sql.DataFrame): ObservationStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tcp").toString
    ObservationStore.writeDual(agg, dir, numBuckets = 4)
    val st = ObservationStore.load(spark, dir)
    assert(st.servePoint(rrname = Some("x")).isDefined)
    st
  }

  test("entry encoding is byte-identical to protocol.c's mpack output") {
    val bytes = encodeEntry(Entry("foo.bar", "A", "1.2.3.4", "s1",
      3L, 1514764800L, 1514764800L))
    // protocol.c:190-211: fixmap(7); fixstr keys C,F,L,D,N,T,I in that
    // order; count as positive fixint; timestamps as fixext4(-1) u32 BE
    val ts = Array[Byte](0xd6.toByte, 0xff.toByte,
      0x5a, 0x49, 0x7a, 0x00) // 1514764800 = 0x5A497A00
    val expected =
      Array[Byte](0x87.toByte) ++
        Array[Byte](0xa1.toByte, 'C', 0x03) ++
        (Array[Byte](0xa1.toByte, 'F') ++ ts) ++
        (Array[Byte](0xa1.toByte, 'L') ++ ts) ++
        (Array[Byte](0xa1.toByte, 'D', 0xa7.toByte) ++ "1.2.3.4".getBytes) ++
        (Array[Byte](0xa1.toByte, 'N', 0xa7.toByte) ++ "foo.bar".getBytes) ++
        (Array[Byte](0xa1.toByte, 'T', 0xa1.toByte) ++ "A".getBytes) ++
        (Array[Byte](0xa1.toByte, 'I', 0xa2.toByte) ++ "s1".getBytes)
    assert(bytes.toSeq == expected.toSeq,
      bytes.map(b => f"$b%02x").mkString(" "))
    // and the decoder round-trips it
    assert(decodeEntry(bytes) ==
      Entry("foo.bar", "A", "1.2.3.4", "s1", 3L, 1514764800L, 1514764800L))
  }

  test("query by rrname streams start / per-entry data / end") {
    val msgs = roundTrip(encodeQueryRequest(
      QueryRequest(Some("foo.bar"), None, None, None, 100)))
    assert(msgs.head._1 == TypeQueryStreamStartResponse)
    assert(msgs.last._1 == TypeQueryStreamEndResponse)
    val entries = msgs.filter(_._1 == TypeQueryStreamDataResponse)
      .map(m => decodeEntry(m._2))
    assert(entries.size == 2) // foo.bar on s1 and s2
    val a = entries.find(_.sensorId == "s1").get
    assert(a == Entry("foo.bar", "A", "1.2.3.4", "s1",
      3L, 1514764800L, 1514764800L))
    val b = entries.find(_.sensorId == "s2").get
    assert(b.rrtype == "AAAA" && b.count == 2L)
  }

  test("residual filters and limit apply; rdata access path works") {
    val byRdata = roundTrip(encodeQueryRequest(
      QueryRequest(None, Some("1.2.3.4"), None, None, 100)))
      .filter(_._1 == TypeQueryStreamDataResponse).map(m => decodeEntry(m._2))
    assert(byRdata.map(_.rrname).toSet == Set("foo.bar", "baz.io"))
    val narrowed = roundTrip(encodeQueryRequest(
      QueryRequest(Some("foo.bar"), None, Some("AAAA"), None, 100)))
      .filter(_._1 == TypeQueryStreamDataResponse).map(m => decodeEntry(m._2))
    assert(narrowed.map(_.sensorId) == Seq("s2"))
    val limited = roundTrip(encodeQueryRequest(
      QueryRequest(None, Some("1.2.3.4"), None, None, 1)))
      .filter(_._1 == TypeQueryStreamDataResponse)
    assert(limited.size == 1)
  }

  test("a Limit past Int.MaxValue clamps instead of wrapping") {
    // hand-encoded QueryRequest {Limit, Qrdata, Hrdata}: uint32 2^32-1
    // (wraps to -1 as an Int) and uint64 2^63 (negative as a Long)
    def request(limit: Array[Int]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def str(v: String): Unit = {
        out.write(0xa0 | v.length); out.write(v.getBytes) // fixstr
      }
      out.write(0x83)
      str("Limit"); limit.foreach(out.write)
      str("Qrdata"); str("1.2.3.4")
      str("Hrdata"); out.write(0xc3) // true
      encodeTyped(TypeQueryRequest, out.toByteArray)
    }
    val u32 = Array(0xce, 0xff, 0xff, 0xff, 0xff)
    val u64 = Array(0xcf, 0x80, 0, 0, 0, 0, 0, 0, 0)
    assert(decodeQueryRequest(readTypedInner(request(u32))).limit == Int.MaxValue)
    assert(decodeQueryRequest(readTypedInner(request(u64))).limit == Int.MaxValue)
    val plan = store.entries(rdata = Some("1.2.3.4"), limit = Int.MaxValue)
      .select("rrname").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().sorted.toSeq
    assert(plan == Seq("baz.io", "foo.bar"))
    val disk = new BalboaTcpServer(diskStore(store.forward.drop("bucket")))
    disk.start()
    try {
      for (port <- Seq(server.boundPort, disk.boundPort); limit <- Seq(u32, u64)) {
        val msgs = roundTrip(request(limit), port)
        assert(msgs.head._1 == TypeQueryStreamStartResponse,
          msgs.collect { case (TypeErrorResponse, m) => decodeErrorResponse(m) })
        assert(msgs.last._1 == TypeQueryStreamEndResponse)
        assert(msgs.filter(_._1 == TypeQueryStreamDataResponse)
          .map(m => decodeEntry(m._2).rrname).sorted == plan)
      }
    } finally disk.stop()
  }

  test("an entry the wire cannot carry fails only its query, not the connection") {
    import spark.implicits._
    def at(s: String) = Timestamp.from(java.time.Instant.parse(s))
    val far = at("2107-01-01T00:00:00Z")
    val agg = ObservationStore.aggregate(Seq(
      ("pre.example", "s1", "A", "10.0.0.1", 1L, at("1969-12-31T23:59:58Z")),
      ("far.example", "s1", "A", "10.0.0.2", 1L, far),
      ("ok.example", "s1", "A", "10.0.0.3", 1L, at("2018-01-01T00:00:00Z"))
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts"))
    val srv = new BalboaTcpServer(diskStore(agg))
    srv.start()
    val sock = new Socket("localhost", srv.boundPort)
    try {
      val rd = new MsgReader(new DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream)))
      def ask(rrname: String): Seq[(Int, Array[Byte])] = {
        sock.getOutputStream.write(encodeQueryRequest(
          QueryRequest(Some(rrname), None, None, None, 10)))
        sock.getOutputStream.flush()
        readResponse(rd)
      }
      for ((name, sec) <- Seq("pre.example" -> -2L,
          "far.example" -> far.getTime / 1000L)) {
        val msgs = ask(name)
        assert(msgs.map(_._1) == Seq(TypeErrorResponse), name)
        val err = decodeErrorResponse(msgs.head._2)
        assert(err.contains("out of u32 range") && err.contains(sec.toString), err)
        // the same connection keeps serving
        val ok = ask("ok.example")
        assert(ok.map(_._1) == Seq(TypeQueryStreamStartResponse,
          TypeQueryStreamDataResponse, TypeQueryStreamEndResponse), name)
        assert(decodeEntry(ok(1)._2).firstSeen == 1514764800L)
      }
    } finally { sock.close(); srv.stop() }
  }

  test("missing rrname AND rdata -> ErrorResponse, like the reference") {
    val msgs = roundTrip(encodeQueryRequest(
      QueryRequest(None, None, None, None, 10)))
    assert(msgs.size == 1 && msgs.head._1 == TypeErrorResponse)
    assert(decodeErrorResponse(msgs.head._2).contains("rrname or rdata"))
  }

  test("unsupported request types get an ErrorResponse naming them") {
    val msgs = roundTrip(encodeTyped(TypeDumpRequest, Array[Byte](0x80.toByte)))
    assert(msgs.head._1 == TypeErrorResponse)
    assert(decodeErrorResponse(msgs.head._2).contains("unsupported"))
  }

  test("input requests are decoded and counted, not ack'd") {
    val before = server.inputsReceived
    val sock = new Socket("localhost", server.boundPort)
    try {
      sock.getOutputStream.write(encodeTyped(TypeInputRequest,
        encodeEntry(Entry("in.example", "A", "9.9.9.9", "s9", 1L,
          1514764800L, 1514764800L))))
      // pipeline a query on the same connection: the input is consumed
      // first (no ack), then the query round-trips normally
      sock.getOutputStream.write(encodeQueryRequest(
        QueryRequest(Some("baz.io"), None, None, None, 10)))
      sock.getOutputStream.flush()
      val rd = new MsgReader(new DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream)))
      val (t1, _) = rd.readTyped()
      assert(t1 == TypeQueryStreamStartResponse)
    } finally sock.close()
    // the input was seen (spin briefly: handling is async per-connection)
    val deadline = System.nanoTime() + 5000000000L
    while (server.inputsReceived == before && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(server.inputsReceived == before + 1)
  }

  test("timestamp decode tolerates fixext8, ext8 and bare-uint forms") {
    def tsBytes(prefix: Array[Byte]): Array[Byte] = {
      // entry with F encoded per `prefix`, remaining fields minimal
      val out = new java.io.ByteArrayOutputStream()
      out.write(0x87)
      out.write(0xa1); out.write('C'); out.write(0x01)
      out.write(0xa1); out.write('F'); out.write(prefix, 0, prefix.length)
      out.write(0xa1); out.write('L'); out.write(0xce)
      out.write(Array[Byte](0x5a, 0x49, 0x7a, 0x00), 0, 4) // bare uint32
      out.write(0xa1); out.write('D'); out.write(0xa0)
      out.write(0xa1); out.write('N'); out.write(0xa0)
      out.write(0xa1); out.write('T'); out.write(0xa0)
      out.write(0xa1); out.write('I'); out.write(0xa0)
      out.toByteArray
    }
    // fixext8: (ns << 34 | sec) with ns=0
    val fix8 = Array[Byte](0xd7.toByte, 0xff.toByte,
      0, 0, 0, 0, 0x5a, 0x49, 0x7a, 0x00)
    assert(decodeEntry(tsBytes(fix8)).firstSeen == 1514764800L)
    // ext8 len 12: u32 ns + i64 seconds
    val ext8 = Array[Byte](0xc7.toByte, 12, 0xff.toByte,
      0, 0, 0, 0, 0, 0, 0, 0, 0x5a, 0x49, 0x7a, 0x00)
    assert(decodeEntry(tsBytes(ext8)).firstSeen == 1514764800L)
    assert(decodeEntry(tsBytes(fix8)).lastSeen == 1514764800L) // bare uint L
  }

  test("connection cap: over-limit accept gets ErrorResponse + close") {
    // engine.c:554-557 parity: cap at maxConnections, refuse loudly
    val capped = new BalboaTcpServer(store, maxConnections = 1)
    capped.start()
    try {
      // first connection occupies the single slot (held open, idle)
      val s1 = new Socket("localhost", capped.boundPort)
      try {
        // the acceptor must have REGISTERED s1 before the second connect
        // (accept → conns.add is async); poll the stats gauge
        val deadline = System.currentTimeMillis() + 5000
        while (capped.stats.connections.get() < 1 &&
          System.currentTimeMillis() < deadline) Thread.sleep(10)
        assert(capped.stats.connections.get() == 1L)
        val s2 = new Socket("localhost", capped.boundPort)
        try {
          val rd = new MsgReader(new DataInputStream(
            new java.io.BufferedInputStream(s2.getInputStream)))
          val (tpe, inner) = rd.readTyped()
          assert(tpe == TypeErrorResponse)
          assert(decodeErrorResponse(inner).contains("too many connections"))
        } finally s2.close()
        assert(capped.stats.errors.get() >= 1L)
      } finally s1.close()
    } finally capped.stop()
  }

  test("rolling stats: queries/errors/bytes counted, delta lines emitted") {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val srv = new BalboaTcpServer(store, statsIntervalMillis = 50L,
      statsSink = s => { lines.add(s); () })
    srv.start()
    try {
      val sock = new Socket("localhost", srv.boundPort)
      try {
        sock.getOutputStream.write(encodeQueryRequest(
          QueryRequest(Some("foo.bar"), None, None, None, 1000)))
        sock.getOutputStream.flush()
        val rd = new MsgReader(new DataInputStream(
          new java.io.BufferedInputStream(sock.getInputStream)))
        var done = false
        while (!done) {
          val (tpe, _) = rd.readTyped()
          if (tpe == TypeQueryStreamEndResponse) done = true
        }
      } finally sock.close()
      assert(srv.stats.queries.get() == 1L)
      assert(srv.stats.bytesOut.get() > 0L)
      val deadline = System.currentTimeMillis() + 5000
      while (lines.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val line = lines.poll()
      assert(line != null && line.contains("[balboa-tcp] queries="), line)
    } finally srv.stop()
  }

  test("a declared str/bin length allocates only the bytes that arrive") {
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // bin32 declaring ~2 GB, followed by two bytes and the end of input
    val frame = bytes(0xc6, 0x7f, 0xff, 0xff, 0xf0, 0x61, 0x62)
    def reader(b: Array[Byte]) =
      new MsgReader(new DataInputStream(new java.io.ByteArrayInputStream(b)))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    intercept[java.io.EOFException](reader(frame).readRaw())
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    assert(allocated < (1L << 20), s"allocated $allocated bytes")
    // a length with the top bit set is a protocol error, not an
    // array-size failure
    val neg = intercept[IllegalArgumentException](
      reader(bytes(0xc6, 0xff, 0xff, 0xff, 0xff)).readRaw())
    assert(neg.getMessage.startsWith("balboa tcp: "), neg.getMessage)

    // a live server drops such a connection (inside a typed message:
    // fixmap(2), then the frame as its first key) and answers the next
    val sock = new Socket("localhost", server.boundPort)
    try {
      sock.getOutputStream.write(0x82.toByte +: frame)
      sock.getOutputStream.flush()
      sock.shutdownOutput()
      sock.getInputStream.readAllBytes(): Unit // until the server closes
    } finally sock.close()
    val msgs = roundTrip(encodeQueryRequest(
      QueryRequest(Some("foo.bar"), None, None, None, 100)))
    assert(msgs.map(_._1) == Seq(TypeQueryStreamStartResponse,
      TypeQueryStreamDataResponse, TypeQueryStreamDataResponse,
      TypeQueryStreamEndResponse))
  }
}
