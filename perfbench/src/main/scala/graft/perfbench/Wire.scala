package graft.perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, InputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import graft.serve.BalboaTcp

/** One long-lived HTTP/1.1 keep-alive connection to the query server,
  * driven by one client thread. Written against a raw socket so that a
  * client is exactly one thread and one connection, with no pool or
  * selector threads of its own. Understands the two response framings
  * the JDK server emits: Content-Length and chunked. */
final class HttpConn(port: Int) extends AutoCloseable {
  private var sock: Socket = null
  private var in: InputStream = null
  private var out: BufferedOutputStream = null

  private def open(): Unit = {
    sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.connect(new InetSocketAddress("127.0.0.1", port), 5000)
    sock.setSoTimeout(60000)
    in = new BufferedInputStream(sock.getInputStream, 65536)
    out = new BufferedOutputStream(sock.getOutputStream, 8192)
  }

  def close(): Unit = if (sock != null) {
    try sock.close() catch { case _: Exception => }
    sock = null
  }

  /** Sends one request and reads the whole response: (status, body). A
    * transport failure closes the connection (the next request reopens
    * it) and propagates. */
  def request(method: String, path: String,
      body: Array[Byte] = Array.emptyByteArray): (Int, Array[Byte]) = {
    if (sock == null) open()
    try {
      val head = new StringBuilder()
        .append(method).append(' ').append(path).append(" HTTP/1.1\r\n")
        .append("Host: 127.0.0.1\r\n")
      if (method == "POST")
        head.append("Content-Type: application/json\r\nContent-Length: ")
          .append(body.length).append("\r\n")
      head.append("\r\n")
      out.write(head.toString.getBytes(UTF_8))
      if (body.nonEmpty) out.write(body)
      out.flush()
      readResponse()
    } catch { case e: Exception => close(); throw e }
  }

  private def readLine(): String = {
    val b = new ByteArrayOutputStream(64)
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    b.toString("ISO-8859-1")
  }

  private def readN(n: Int, to: ByteArrayOutputStream): Unit = {
    val buf = new Array[Byte](8192)
    var left = n
    while (left > 0) {
      val r = in.read(buf, 0, math.min(buf.length, left))
      if (r < 0) throw new java.io.EOFException("truncated body")
      to.write(buf, 0, r)
      left -= r
    }
  }

  private def readResponse(): (Int, Array[Byte]) = {
    val status = readLine().split(' ')(1).toInt
    var length = -1
    var chunked = false
    var closeAfter = false
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      val k = line.substring(0, i).trim.toLowerCase(java.util.Locale.ROOT)
      val v = line.substring(i + 1).trim
      if (k == "content-length") length = v.toInt
      else if (k == "transfer-encoding") chunked = v.equalsIgnoreCase("chunked")
      else if (k == "connection") closeAfter = v.equalsIgnoreCase("close")
      line = readLine()
    }
    val body = new ByteArrayOutputStream(if (length > 0) length else 1024)
    if (chunked) {
      var size = Integer.parseInt(readLine().split(';')(0).trim, 16)
      while (size > 0) {
        readN(size, body)
        readLine()
        size = Integer.parseInt(readLine().split(';')(0).trim, 16)
      }
      while (readLine().nonEmpty) () // trailers
    } else if (length >= 0) readN(length, body)
    else {
      in.transferTo(body)
      closeAfter = true
    }
    if (closeAfter) close()
    (status, body.toByteArray)
  }
}

/** One long-lived connection speaking the balboa TCP query protocol, as
  * a balboa frontend would: QueryRequest out, start / data* / end in. */
final class TcpConn(port: Int) extends AutoCloseable {
  private var sock: Socket = null
  private var in: BalboaTcp.MsgReader = null
  private var out: BufferedOutputStream = null

  private def open(): Unit = {
    sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.connect(new InetSocketAddress("127.0.0.1", port), 5000)
    sock.setSoTimeout(60000)
    in = new BalboaTcp.MsgReader(new DataInputStream(
      new BufferedInputStream(sock.getInputStream, 65536)))
    out = new BufferedOutputStream(sock.getOutputStream, 4096)
  }

  def close(): Unit = if (sock != null) {
    try sock.close() catch { case _: Exception => }
    sock = null
  }

  /** Right(entries) for a streamed answer, Left(message) for an
    * ErrorResponse. Transport or framing failures close the connection
    * and propagate. */
  def query(q: BalboaTcp.QueryRequest): Either[String, Vector[BalboaTcp.Entry]] = {
    if (sock == null) open()
    try {
      out.write(BalboaTcp.encodeQueryRequest(q))
      out.flush()
      val (t0, inner0) = in.readTyped()
      if (t0 == BalboaTcp.TypeErrorResponse)
        Left(BalboaTcp.decodeErrorResponse(inner0))
      else {
        if (t0 != BalboaTcp.TypeQueryStreamStartResponse)
          throw new IllegalStateException(s"unexpected message type $t0")
        val rows = Vector.newBuilder[BalboaTcp.Entry]
        var done = false
        while (!done) {
          val (t, inner) = in.readTyped()
          if (t == BalboaTcp.TypeQueryStreamDataResponse)
            rows += BalboaTcp.decodeEntry(inner)
          else if (t == BalboaTcp.TypeQueryStreamEndResponse) done = true
          else throw new IllegalStateException(s"unexpected message type $t")
        }
        Right(rows.result())
      }
    } catch { case e: Exception => close(); throw e }
  }
}
