package graft

import java.io.DataInputStream
import java.net.Socket
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ObservationStore
import graft.serve.{BalboaTcp, BalboaTcpServer}
import graft.serve.BalboaTcp._

/** The TCP protocol against a DISK-backed bucket-pruned store under
  * concurrent clients — the Bench `tcp_query_qps` shape, pinned as a
  * test so a serving regression fails CI, not just the bench line. */
class BalboaTcpDiskSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("TCP answers from a disk store equal the collected plan") {
    import spark.implicits._
    val ts = Timestamp.valueOf("2018-01-01 00:00:00")
    val agg = ObservationStore.aggregate(Seq(
      ("foo.bar", "s1", "A", "1.2.3.4", 3L, ts, ts),
      ("baz.io", "s1", "A", "1.2.3.4", 1L, ts, ts),
      ("foo.bar", "s2", "AAAA", "2001:db8::1", 2L, ts, ts)
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
      "timestamp_start", "timestamp_end"))
    val dir = java.nio.file.Files.createTempDirectory("graft-tcpeq").toString
    ObservationStore.writeDual(agg, dir, numBuckets = 4)
    val disk = ObservationStore.load(spark, dir)
    assert(disk.servePoint(rrname = Some("foo.bar")).isDefined)
    val srv = new BalboaTcpServer(disk)
    srv.start()
    try {
      def answer(q: QueryRequest): Seq[Entry] = {
        val sock = new Socket("localhost", srv.boundPort)
        try {
          sock.getOutputStream.write(encodeQueryRequest(q))
          sock.getOutputStream.flush()
          val rd = new MsgReader(new DataInputStream(
            new java.io.BufferedInputStream(sock.getInputStream)))
          val (t0, _) = rd.readTyped()
          assert(t0 == TypeQueryStreamStartResponse)
          Iterator.continually(rd.readTyped())
            .takeWhile(_._1 == TypeQueryStreamDataResponse)
            .map(m => decodeEntry(m._2)).toSeq.sortBy(_.toString)
        } finally sock.close()
      }
      /** The `entries` plan's rows as the wire's entries. */
      def plan(q: QueryRequest): Seq[Entry] =
        disk.entries(q.rrname, q.rdata, q.rrtype, q.sensorId, q.limit)
          .collect().toSeq.map(r => Entry(r.getAs[String]("rrname"),
            r.getAs[String]("rrtype"), r.getAs[String]("rdata"),
            r.getAs[String]("sensor_id"), r.getAs[Long]("count"),
            Math.floorDiv(r.getAs[Timestamp]("first_seen").getTime, 1000L),
            Math.floorDiv(r.getAs[Timestamp]("last_seen").getTime, 1000L)))
          .sortBy(_.toString)
      for (q <- Seq(
          QueryRequest(Some("foo.bar"), None, None, None, 1000),
          QueryRequest(None, Some("1.2.3.4"), None, None, 1000),
          QueryRequest(None, Some("1.2.3.4"), None, Some("s1"), 1000),
          QueryRequest(Some("absent"), None, None, None, 1000))) {
        val dsk = answer(q)
        assert(dsk == plan(q), q)
        assert(dsk.nonEmpty == q.rrname.forall(_ != "absent"), q)
      }
    } finally srv.stop()
  }

  test("concurrent point queries against a disk store all stream cleanly") {
    import spark.implicits._
    val ts = Timestamp.valueOf("2018-01-01 00:00:00")
    val dir = java.nio.file.Files.createTempDirectory("graft-tcpdisk").toString
    val input = (1 to 50).map(i =>
      (s"host-$i.example", "s1", "A", i.toString, i.toLong, ts, ts))
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
        "timestamp_start", "timestamp_end")
    ObservationStore.writeDual(ObservationStore.aggregate(input), dir,
      numBuckets = 8)
    val store = ObservationStore.load(spark, dir)
    val srv = new BalboaTcpServer(store)
    srv.start()
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
      try {
        val tasks = (1 to 40).map { i =>
          pool.submit(new java.util.concurrent.Callable[Seq[Entry]] {
            def call(): Seq[Entry] = {
              val sock = new Socket("localhost", srv.boundPort)
              try {
                sock.getOutputStream.write(encodeQueryRequest(
                  QueryRequest(None, Some(i.toString), None, None, 1000)))
                sock.getOutputStream.flush()
                val rd = new MsgReader(new DataInputStream(
                  new java.io.BufferedInputStream(sock.getInputStream)))
                val out = Seq.newBuilder[Entry]
                var done = false
                while (!done) {
                  val (t, inner) = rd.readTyped()
                  if (t == TypeQueryStreamDataResponse)
                    out += decodeEntry(inner)
                  else if (t == TypeErrorResponse)
                    throw new IllegalStateException(
                      "server error: " + decodeErrorResponse(inner))
                  else if (t == TypeQueryStreamEndResponse) done = true
                }
                out.result()
              } finally sock.close()
            }
          })
        }
        tasks.zipWithIndex.foreach { case (t, idx) =>
          val i = idx + 1
          val entries = t.get()
          assert(entries.size == 1, s"rdata=$i got ${entries.size}")
          assert(entries.head.rrname == s"host-$i.example")
          assert(entries.head.count == i.toLong)
        }
      } finally pool.shutdown()
    } finally srv.stop()
  }
}
