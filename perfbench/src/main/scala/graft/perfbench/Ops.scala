package graft.perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper

import graft.serve.BalboaTcp

/** The requests the benchmark's clients send, how each is sent, and the
  * cheap per-request answer check. An answer is kept as a sorted vector
  * of `rrname|sensor_id|rrtype|rdata|count|first|last` lines (timestamps
  * in unix seconds) so that it can be compared with the plan-path answer
  * for the same request after the measured phase. */
object Ops {
  sealed trait Op {
    /** Whether the key exists in the store, so the answer is non-empty. */
    def present: Boolean
    /** Layer label of the outermost span. */
    def route: String
  }
  /** GraphQL `entries(rdata:)` — the reference's bench query. */
  final case class GqlRdata(rdata: String, present: Boolean) extends Op {
    def route = "http.graphql"
  }
  /** REST `/pdns/query/<subject>`: rrname, then rdata. */
  final case class Rest(subject: String, present: Boolean) extends Op {
    def route = "http.rest"
  }
  /** `POST /query {"rrname_prefix"}`: a selective forward-copy seek. */
  final case class Prefix(prefix: String) extends Op {
    def present = true
    def route = "http.prefix"
  }
  final case class TcpName(rrname: String, present: Boolean) extends Op {
    def route = "tcp.query"
  }
  final case class TcpData(rdata: String, present: Boolean) extends Op {
    def route = "tcp.query"
  }
  /** `GET /pdns/cidr/<block>`; `broad` blocks hold more than the limit. */
  final case class Cidr(block: String, broad: Boolean) extends Op {
    def present = true
    def route = "http.cidr"
  }

  val Limit = 1000
  val GqlFields = "rrname rrtype rdata sensor_id count time_first time_last"

  def gqlBody(rdata: String): Array[Byte] = {
    val n = mapper.createObjectNode()
    n.put("query", s"""query(${"$"}d: String) { entries(rdata: ${"$"}d) { $GqlFields } }""")
    n.putObject("variables").put("d", rdata)
    mapper.writeValueAsBytes(n)
  }

  def prefixBody(prefix: String): Array[Byte] = {
    val n = mapper.createObjectNode()
    n.put("rrname_prefix", prefix)
    mapper.writeValueAsBytes(n)
  }

  private val mapper = new ObjectMapper()

  def line(rrname: String, sensor: String, rrtype: String, rdata: String,
      count: Long, first: Long, last: Long): String =
    s"$rrname|$sensor|$rrtype|$rdata|$count|$first|$last"

  private def ndjsonLines(body: Array[Byte]): Vector[String] =
    new String(body, UTF_8).split('\n').iterator.filter(_.nonEmpty).map { l =>
      val n = mapper.readTree(l)
      line(n.get("rrname").asText, n.get("sensor_id").asText,
        n.get("rrtype").asText, n.get("rdata").asText, n.get("count").asLong,
        n.get("time_first").asLong, n.get("time_last").asLong)
    }.toVector.sorted

  private def ndjsonCount(body: Array[Byte]): Int = {
    var n = 0
    var i = 0
    while (i < body.length) { if (body(i) == '\n') n += 1; i += 1 }
    n
  }

  /** One reply: `ok` is the per-request check (status, framing, row count
    * against the key's presence and the limit); `answer` is filled only
    * when the caller asked to keep it. */
  final case class Reply(ok: Boolean, rows: Int, answer: Vector[String])

  /** A client's connections: at most one HTTP and one TCP, opened on
    * first use. */
  final class Client(httpPort: Int, tcpPort: Int) extends AutoCloseable {
    private lazy val http = new HttpConn(httpPort)
    private lazy val tcp = new TcpConn(tcpPort)
    private var usedHttp, usedTcp = false

    def close(): Unit = {
      if (usedHttp) http.close()
      if (usedTcp) tcp.close()
    }

    def exec(op: Op, keep: Boolean): Reply = op match {
      case GqlRdata(d, present) =>
        usedHttp = true
        val (st, body) = http.request("POST", "/graphql", gqlBody(d))
        if (st != 200) Reply(ok = false, 0, null)
        else {
          val arr = mapper.readTree(body).path("data").path("entries")
          val rows = arr.size
          val ans = if (!keep) null else {
            val b = Vector.newBuilder[String]
            arr.forEach { n =>
              b += line(n.get("rrname").asText, n.get("sensor_id").asText,
                n.get("rrtype").asText, n.get("rdata").asText,
                n.get("count").asLong, n.get("time_first").asLong,
                n.get("time_last").asLong)
            }
            b.result().sorted
          }
          Reply(arr.isArray && (rows > 0) == present, rows, ans)
        }
      case Rest(s, present) =>
        usedHttp = true
        val (st, body) = http.request("GET",
          "/pdns/query/" + URLEncoder.encode(s, UTF_8))
        val ok = if (present) st == 200 else st == 404
        val rows = if (st == 200) ndjsonCount(body) else 0
        Reply(ok && (rows > 0) == present, rows,
          if (keep && st == 200) ndjsonLines(body)
          else if (keep) Vector.empty else null)
      case Prefix(p) =>
        usedHttp = true
        val (st, body) = http.request("POST", "/query", prefixBody(p))
        val rows = if (st == 200) ndjsonCount(body) else 0
        Reply(st == 200 && rows > 0 && rows <= Limit, rows,
          if (keep && st == 200) ndjsonLines(body) else null)
      case TcpName(n, present) => tcpQuery(
        BalboaTcp.QueryRequest(Some(n), None, None, None, Limit), present, keep)
      case TcpData(d, present) => tcpQuery(
        BalboaTcp.QueryRequest(None, Some(d), None, None, Limit), present, keep)
      case Cidr(b, broad) =>
        usedHttp = true
        val (st, body) = http.request("GET", "/pdns/cidr/" + b)
        val rows = if (st == 200) ndjsonCount(body) else 0
        val ok = st == 200 && (if (broad) rows == Limit else rows > 0 && rows < Limit)
        Reply(ok, rows, if (keep && st == 200) ndjsonLines(body) else null)
    }

    private def tcpQuery(q: BalboaTcp.QueryRequest, present: Boolean,
        keep: Boolean): Reply = {
      usedTcp = true
      tcp.query(q) match {
        case Left(_) => Reply(ok = false, 0, null)
        case Right(es) =>
          Reply((es.nonEmpty) == present, es.size,
            if (!keep) null
            else es.map(e => line(e.rrname, e.sensorId, e.rrtype, e.rdata,
              e.count, e.firstSeen, e.lastSeen)).sorted)
      }
    }
  }

  // -------------------------------------------------------- op streams

  /** The point-lookup mix for one reader: 80 % Zipf-skewed stored keys,
    * 10 % absent keys, 10 % selective prefix seeks (HTTP only; a TCP
    * QueryRequest has no prefix form, so TCP readers take 90 % stored
    * keys). `kind` picks the reader's front end and key column. */
  def pointStream(seed: Long, client: Int, kind: String, n: Int,
      names: Gen.Zipf, rows: Gen.Zipf): Array[Op] = {
    val namePerm = Gen.permute(seed, 40, Gen.Names)
    val rowPerm = Gen.permute(seed, 41, Gen.Rows)
    val salt = 1000 + 16 * client
    Array.tabulate(n) { j =>
      val u = Gen.uni(seed, j, salt, 10)
      def name = Gen.nameOf(namePerm(names.rank(Gen.unit(seed, j, salt + 1))))
      def rdata = Gen.baseRow(seed,
        rowPerm(rows.rank(Gen.unit(seed, j, salt + 1)))).rdata
      def absentName = Gen.absentName(Gen.uni(seed, j, salt + 2, Gen.Names))
      def absentIp = Gen.absentIp(Gen.uni(seed, j, salt + 2, 1 << Gen.AddrBits))
      // "h<k>" for a 3-digit k below Names / 10 matches h<k> and
      // h<k>0..h<k>9: ~11 names, ~165 entries, under the limit
      def prefix = Prefix(s"h${100 + Gen.uni(seed, j, salt + 3, Gen.Names / 10 - 100)}")
      val http = kind == "gql" || kind == "rest"
      if (http && u == 9) prefix
      else {
        val present = u < 8 || (!http && u == 9)
        kind match {
          case "gql" => GqlRdata(if (present) rdata else absentIp, present)
          case "rest" => Rest(if (present) name else absentName, present)
          case "tcp-name" => TcpName(if (present) name else absentName, present)
          case "tcp-data" => TcpData(if (present) rdata else absentIp, present)
        }
      }
    }
  }

  /** CIDR blocks: every fourth request of a client is a broad /16 block
    * (~45 000 entries, so the limit of 1000 binds), the others selective
    * /26, /25 or /24 blocks inside the stored block (tens to ~200
    * entries). Clients are offset by one, so at any time about one of the
    * four runs a broad block: the mix does not vary from run to run. */
  def cidrStream(seed: Long, client: Int, n: Int): Array[Op] = {
    val salt = 2000 + 16 * client
    Array.tabulate(n) { j =>
      val a = Gen.uni(seed, j, salt + 1, 1 << Gen.AddrBits).toLong
      if ((j + client) % 4 == 3) Cidr(s"10.${a >>> 16}.0.0/16", broad = true)
      else {
        val len = 24 + Gen.uni(seed, j, salt, 3)
        val mask = (0xffffffffL << (32 - len)) & ((1L << Gen.AddrBits) - 1)
        Cidr(s"${Gen.ipOf(a & mask)}/$len", broad = false)
      }
    }
  }
}
