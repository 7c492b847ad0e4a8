package graft.serve

import java.io.OutputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.functions.Net
import graft.model.Observation
import graft.operators.ObservationStore

/** The serving layer (SURVEY.md §2.4 Q1/Q7/Q11/Q12 and §3.1/§3.3): the
  * reference's GraphQL `entries` resolver and CIRCL-compatible REST
  * endpoint over a long-lived SparkSession.
  *
  * Endpoints:
  *  - `POST /graphql` — the reference's GraphQL schema ([[Graphql]]), as
  *    a bare document or a `{"query", "variables"?}` JSON envelope; one
  *    JSON document, or 400 with a GraphQL error object.
  *  - `POST /query` with a JSON object `{"rrname"?, "rdata"?, "rrtype"?,
  *    "sensor_id"?, "limit"?}` — the `entries` query surface (conjunctive
  *    equality filters, ≥1 of rrname/rdata required → 400 otherwise,
  *    default limit 1000 like `query_graphql.go:179`), or `rrname_prefix`
  *    alone with the residual `rrtype`/`sensor_id`; NDJSON response. A
  *    body that is not a JSON object, or an object or array where a
  *    string belongs, is a 400; a null member is an absent one.
  *  - `GET /pdns/query/<subject>[?limit=]` — CIRCL passive-DNS: subject
  *    tried as rrname THEN as rdata, results concatenated, 404 when both
  *    empty, NDJSON with unix-seconds ints (`query_rest.go:41-82`).
  *  - `GET /pdns/cidr/<block>[?limit=]` — the rows whose rdata falls in a
  *    v4 or v6 CIDR block, NDJSON like `/pdns/query`.
  *  - `GET /stats` — `{"total_count": N}` (Q11) plus the serving totals.
  *
  * Every route answers through one [[ObservationStore]] method per
  * query shape (`answerPoint`, `answerPrefix`, `answerCidr`): at most
  * `limit` rows from the store's driver-local readers, then written as
  * NDJSON. The store must be a loaded disk store: an in-memory one is
  * refused at construction.
  */
final class QueryServer(store: ObservationStore, port: Int = 0,
    statsIntervalMillis: Long = 10000L,
    statsSink: String => Unit = s => System.err.println(s)) {
  store.requireServed()

  // HTTP slow-client hardening to reference parity
  // (`query/query_graphql.go:410-412`: 5 s read / 10 s write): the JDK
  // server reads these ONCE at ServerConfig class-init, so they must be
  // set before the first HttpServer is created in this JVM — hence the
  // companion-object init below runs first.
  QueryServer.ensureTimeouts()

  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  /** Rolling serving stats (engine.c:480-514 cadence). */
  val stats = new ServeStats("query-http", statsIntervalMillis, statsSink)
  // kept for stop(): HttpServer.stop does NOT shut down a caller-supplied
  // executor, and 8 leaked non-daemon threads would pin the JVM
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(pool)

  /** Bound port (useful when constructed with port 0). */
  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = { register(); stats.start(); server.start() }
  def stop(): Unit = { stats.stop(); server.stop(0); pool.shutdown(); () }

  /** ONE limit policy for every HTTP surface: absent → the reference's
    * default 1000; a parseable value ≥ 1 → itself; anything else → None,
    * which every endpoint turns into a 400 (a malformed or zero limit is
    * a client error — not a silent empty 200, not limit(-1)'s 500). */
  private def parseLimit(raw: Option[String]): Option[Int] = raw match {
    case None => Some(1000)
    case Some(s) => s.toIntOption.filter(_ >= 1)
  }

  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getQuery)
      .flatMap(_.split("&").collectFirst {
        case q if q.startsWith(s"$name=") => q.drop(name.length + 1)
      })

  private def register(): Unit = {
    server.createContext("/query", (ex: HttpExchange) => handle(ex) {
      // com.sun HttpServer matches contexts by PREFIX: without this,
      // /queryanything would be served as /query instead of 404ing
      if (ex.getRequestURI.getPath != "/query") respond(ex, 404, "not found\n")
      else if (ex.getRequestMethod != "POST")
        respond(ex, 405, "method not allowed\n")
      else {
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val node =
          try mapper.readTree(if (body.isEmpty) "{}" else body)
          catch { case _: JsonProcessingException => mapper.missingNode() }
        def opt(f: String): Option[String] =
          Option(node.get(f)).filterNot(_.isNull).map(_.asText)
        val (rrname, rdata) = (opt("rrname"), opt("rdata"))
        val prefix = opt("rrname_prefix")
        val limit = parseLimit(
          Option(node.get("limit")).filterNot(_.isNull).map(_.asText))
        if (!node.isObject) respond(ex, 400, "body must be a JSON object\n")
        else if (Seq("rrname", "rdata", "rrtype", "sensor_id", "rrname_prefix")
            .exists(node.path(_).isContainerNode))
          respond(ex, 400,
            "rrname, rdata, rrtype, sensor_id and rrname_prefix take scalars\n")
        else if (limit.isEmpty)
          respond(ex, 400, "invalid limit\n")
        else if (prefix.isDefined) {
          if (rrname.isDefined || rdata.isDefined || prefix.get.isEmpty)
            respond(ex, 400,
              "rrname_prefix must be non-empty and alone\n")
          else
            // prefix range scan (extension; the reference's forward
            // scan shape); rrtype/sensor_id apply as residual equality
            // filters (silently ignoring them would serve a superset as
            // if it were the answer)
            writeNdjson(ex, store.answerPrefix(prefix.get, limit.get,
              opt("rrtype"), opt("sensor_id")), notFoundOnEmpty = false)
        }
        else if (rrname.isEmpty && rdata.isEmpty)
          respond(ex, 400, "one of rrname or rdata is required\n")
        else writeNdjson(ex, store.answerPoint(rrname, rdata, opt("rrtype"),
          opt("sensor_id"), limit.get), notFoundOnEmpty = false)
      }
    })

    server.createContext("/pdns/query/", (ex: HttpExchange) => handle(ex) {
      val subject = ex.getRequestURI.getPath.stripPrefix("/pdns/query/")
      if (subject.isEmpty) respond(ex, 404, "not found\n")
      else parseLimit(queryParam(ex, "limit")) match {
        case None => respond(ex, 400, "invalid limit\n")
        case Some(l) =>
          writeNdjson(ex, QueryServer.pdnsQuery(store, subject, l),
            notFoundOnEmpty = true)
      }
    })

    // Server-side CIDR range query (Q9 as an HTTP surface — the reference
    // can only expand client-side): `GET /pdns/cidr/<block>[?limit=]`,
    // v4 or v6, NDJSON like /pdns/query. The block's '/' arrives as a
    // path segment, so everything after the prefix is the CIDR.
    server.createContext("/pdns/cidr/", (ex: HttpExchange) => handle(ex) {
      val cidr = ex.getRequestURI.getPath.stripPrefix("/pdns/cidr/")
      val limit = parseLimit(queryParam(ex, "limit"))
      if (cidr.isEmpty) respond(ex, 404, "not found\n")
      else if (limit.isEmpty) respond(ex, 400, "invalid limit\n")
      else {
        // parse errors (bad prefix length, malformed address) are client
        // errors, caught before anything is read
        val bad =
          try {
            if (cidr.contains(':')) Net.cidrBounds6(cidr) else Net.cidrBounds(cidr)
            None
          } catch {
            // NumberFormatException is an IllegalArgumentException (bad
            // prefix digits); MatchError = missing '/'
            case e: IllegalArgumentException => Some(e.getMessage)
            case e: MatchError => Some(e.getMessage)
          }
        if (bad.isDefined) respond(ex, 400, s"bad cidr: ${bad.get}\n")
        else writeNdjson(ex, store.answerCidr(cidr, limit.get),
          notFoundOnEmpty = true)
      }
    })

    server.createContext("/stats", (ex: HttpExchange) => handle(ex) {
      if (ex.getRequestURI.getPath != "/stats") respond(ex, 404, "not found\n")
      else {
        // num_goroutines: the JVM stand-in for runtime.NumGoroutine()
        // (`query_graphql.go:307-311`) is the live thread count; the
        // serving totals are the engine-stats counters (engine.c:480-514)
        // as cumulative values
        val t = stats.totals
        respond(ex, 200,
          s"""{"total_count":${store.totalCount()},"num_goroutines":${Thread.activeCount()},"queries":${t("queries")},"errors":${t("errors")},"bytes_out":${t("bytes_out")}}""" + "\n")
      }
    })

    // Q1 — the reference's GraphQL surface (README.md:250-283): the
    // `entries` query with field selection, enum-or-string rrtype,
    // unix-seconds + rfc3339 timestamp fields, and the nested `aliases`
    // virtual self-join, parsed and checked against the schema by
    // [[Graphql]] without a GraphQL engine dependency.
    server.createContext("/graphql", (ex: HttpExchange) => handle(ex) {
      if (ex.getRequestURI.getPath != "/graphql")
        respond(ex, 404, "not found\n")
      else if (ex.getRequestMethod != "POST")
        respond(ex, 405, "method not allowed\n")
      else {
        val raw = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        // accept both bare GraphQL and {"query": "...", "variables": {...}}
        // JSON envelopes; the envelope is detected by PARSING, not by
        // sniffing the first characters — `{ "query": ... }` with inner
        // whitespace is still an envelope, while a bare GraphQL body
        // starting with '{' fails JSON parsing and falls through untouched
        val (gql, vars, op) = parseEnvelope(raw).getOrElse((raw, None, None))
        Graphql.execute(gql, vars, store, op) match {
          case Left(err) => respond(ex, 400, errorJson(err))
          case Right(json) => respond(ex, 200, json)
        }
      }
    })
  }

  /** GraphQL-shaped error object, built with the JSON mapper so messages
    * containing quotes/backslashes stay valid JSON. */
  private def errorJson(message: String): String = {
    val root = mapper.createObjectNode()
    root.putArray("errors").addObject().put("message", message)
    mapper.writeValueAsString(root)
  }

  /** Some((query, variables, operationName)) iff the body is a valid JSON
    * object envelope with a string `query` member; `variables` is its
    * optional object member and `operationName` its optional string one,
    * which picks the operation to run from a document of several (the
    * standard GraphQL-over-HTTP envelope). */
  private def parseEnvelope(raw: String)
      : Option[(String, Option[JsonNode], Option[String])] =
    if (!raw.trim.startsWith("{")) None
    else
      try {
        val n = mapper.readTree(raw)
        Option(n.get("query")).filter(_.isTextual).map { q =>
          (q.asText,
            Option(n.get("variables")).filter(_.isObject),
            Option(n.get("operationName")).filter(_.isTextual).map(_.asText))
        }
      } catch { case _: Exception => None }

  private def handle(ex: HttpExchange)(body: => Unit): Unit = {
    stats.queries.incrementAndGet()
    try body
    catch {
      case e: Exception =>
        stats.errors.incrementAndGet()
        try respond(ex, 500, s"internal error: ${e.getMessage}\n")
        catch { case _: Exception => () }
    }
    finally ex.close()
  }

  /** [[QueryServer.ndjsonLine]] per row. */
  private def writeNdjson(ex: HttpExchange, obs: Seq[Observation],
      notFoundOnEmpty: Boolean): Unit = {
    if (obs.isEmpty && notFoundOnEmpty) { respond(ex, 404, "not found\n"); return }
    ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
    ex.sendResponseHeaders(200, 0) // chunked
    val out: OutputStream = ex.getResponseBody
    obs.foreach { o =>
      val line = QueryServer.ndjsonLine(o).getBytes(UTF_8)
      out.write(line)
      out.write('\n')
      stats.bytesOut.addAndGet(line.length + 1L)
    }
    out.close()
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    if (code >= 400) stats.errors.incrementAndGet(): Unit
    ex.getResponseHeaders.set("Content-Type",
      if (body.startsWith("{")) "application/json" else "text/plain")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    stats.bytesOut.addAndGet(bytes.length.toLong)
    ex.getResponseBody.close()
  }
}

object QueryServer {
  private val lineMapper = new ObjectMapper()

  /** One row as an NDJSON line (no newline) in the reference's dump
    * shape: field order, unix-seconds ints
    * (`observation/observation.go:26-37`). Every REST route and the
    * `query` CLI write these. */
  private[graft] def ndjsonLine(o: Observation): String = {
    val n = lineMapper.createObjectNode()
    n.put("rrname", o.rrname); n.put("rdata", o.rdata)
    n.put("rrtype", o.rrtype); n.put("sensor_id", o.sensor_id)
    n.put("count", o.count)
    n.put("time_first", unixSeconds(o.first_seen))
    n.put("time_last", unixSeconds(o.last_seen))
    lineMapper.writeValueAsString(n)
  }

  /** `/pdns/query`'s rows: CIRCL bag semantics, the subject as rrname
    * THEN as rdata, concatenated (duplicates kept —
    * `query_rest.go:58-70`), each lookup capped at `limit`. */
  private[graft] def pdnsQuery(store: ObservationStore, subject: String,
      limit: Int): Seq[Observation] =
    store.answerPoint(rrname = Some(subject), limit = limit) ++
      store.answerPoint(rdata = Some(subject), limit = limit)

  /** The one seconds rule of every serving surface (REST, GraphQL, the
    * TCP wire): floor, so 1969-12-31T23:59:59.5Z is -1, not 0. */
  private[serve] def unixSeconds(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L)

  /** JDK HttpServer slow-client limits, the reference's 5 s read / 10 s
    * write (`query_graphql.go:410-412`). `sun.net.httpserver.maxReqTime`
    * bounds request receipt, `maxRspTime` bounds response delivery; both
    * are read ONCE at ServerConfig class-init, so they are set here —
    * before any HttpServer exists — and only if the operator has not
    * already configured them on the JVM command line. */
  private[serve] lazy val ensureTimeouts: () => Unit = {
    if (System.getProperty("sun.net.httpserver.maxReqTime") == null)
      System.setProperty("sun.net.httpserver.maxReqTime", "5"): Unit
    if (System.getProperty("sun.net.httpserver.maxRspTime") == null)
      System.setProperty("sun.net.httpserver.maxRspTime", "10"): Unit
    () => ()
  }
}
