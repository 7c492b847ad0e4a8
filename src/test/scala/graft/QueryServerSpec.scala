package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame

import graft.operators.ObservationStore
import graft.serve.QueryServer

/** End-to-end HTTP tests mirroring the reference's frontend tests
  * (`query/query_graphql_test.go:148-198`, `query/query_rest_test.go:
  * 124-174`): seed the 3-observation fixture as a disk store, start the
  * real server on an ephemeral port, issue real HTTP requests. Answers
  * are checked against the store's collected plan methods. */
class QueryServerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `agg` written as a disk store and loaded: what a server serves. */
  private def served(agg: DataFrame): ObservationStore = {
    val dir = java.nio.file.Files.createTempDirectory("graft-qs").toString
    ObservationStore.writeDual(agg, dir, numBuckets = 4)
    ObservationStore.load(spark, dir)
  }

  /** A plan's rows as the sorted NDJSON lines the REST routes write. */
  private def planLines(df: DataFrame): Seq[String] =
    TestSpark.observations(df).map(QueryServer.ndjsonLine).sorted

  private lazy val store = {
    import spark.implicits._
    val ts = Timestamp.valueOf("2018-01-01 00:00:00")
    val input = Seq(
      ("foo", "abc", "A", "1.2.3.4", 10L, ts, ts),
      ("bar", "abc", "A", "1.2.3.5", 10L, ts, ts),
      ("baz", "abc", "A", "1.2.3.4", 1L, ts, ts)
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
      "timestamp_start", "timestamp_end")
    served(ObservationStore.aggregate(input))
  }

  private lazy val server = { val s = new QueryServer(store); s.start(); s }
  private lazy val client = HttpClient.newHttpClient()
  private def base = s"http://localhost:${server.boundPort}"

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /query by rrname -> 1 entry with aggregate fields") {
    val r = post("/query", """{"rrname": "foo"}""")
    assert(r.statusCode() == 200)
    val lines = r.body().trim.split("\n")
    assert(lines.length == 1)
    assert(lines.head.contains("\"rrname\":\"foo\""))
    assert(lines.head.contains("\"count\":10"))
    assert(lines.head.contains("\"time_first\":1514764800"))
  }

  test("POST /query by rdata -> 2 entries; residual filter narrows") {
    assert(post("/query", """{"rdata": "1.2.3.4"}""").body().trim
      .split("\n").length == 2)
    val narrowed = post("/query",
      """{"rdata": "1.2.3.4", "rrname": "baz"}""").body().trim.split("\n")
    assert(narrowed.length == 1 && narrowed.head.contains("\"baz\""))
  }

  test("POST /query without rrname/rdata -> 400; wrong method -> 405") {
    assert(post("/query", """{"rrtype": "A"}""").statusCode() == 400)
    assert(get("/query").statusCode() == 405)
  }

  test("POST /query rrname_prefix: range scan, validation, residuals") {
    val r = post("/query", """{"rrname_prefix": "ba"}""")
    assert(r.statusCode() == 200)
    assert(r.body().trim.split("\n").sorted.toSeq ==
      planLines(store.entriesPrefix("ba")))
    val names = r.body().trim.split("\n")
      .map(l => "\"rrname\":\"([a-z]+)\"".r.findFirstMatchIn(l).get.group(1))
      .sorted.toSeq
    assert(names == Seq("bar", "baz"))
    // prefix is exclusive with point params; empty prefix rejected
    assert(post("/query",
      """{"rrname_prefix": "ba", "rrname": "foo"}""").statusCode() == 400)
    assert(post("/query", """{"rrname_prefix": ""}""").statusCode() == 400)
    // a second store, where bar and baz differ in rrtype
    import spark.implicits._
    val ts = Timestamp.valueOf("2018-01-01 00:00:00")
    val input = Seq(
      ("foo", "abc", "A", "1.2.3.4", 10L, ts, ts),
      ("bar", "abc", "A", "1.2.3.5", 10L, ts, ts),
      ("baz", "abc", "AAAA", "::1", 1L, ts, ts)
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
      "timestamp_start", "timestamp_end")
    val dir = java.nio.file.Files.createTempDirectory("graft-qs-pfx").toString
    ObservationStore.writeDual(ObservationStore.aggregate(input), dir,
      numBuckets = 4)
    val diskSrv = new QueryServer(ObservationStore.load(spark, dir))
    diskSrv.start()
    try {
      val rf = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:${diskSrv.boundPort}/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"rrname_prefix": "ba"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(rf.statusCode() == 200)
      val fastNames = rf.body().trim.split("\n")
        .map(l => "\"rrname\":\"([a-z]+)\"".r.findFirstMatchIn(l).get.group(1))
        .sorted.toSeq
      assert(fastNames == names)
      // rrtype/sensor_id are residual filters on the prefix scan, not
      // silently ignored (bar is A, baz is AAAA)
      def prefixWith(extra: String): Seq[String] = {
        val resp = client.send(
          HttpRequest.newBuilder(
            URI.create(s"http://localhost:${diskSrv.boundPort}/query"))
            .POST(HttpRequest.BodyPublishers.ofString(
              s"""{"rrname_prefix": "ba"$extra}""")).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(resp.statusCode() == 200)
        resp.body().trim.split("\n").filter(_.nonEmpty)
          .map(l => "\"rrname\":\"([a-z]+)\"".r
            .findFirstMatchIn(l).get.group(1)).sorted.toSeq
      }
      assert(prefixWith(""","rrtype": "A"""") == Seq("bar"))
      assert(prefixWith(""","rrtype": "AAAA"""") == Seq("baz"))
      assert(prefixWith(""","sensor_id": "abc"""") == Seq("bar", "baz"))
      assert(prefixWith(""","sensor_id": "nope"""") == Seq.empty)
    } finally diskSrv.stop()
  }

  test("GET /pdns/query/<subject>: rrname-or-rdata union, 404 on empty") {
    val r = get("/pdns/query/1.2.3.4")
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("")
      .contains("ndjson"))
    assert(r.body().trim.split("\n").length == 2) // foo + baz via rdata
    assert(get("/pdns/query/foo").body().trim.split("\n").length == 1)
    assert(get("/pdns/query/doesnotexist").statusCode() == 404)
    assert(get("/pdns/query/1.2.3.4?limit=1").body().trim.split("\n").length <= 2)
  }

  test("GET /pdns/cidr/<block>: server-side v4+v6 range query over rdata") {
    val r = get("/pdns/cidr/1.2.3.0/24")
    assert(r.statusCode() == 200, r.body())
    // foo and baz rdata fall in 1.2.3.0/24 (1.2.3.4, 1.2.3.5 = 3 entries)
    assert(r.body().trim.split("\n").length == 3, r.body())
    assert(get("/pdns/cidr/1.2.3.4/32").body().trim.split("\n").length == 2)
    assert(get("/pdns/cidr/9.9.9.0/24").statusCode() == 404) // empty
    assert(get("/pdns/cidr/2001:db8::/64").statusCode() == 404) // no v6 rdata
    assert(get("/pdns/cidr/nonsense").statusCode() == 400)
    assert(get("/pdns/cidr/1.2.3.0/33").statusCode() == 400)
    assert(get("/pdns/cidr/1.2.3.0/24?limit=0").statusCode() == 400)
    assert(get("/pdns/cidr/1.2.3.0/24?limit=1").body().trim
      .split("\n").length == 1)
  }

  test("GET /pdns/cidr/ and /pdns/query answer like the collected plan") {
    assert(store.serveCidr("1.2.3.0/24").isDefined)  // served by the readers
    assert(ObservationStore.inMemory(store.forward.drop("bucket"))
      .serveCidr("1.2.3.0/24").isEmpty)              // in memory: not served
    for ((path, status, plan) <- Seq(
        ("/pdns/cidr/1.2.3.0/24", 200, Some(store.cidrQuery("1.2.3.0/24"))),
        ("/pdns/cidr/1.2.3.4/32", 200, Some(store.cidrQuery("1.2.3.4/32"))),
        ("/pdns/cidr/0.0.0.0/0", 200, Some(store.cidrQuery("0.0.0.0/0"))),
        ("/pdns/cidr/9.9.9.0/24", 404, Some(store.cidrQuery("9.9.9.0/24"))),
        ("/pdns/cidr/2001:db8::/64", 404, Some(store.cidrQuery("2001:db8::/64"))),
        ("/pdns/cidr/nonsense", 400, None),
        ("/pdns/cidr/1.2.3.0/33", 400, None), ("/pdns/cidr/::g/64", 400, None),
        ("/pdns/cidr/1.2.3.0/24?limit=0", 400, None),
        ("/pdns/cidr/1.2.3.0/24?limit=x", 400, None),
        ("/pdns/query/1.2.3.4", 200, Some(store.restQuery("1.2.3.4"))),
        ("/pdns/query/absent", 404, Some(store.restQuery("absent"))),
        ("/pdns/query/foo?limit=1", 200, Some(store.restQuery("foo", 1))))) {
      val r = get(path)
      assert(r.statusCode() == status, s"$path: ${r.body()}")
      if (status == 200) {
        assert(r.headers().firstValue("Content-Type").orElse("")
          .contains("ndjson"), path)
        assert(r.body().trim.split("\n").sorted.toSeq == planLines(plan.get), path)
      }
      if (status == 404) assert(plan.get.isEmpty, path)
    }
    // a binding limit returns `limit` rows from the server and the plan
    assert(get("/pdns/cidr/1.2.3.0/24?limit=2").body().trim
      .split("\n").length == 2)
    assert(store.cidrQuery("1.2.3.0/24", 2).count() == 2)
    assert(get("/pdns/query/1.2.3.4?limit=1").body().trim
      .split("\n").length == 1)
    assert(store.entries(rdata = Some("1.2.3.4"), limit = 1).count() == 1)
    // POST routes: residuals on a point and on a prefix, and GraphQL
    // aliases; GraphQL answers one JSON document, so its entries are
    // compared as a sorted list
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def lines(path: String, r: HttpResponse[String]): Seq[String] =
      if (path != "/graphql") r.body().trim.split("\n").sorted.toSeq
      else {
        val es = mapper.readTree(r.body()).path("data").path("entries")
        (0 until es.size()).map(i => es.get(i).toString).sorted
      }
    // the GraphQL document below, built from the entries and aliases plans
    val gqlPlan = {
      def secs(t: Timestamp) = Math.floorDiv(t.getTime, 1000L)
      val es = store.entries(rdata = Some("1.2.3.4"))
      val as = store.aliases(es, perEntryLimit = 1).collect().toSeq
      es.collect().toSeq.map { e =>
        val (n, s, d) = (e.getAs[String]("rrname"), e.getAs[String]("sensor_id"),
          e.getAs[String]("rdata"))
        val o = mapper.createObjectNode()
        o.put("rrname", n); o.put("rdata", d); o.put("count", e.getAs[Long]("count"))
        o.put("time_first", secs(e.getAs[Timestamp]("first_seen")))
        o.put("time_last", secs(e.getAs[Timestamp]("last_seen")))
        val arr = o.putArray("aliases")
        as.filter(a => a.getAs[String]("e_rrname") == n &&
            a.getAs[String]("e_sensor_id") == s && a.getAs[String]("e_rdata") == d)
          .sortBy(a => (a.getAs[String]("rrname"), a.getAs[String]("rrtype")))
          .foreach { a =>
            val x = arr.addObject()
            x.put("rrname", a.getAs[String]("rrname"))
            x.put("rrtype", a.getAs[String]("rrtype"))
            x.put("count", a.getAs[Long]("count"))
            x.put("time_last_rfc3339", java.time.Instant.ofEpochSecond(
              secs(a.getAs[Timestamp]("last_seen"))).toString)
          }
        o.toString
      }.sorted
    }
    for ((path, body, plan) <- Seq(
        ("/query", """{"rdata": "1.2.3.4", "rrtype": "A", "sensor_id": "abc"}""",
          planLines(store.entries(rdata = Some("1.2.3.4"), rrtype = Some("A"),
            sensorId = Some("abc")))),
        ("/query", """{"rrname_prefix": "ba", "rrtype": "A", "sensor_id": "abc"}""",
          planLines(store.entriesPrefix("ba", rrtype = Some("A"),
            sensorId = Some("abc")))),
        ("/graphql", """query { entries(rdata: "1.2.3.4") { rrname rdata
          | count time_first time_last aliases(limit: 1) { rrname rrtype
          | count time_last_rfc3339 } } }""".stripMargin, gqlPlan))) {
      val r = post(path, body)
      assert(r.statusCode() == 200, s"$path $body: ${r.body()}")
      assert(lines(path, r).size == 2, s"$path $body: ${r.body()}")
      assert(lines(path, r) == plan, s"$path $body")
    }
  }

  test("GET /stats -> total_count + goroutines + serving counters") {
    val body = get("/stats").body().trim
    assert(body.matches("""\{"total_count":3,"num_goroutines":\d+,""" +
      """"queries":\d+,"errors":\d+,"bytes_out":\d+\}"""), body)
  }

  test("POST /graphql: the reference's canonical entries query") {
    val q = """query {
      |  entries(rrname: "foo", sensor_id: "abc", limit: 1) {
      |    rrname rrtype rdata time_first time_last sensor_id count
      |  }
      |}""".stripMargin
    val r = post("/graphql", q)
    assert(r.statusCode() == 200)
    val body = r.body()
    assert(body.contains(""""data":{"entries":[{"""), body)
    assert(body.contains(""""rrname":"foo""""), body)
    assert(body.contains(""""count":10"""), body)
    assert(body.contains(""""time_first":1514764800"""), body)
    // JSON envelope form works too
    val env = post("/graphql",
      """{"query": "query { entries(rdata: \"1.2.3.4\") { rrname } }"}""")
    assert(env.body().split("\"rrname\"").length - 1 == 2)
  }

  test("POST /graphql: field selection, rfc3339, enum rrtype, aliases") {
    val r = post("/graphql",
      """query { entries(rrname: "foo", rrtype: A) {
        | rrname time_first_rfc3339 aliases { rrname rrtype } } }""".stripMargin)
    assert(r.statusCode() == 200)
    val body = r.body()
    assert(body.contains(""""time_first_rfc3339":"2018-01-01T00:00:00Z""""), body)
    assert(!body.contains(""""count""""), body) // unselected field omitted
    // foo(1.2.3.4) aliases to baz (same rdata+sensor, different name)
    assert(body.contains(""""aliases":[{"rrname":"baz","rrtype":"A"}]"""), body)
  }

  test("POST /graphql: aliases limit argument caps the per-entry fan-out") {
    val r = post("/graphql",
      """query { entries(rrname: "foo") { rrname aliases(limit: 0) { rrname } } }""")
    assert(r.statusCode() == 200)
    assert(r.body().contains(""""aliases":[]"""), r.body())
    // default-limit form still returns the alias
    val r2 = post("/graphql",
      """query { entries(rrname: "foo") { rrname aliases { rrname } } }""")
    assert(r2.body().contains(""""aliases":[{"rrname":"baz"}]"""), r2.body())
  }

  test("POST /graphql: errors — no rrname/rdata, unsupported query") {
    assert(post("/graphql", "query { entries(rrtype: A) { rrname } }")
      .statusCode() == 400)
    assert(post("/graphql", "query { stats { total } }").statusCode() == 400)
    // a limit beyond Int range is a client error (400), not a 500
    assert(post("/graphql",
      "query { entries(rrname: \"foo\", limit: 99999999999) { rrname } }")
      .statusCode() == 400)
    assert(post("/graphql",
      """query { entries(rrname: "foo") { rrname aliases(limit: 99999999999) { rrname } } }""")
      .statusCode() == 400)
  }

  test("POST /graphql: introspection probe returns the schema document") {
    val r = post("/graphql",
      "query IntrospectionQuery { __schema { queryType { name } types { name kind } } }")
    assert(r.statusCode() == 200)
    val schema = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.body()).path("data").path("__schema")
    assert(schema.path("queryType").path("name").asText() == "Query")
    val typeNames = (0 until schema.path("types").size())
      .map(i => schema.path("types").get(i).path("name").asText()).toSet
    assert(Set("Query", "Entry", "LeafEntry", "Stats", "RRType")
      .subsetOf(typeNames), typeNames)
    // the enum carries all 46 reference values
    val rrtype = (0 until schema.path("types").size())
      .map(schema.path("types").get(_))
      .find(_.path("name").asText() == "RRType").get
    assert(rrtype.path("enumValues").size() == 46)
  }

  test("POST /graphql: introspection lists every served field's arguments and id") {
    val r = post("/graphql",
      "{ __schema { types { name fields { name args { name type { name } } } } } }")
    assert(r.statusCode() == 200, r.body())
    val types = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.body()).path("data").path("__schema").path("types")
    def fields(typeName: String): Map[String, Seq[(String, String)]] = {
      val t = (0 until types.size()).map(types.get)
        .find(_.path("name").asText() == typeName).get
      (0 until t.path("fields").size()).map(t.path("fields").get).map { f =>
        f.path("name").asText() -> (0 until f.path("args").size())
          .map(f.path("args").get)
          .map(a => a.path("name").asText() -> a.path("type").path("name").asText())
      }.toMap
    }
    assert(fields("Query")("entries") == Seq("rrname" -> "String",
      "rdata" -> "String", "rrtype" -> "RRType", "sensor_id" -> "String",
      "limit" -> "Int"))
    assert(fields("Query")("stats").isEmpty)
    assert(fields("Entry")("aliases") == Seq("limit" -> "Int"))
    for (t <- Seq("Entry", "LeafEntry")) {
      assert(fields(t).contains("id"), t)
      assert(fields(t).removed("aliases").values.forall(_.isEmpty), t)
    }
    // every listed field is one the executor serves
    val served = post("/graphql", """{ entries(rrname: "foo") { id count rrname
      rrtype rdata time_first time_first_rfc3339 time_last time_last_rfc3339
      sensor_id aliases(limit: 1) { id rrname } } }""")
    assert(served.statusCode() == 200, served.body())
  }

  test("POST /graphql: operationName picks one operation of several") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def envelope(op: Option[String]): String = {
      val n = mapper.createObjectNode()
      n.put("query", """query Names { entries(rdata: "1.2.3.4") { rrname } }
        query Total { stats { total_count } }
        query Foo($n: String = "foo") { entries(rrname: $n) { count } }""")
      op.foreach(n.put("operationName", _))
      mapper.writeValueAsString(n)
    }
    def ok(op: String): String = {
      val r = post("/graphql", envelope(Some(op)))
      assert(r.statusCode() == 200, s"$op: ${r.body()}")
      r.body()
    }
    assert(ok("Total") == """{"data":{"stats":{"total_count":3}}}""")
    assert(ok("Foo") == """{"data":{"entries":[{"count":10}]}}""")
    assert(ok("Names").contains("\"baz\"") && !ok("Names").contains("stats"))
    for ((op, msg) <- Seq(None -> "name one in operationName",
        Some("Nope") -> "Unknown operation named \"Nope\"")) {
      val r = post("/graphql", envelope(op))
      assert(r.statusCode() == 400 && mapper.readTree(r.body())
        .path("errors").path(0).path("message").asText.contains(msg), s"$op: ${r.body()}")
    }
    // a one-operation document runs whatever its name, unless another is asked for
    val one = mapper.createObjectNode()
      .put("query", "query Only { stats { total_count } }")
    assert(post("/graphql", mapper.writeValueAsString(one)).statusCode() == 200)
    one.put("operationName", "Other")
    assert(post("/graphql", mapper.writeValueAsString(one)).statusCode() == 400)
  }

  test("POST /graphql: stats root field (query_graphql.go:166-172)") {
    val r = post("/graphql", "query { stats { total_count num_goroutines } }")
    assert(r.statusCode() == 200)
    assert(r.body().matches(
      """\{"data":\{"stats":\{"total_count":3,"num_goroutines":\d+\}\}\}"""),
      r.body())
    // selection is honored: only the asked-for field comes back
    val only = post("/graphql", "query { stats { total_count } }")
    assert(only.body() == """{"data":{"stats":{"total_count":3}}}""")
  }

  test("POST /graphql: rrtype outside the RRType enum is a schema error") {
    val r = post("/graphql",
      "query { entries(rrname: \"foo\", rrtype: BOGUS) { rrname } }")
    assert(r.statusCode() == 400)
    // GraphQL-shaped error object with a VALID JSON message (the message
    // itself contains quotes — must be escaped, not interpolated raw)
    val errs = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.body()).get("errors")
    assert(errs != null && errs.size() == 1, r.body())
    assert(errs.get(0).get("message").asText().contains("RRType"), r.body())
    // all 46 reference enum values are accepted
    assert(graft.serve.Graphql.RRTypes.size == 46)
    assert(post("/graphql",
      "query { entries(rrname: \"foo\", rrtype: NSEC3PARAM) { rrname } }")
      .statusCode() == 200)
  }

  test("POST /graphql: JSON envelope with inner whitespace still unwraps") {
    val env = post("/graphql",
      """{ "query": "query { entries(rdata: \"1.2.3.4\") { rrname } }" }""")
    assert(env.statusCode() == 200)
    assert(env.body().split("\"rrname\"").length - 1 == 2)
  }

  test("POST /graphql: variables — same rows as the inline form") {
    val inline = post("/graphql",
      """query { entries(rdata: "1.2.3.4", limit: 10) { rrname rdata } }""")
    val varred = post("/graphql",
      """{"query": "query($d: String!, $l: Int) { entries(rdata: $d, limit: $l) { rrname rdata } }",
        | "variables": {"d": "1.2.3.4", "l": 10}}""".stripMargin)
    assert(varred.statusCode() == 200, varred.body())
    assert(varred.body() == inline.body(), varred.body())
    // declared default kicks in when the variable is not supplied
    val defaulted = post("/graphql",
      """{"query": "query($d: String = \"1.2.3.4\") { entries(rdata: $d) { rrname } }"}""")
    assert(defaulted.statusCode() == 200, defaulted.body())
    assert(defaulted.body().split("\"rrname\"").length - 1 == 2)
    // enum through a variable validates against RRType like an inline enum
    val enumVar = post("/graphql",
      """{"query": "query($t: RRType) { entries(rrname: \"foo\", rrtype: $t) { rrname } }",
        | "variables": {"t": "A"}}""".stripMargin)
    assert(enumVar.statusCode() == 200, enumVar.body())
    val badEnum = post("/graphql",
      """{"query": "query($t: RRType) { entries(rrname: \"foo\", rrtype: $t) { rrname } }",
        | "variables": {"t": "BOGUS"}}""".stripMargin)
    assert(badEnum.statusCode() == 400, badEnum.body())
  }

  test("POST /graphql: variables — undefined variable is a 400, not a 500") {
    val r = post("/graphql",
      """{"query": "query($d: String!) { entries(rdata: $d) { rrname } }"}""")
    assert(r.statusCode() == 400, r.body())
    assert(r.body().contains("not defined"), r.body())
    // a quote inside a variable value stays INSIDE its argument (no
    // breakout into the surrounding document)
    val quoted = post("/graphql",
      """{"query": "query($d: String) { entries(rdata: $d) { rrname } }",
        | "variables": {"d": "x\") { rdata } } query { entries(rdata: \"1.2.3.4"}}""".stripMargin)
    assert(quoted.statusCode() == 200, quoted.body())
    assert(quoted.body().contains(""""entries":[]"""), quoted.body())
  }

  test("POST /graphql: multiple root fields and field aliases in one document") {
    val r = post("/graphql",
      """query {
        |  byName: entries(rrname: "foo") { rrname count }
        |  byAddr: entries(rdata: "1.2.3.4") { rrname }
        |  stats { total_count }
        |}""".stripMargin)
    assert(r.statusCode() == 200, r.body())
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.body()).path("data")
    assert(n.path("byName").size() == 1, r.body())
    assert(n.path("byName").get(0).path("count").asLong() == 10L)
    assert(n.path("byAddr").size() == 2, r.body())
    assert(n.path("stats").path("total_count").asLong() == 3L)
    // un-aliased single field keeps the classic response key
    val single = post("/graphql", """query { entries(rrname: "foo") { rrname } }""")
    assert(single.body().contains(""""data":{"entries":["""), single.body())
    // duplicate response keys are a client error, and unknown root
    // fields name the Query type like graphql-go does
    assert(post("/graphql",
      """query { entries(rrname: "a") { rrname } entries(rdata: "b") { rrname } }""")
      .statusCode() == 400)
    val bad = post("/graphql", "query { nope { x } }")
    assert(bad.statusCode() == 400)
    assert(bad.body().contains("on type \\\"Query\\\"") ||
      bad.body().contains("""on type "Query""""), bad.body())
  }

  test("POST /graphql: named and inline fragments expand into selections") {
    val r = post("/graphql",
      """query {
        |  entries(rrname: "foo") { ...core aliases { ...core } }
        |}
        |fragment core on Entry { rrname rrtype }""".stripMargin)
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains(""""rrname":"foo""""), r.body())
    assert(r.body().contains(""""aliases":[{"rrname":"baz","rrtype":"A"}]"""),
      r.body())
    // nested fragments expand transitively
    val nested = post("/graphql",
      """fragment a on Entry { ...b count }
        |fragment b on Entry { rrname }
        |query { entries(rrname: "foo") { ...a } }""".stripMargin)
    assert(nested.statusCode() == 200, nested.body())
    assert(nested.body().contains(""""rrname":"foo""""), nested.body())
    assert(nested.body().contains(""""count":10"""), nested.body())
    // inline fragment
    val inline = post("/graphql",
      """query { entries(rrname: "foo") { ... on Entry { rrname } } }""")
    assert(inline.statusCode() == 200, inline.body())
    assert(inline.body().contains(""""rrname":"foo""""), inline.body())
    // unknown fragment and cycles are client errors, not 500s
    assert(post("/graphql",
      """query { entries(rrname: "foo") { ...nope } }""").statusCode() == 400)
    assert(post("/graphql",
      """fragment a on Entry { ...b }
        |fragment b on Entry { ...a }
        |query { entries(rrname: "foo") { ...a } }""".stripMargin)
      .statusCode() == 400)
  }

  test("POST /graphql: @skip/@include directives, literal and variable-driven") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // literal @skip on a field drops it; the sibling stays
    val r1 = post("/graphql",
      """query { entries(rrname: "foo") { rrname count @skip(if: true) } }""")
    assert(r1.statusCode() == 200, r1.body())
    val e1 = mapper.readTree(r1.body()).path("data").path("entries").get(0)
    assert(e1.has("rrname") && !e1.has("count"), r1.body())
    // @include(if: false) on a root field drops the whole field
    val r2 = post("/graphql",
      """query {
        |  entries(rrname: "foo") @include(if: false) { rrname }
        |  stats { total_count }
        |}""".stripMargin)
    assert(r2.statusCode() == 200, r2.body())
    val d2 = mapper.readTree(r2.body()).path("data")
    assert(!d2.has("entries") && d2.path("stats").path("total_count").asLong() == 3L)
    // variable-driven, through the JSON envelope
    val r3 = post("/graphql", mapper.writeValueAsString {
      val o = mapper.createObjectNode()
      o.put("query",
        "query Q($f: Boolean!) { entries(rrname: \"foo\") { rrname count @skip(if: $f) } }")
      o.putObject("variables").put("f", true)
      o
    })
    assert(r3.statusCode() == 200, r3.body())
    val e3 = mapper.readTree(r3.body()).path("data").path("entries").get(0)
    assert(e3.has("rrname") && !e3.has("count"), r3.body())
    // directive on a fragment spread drops the spread, keeps literals
    val r4 = post("/graphql",
      """query { entries(rrname: "foo") { count ...core @skip(if: true) } }
        |fragment core on Entry { rrname }""".stripMargin)
    assert(r4.statusCode() == 200, r4.body())
    val e4 = mapper.readTree(r4.body()).path("data").path("entries").get(0)
    assert(e4.has("count") && !e4.has("rrname"), r4.body())
    // every root field skipped = empty data, not an error
    val r5 = post("/graphql",
      """query { entries(rrname: "foo") @skip(if: true) { rrname } }""")
    assert(r5.statusCode() == 200, r5.body())
    assert(mapper.readTree(r5.body()).path("data").size() == 0, r5.body())
    // unknown directive and missing if: are client errors, not 500s
    assert(post("/graphql",
      """query { entries(rrname: "foo") { rrname @nope(if: true) } }""")
      .statusCode() == 400)
    assert(post("/graphql",
      """query { entries(rrname: "foo") { rrname @skip } }""").statusCode() == 400)
    // a NESTED selection emptied by @skip is an error for that field —
    // it must never mask un-skipped sibling roots into empty data
    val r6 = post("/graphql",
      """query {
        |  stats { total_count }
        |  entries(rrname: "foo") { count @skip(if: true) }
        |}""".stripMargin)
    assert(r6.statusCode() == 400, r6.body())
  }

  test("graphql string args: escaped quotes keep full value fidelity") {
    import spark.implicits._
    val ts = Timestamp.valueOf("2018-01-01 00:00:00")
    val txtStore = served(ObservationStore.aggregate(Seq(
      ("quoted.example", "s1", "TXT", """say "hi" ok""", 2L, ts, ts),
      ("quoted.example", "s1", "TXT", """say""", 1L, ts, ts)
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
      "timestamp_start", "timestamp_end")))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // inline literal with escaped quotes must match the full TXT value —
    // a parser that stops at the escaped quote would match "say\" = no row
    val inline = graft.serve.Graphql.execute(
      """query { entries(rdata: "say \"hi\" ok") { rrname count } }""",
      txtStore)
    assert(inline.isRight, inline)
    val n1 = mapper.readTree(inline.toOption.get).path("data").path("entries")
    assert(n1.size() == 1 && n1.get(0).path("count").asLong() == 2L, inline)
    // same value supplied as a variable (mapper-escaped on splice)
    val vars = mapper.createObjectNode()
    vars.put("r", """say "hi" ok""")
    val viaVar = graft.serve.Graphql.execute(
      """query Q($r: String!) { entries(rdata: $r) { rrname count } }""",
      Some(vars), txtStore)
    assert(viaVar == inline, viaVar)
    // the unescaped PREFIX of the quoted value is a different key and
    // must keep matching its own row (no cross-talk from unescaping)
    val vars2 = mapper.createObjectNode()
    vars2.put("r", "say")
    val plain = graft.serve.Graphql.execute(
      """query Q($r: String!) { entries(rdata: $r) { count } }""",
      Some(vars2), txtStore)
    assert(plain.toOption.get.contains("\"count\":1"), plain)
  }

  test("graphql id: distinct key tuples never collide across field boundaries") {
    import spark.implicits._
    val ts = Timestamp.valueOf("2018-01-01 00:00:00")
    val ambiguous = Seq(
      ("ab", "c", "A", "x", 1L, ts, ts),
      ("a", "bc", "A", "x", 1L, ts, ts)
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
      "timestamp_start", "timestamp_end")
    val st = served(ObservationStore.aggregate(ambiguous))
    def idsOf(rrname: String): Seq[String] = {
      val body = graft.serve.Graphql.execute(
        s"""query { entries(rrname: "$rrname") { id } }""", st)
        .fold(e => fail(e), identity)
      """"id":"([0-9a-f-]+)"""".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    val (idAb, idA) = (idsOf("ab"), idsOf("a"))
    assert(idAb.size == 1 && idA.size == 1)
    assert(idAb.head != idA.head, "concatenation-ambiguous keys must differ")
  }

  test("disk-backed store serves GraphQL/REST through the fast path") {
    import spark.implicits._
    // a second disk store, where foo and bar share one rdata: every
    // endpoint below answers from its PointReaders
    val ts = Timestamp.valueOf("2018-01-01 00:00:00")
    val dir = java.nio.file.Files.createTempDirectory("graft-qs-disk").toString
    ObservationStore.writeDual(ObservationStore.aggregate(Seq(
      ("foo", "abc", "A", "1.2.3.4", 10L, ts, ts),
      ("bar", "abc", "A", "1.2.3.4", 2L, ts, ts)
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
      "timestamp_start", "timestamp_end")), dir, numBuckets = 4)
    val disk = ObservationStore.load(spark, dir)
    assert(disk.servePoint(rrname = Some("foo")).isDefined) // fast path on
    val srv = new QueryServer(disk)
    srv.start()
    try {
      def g(path: String) = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:${srv.boundPort}$path")).GET()
          .build(), HttpResponse.BodyHandlers.ofString())
      def p(path: String, body: String) = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://localhost:${srv.boundPort}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      // REST: CIRCL bag union via two fast lookups; unix-seconds ints
      val rest = g("/pdns/query/1.2.3.4").body().trim.split("\n")
      assert(rest.length == 2)
      assert(rest.forall(_.contains("\"time_first\":1514764800")))
      // POST /query with residual filter
      val q = p("/query", """{"rdata":"1.2.3.4","rrname":null}""")
        .body().trim.split("\n")
      assert(q.length == 2 && q.exists(_.contains("\"rrname\":\"foo\"")))
      // GraphQL with aliases: the entries and their inverted lookups
      val gql = p("/graphql",
        """{ entries(rrname: "foo") { rrname rdata count time_first
          |  aliases { rrname } } }""".stripMargin).body()
      assert(gql.contains("\"count\":10"), gql)
      assert(gql.contains("\"aliases\":[{\"rrname\":\"bar\"}]"), gql)
      // miss → 404 on REST
      assert(g("/pdns/query/absent").statusCode() == 404)
    } finally srv.stop()
  }

  test("timestamps floor to unix seconds on REST, POST /query and GraphQL, both paths") {
    import spark.implicits._
    // half a second before the epoch: floor gives -1, truncation 0
    val ts = Timestamp.from(java.time.Instant.parse("1969-12-31T23:59:59.500Z"))
    val agg = ObservationStore.aggregate(Seq(
      ("pre.example", "s1", "A", "10.0.0.1", 1L, ts, ts)
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
      "timestamp_start", "timestamp_end"))
    val disk = served(agg)
    assert(disk.servePoint(rrname = Some("pre.example")).isDefined)
    // the plan's row renders the same floored seconds
    assert(planLines(disk.entries(rrname = Some("pre.example"))).map(
      _.contains("\"time_first\":-1,\"time_last\":-1}")) == Seq(true))
    val srv = new QueryServer(disk)
    srv.start()
    try {
      def send(b: HttpRequest.Builder) = client.send(b.build(),
        HttpResponse.BodyHandlers.ofString())
      def at(path: String) = HttpRequest.newBuilder(
        URI.create(s"http://localhost:${srv.boundPort}$path"))
      val rest = send(at("/pdns/query/pre.example").GET())
      val point = send(at("/query").POST(HttpRequest.BodyPublishers
        .ofString("""{"rdata": "10.0.0.1"}""")))
      val gql = send(at("/graphql").POST(HttpRequest.BodyPublishers
        .ofString("""{ entries(rrname: "pre.example") { time_first
          | time_last time_first_rfc3339 } }""".stripMargin)))
      for (r <- Seq(rest, point)) {
        assert(r.statusCode() == 200, r.body())
        assert(r.body().contains("\"time_first\":-1,\"time_last\":-1}"),
          r.body())
      }
      assert(gql.statusCode() == 200, gql.body())
      assert(gql.body() == """{"data":{"entries":[{"time_first":-1,""" +
        """"time_last":-1,"time_first_rfc3339":"1969-12-31T23:59:59Z"}]}}""",
        gql.body())
    } finally srv.stop()
  }

  test("graphql regression table: argument values are data, the schema is checked") {
    import spark.implicits._
    val ts = Timestamp.valueOf("2018-01-01 00:00:00")
    val agg = ObservationStore.aggregate(Seq(
      ("foo", "abc", "A", "1.2.3.4", 10L, ts, ts),
      ("bar", "abc", "A", "1.2.3.5", 10L, ts, ts),
      ("baz", "abc", "A", "1.2.3.4", 1L, ts, ts),
      ("l1.example", "abc", "TXT", "limit: 1", 1L, ts, ts),
      ("l2.example", "abc", "TXT", "limit: 1", 1L, ts, ts),
      ("l3.example", "abc", "TXT", "limit: 1", 1L, ts, ts),
      ("__schema.example", "abc", "A", "1.2.3.9", 1L, ts, ts),
      ("frag.example", "abc", "TXT", "fragment x on Entry { rrname }", 1L, ts, ts)
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
      "timestamp_start", "timestamp_end"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def names(ns: String*) = Right(ns.map(n => s"""{"rrname":"$n"}"""))
    val withVar = mapper.createObjectNode()
    withVar.put("query",
      """query($l: Int) { entries(rdata: "1.2.3.4", limit: $l) { rrname } }""")
    withVar.putObject("variables").put("l", -2)
    // request -> the sorted `entries` objects, or a fragment of the one
    // error message
    val table: Seq[(String, Either[String, Seq[String]])] = Seq(
      """{ entries(rdata: "limit: 1") { rrname } }""" ->
        names("l1.example", "l2.example", "l3.example"),
      """{ entries(rrname: "__schema.example") { rrname } }""" ->
        names("__schema.example"),
      """{ entries(rdata: "fragment x on Entry { rrname }") { rrname } }""" ->
        names("frag.example"),
      "# find foo {\n{ entries(rrname: \"foo\") { rrname } }" -> names("foo"),
      """{ entries(rdata: "1.2.3.4", limit: -1) { rrname } }""" ->
        Left("""Argument "limit" has invalid value -1,"""),
      """{ entries(rdata: "1.2.3.4", limit: "1") { rrname } }""" ->
        Left("""Argument "limit" has invalid value "1","""),
      mapper.writeValueAsString(withVar) ->
        Left("""Argument "limit" has invalid value -2,"""),
      """{ entries(rdata: "1.2.3.4", limit: 1.9) { rrname } }""" ->
        Left("""Argument "limit" has invalid value 1.9,"""),
      """{ entries(rdata: "1.2.3.4", limit: 2147483648) { rrname } }""" ->
        Left("""Argument "limit" has invalid value 2147483648,"""),
      """{ entries(rrname: "foo", limit: 2147483647) { rrname } }""" -> names("foo"),
      """{ entries(rrname: "foo", limit: 0) { rrname } }""" -> names(),
      """{ entries(rrname: "foo") { name: rrname } }""" ->
        Right(Seq("""{"name":"foo"}""")),
      """{ entries(rrname: "foo") { __typename rrname } }""" ->
        Right(Seq("""{"__typename":"Entry","rrname":"foo"}""")),
      """{ entries(rrname: "foo") { rrname aliases(limit: -1) { rrname } } }""" ->
        Left("""Argument "limit" has invalid value -1,"""),
      """{ entries(rrname: "foo") { rrname nope } }""" ->
        Left("""Cannot query field "nope" on type "Entry"."""),
      """{ entries(rrname: "foo", rrnme: "foo") { rrname } }""" ->
        Left("""Unknown argument "rrnme" on field "Query.entries"."""),
      """{ entries(rrname: "foo", sensor_id: "abc", sensor_id: "x") { rrname } }""" ->
        Left("""There can be only one argument named "sensor_id"."""),
      """{ entries(rrname: "foo") { rrname } } { stats { total_count } }""" ->
        Left("more than one operation"))
    def check(srv: QueryServer, rows: Seq[(String, Either[String, Seq[String]])]) =
      rows.flatMap { case (req, want) =>
        val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:${srv.boundPort}/graphql"))
          .POST(HttpRequest.BodyPublishers.ofString(req)).build(),
          HttpResponse.BodyHandlers.ofString())
        val n = mapper.readTree(r.body())
        val got: Either[String, Seq[String]] =
          if (r.statusCode() == 400) Left(n.path("errors").path(0).path("message").asText)
          else Right((0 until n.path("data").path("entries").size())
            .map(n.path("data").path("entries").get(_).toString).sorted)
        val ok = (got, want) match {
          case (Left(msg), Left(part)) => msg.contains(part)
          case _ => got == want && r.statusCode() == 200
        }
        if (ok) None else Some(s"$req\n  -> ${r.statusCode()} ${r.body()}")
      }
    val disk = served(agg)
    assert(disk.servePoint(rdata = Some("limit: 1")).isDefined)
    val diskSrv = new QueryServer(disk)
    diskSrv.start()
    try {
      val bad = check(diskSrv, table)
      assert(bad.isEmpty, bad.mkString("\n"))
      // the value-as-syntax rows and the zero limit agree with the plan
      assert(disk.entries(rdata = Some("limit: 1")).count() == 3)
      assert(disk.entries(rrname = Some("__schema.example")).count() == 1)
      assert(disk.entries(rrname = Some("foo"), limit = 0).isEmpty)
    } finally diskSrv.stop()
  }

  test("POST /query: a non-object body or a non-scalar filter is a 400") {
    for (body <- Seq("{", "not json", "[1]", "\"foo\"", "5",
        """{"rrname": {"a": 1}}""", """{"rdata": ["1.2.3.4"]}""",
        """{"rrname": "foo", "rrtype": {"t": "A"}}""",
        """{"rrname": "foo", "sensor_id": []}""",
        """{"rrname_prefix": {"p": "ba"}}""")) {
      val r = post("/query", body)
      assert(r.statusCode() == 400, s"$body -> ${r.statusCode()} ${r.body()}")
    }
    // a null member is an absent one
    val r = post("/query", """{"rrname": null, "rdata": "1.2.3.5"}""")
    assert(r.statusCode() == 200 && r.body().contains("\"bar\""), r.body())
  }

  test("both servers refuse an in-memory store at construction") {
    val mem = ObservationStore.inMemory(store.forward.drop("bucket"))
    for ((name, make) <- Seq[(String, () => Any)](
        "QueryServer" -> (() => new QueryServer(mem)),
        "BalboaTcpServer" -> (() => new graft.serve.BalboaTcpServer(mem)))) {
      val e = intercept[IllegalStateException](make())
      assert(e.getMessage.contains("writeDual") && e.getMessage.contains("load"),
        s"$name: ${e.getMessage}")
    }
  }

  test("slow-client timeouts configured to reference parity (5s/10s)") {
    server.boundPort: Unit // force server construction first
    // query_graphql.go:410-412 — the JDK server reads these once at
    // class-init; QueryServer sets them before creating any HttpServer
    assert(System.getProperty("sun.net.httpserver.maxReqTime") == "5")
    assert(System.getProperty("sun.net.httpserver.maxRspTime") == "10")
  }

  test("rolling stats: queries/errors/bytes counted, delta line emitted") {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val srv = new QueryServer(store, statsIntervalMillis = 50L,
      statsSink = s => { lines.add(s); () })
    srv.start()
    try {
      val uri = java.net.URI.create(
        s"http://localhost:${srv.boundPort}/stats")
      val client = java.net.http.HttpClient.newHttpClient()
      val ok = client.send(
        java.net.http.HttpRequest.newBuilder(uri).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(ok.statusCode() == 200)
      val bad = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://localhost:${srv.boundPort}/pdns/query/")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() == 404)
      assert(srv.stats.queries.get() >= 2L)
      assert(srv.stats.errors.get() >= 1L)
      assert(srv.stats.bytesOut.get() > 0L)
      val deadline = System.currentTimeMillis() + 5000
      while (lines.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      val line = lines.poll()
      assert(line != null && line.contains("[query-http] queries="), line)
    } finally srv.stop()
  }
}
