package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ObservationStore
import graft.serve.Graphql

/** The GraphQL parser must map ANY input to a parse result or a client
  * error — never an exception (which the HTTP layer would surface as a
  * 500). Fuzzed over random strings plus structured near-miss queries. */
class GraphqlFuzzSpec extends AnyFunSuite {

  private def neverThrows(q: String): Boolean =
    try { Graphql.parse(q); true }
    catch { case _: Throwable => false }

  private def substitutionNeverThrows(q: String): Boolean =
    try {
      Graphql.parse(q,
        Some(new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree("""{"n": "x\")breakout", "l": 7, "b": true}""")))
      true
    } catch { case _: Throwable => false }

  test("parser never throws on arbitrary input") {
    val structured = for {
      field <- Gen.oneOf("entries", "stats", "entriesX", "", "__schema")
      arg <- Gen.oneOf("rrname: \"a\"", "rrtype: FOO", "limit: 99999999999999",
        "limit: -1", "rdata:", "{{{", "rrname: \"unterminated")
      sel <- Gen.oneOf("{ rrname }", "{ aliases { rrname } }", "{}", "{",
        "", "{ aliases(limit: x) { a } }")
    } yield s"{ $field($arg) $sel }"
    val garbage = Gen.oneOf(Gen.asciiPrintableStr, Gen.alphaNumStr,
      Gen.listOf(Gen.oneOf('{', '}', '(', ')', '"', '\\', '\n'))
        .map(_.mkString))
    val p = Prop.forAll(Gen.oneOf(structured, garbage))(q => neverThrows(q))
    val r = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  test("the round-4 grammar (variables, fragments, multi-root) never throws") {
    val structured = for {
      header <- Gen.oneOf("", "query", "query Q($n: String!, $l: Int = 5)",
        "query ($n:", "query Q($n String)")
      frag <- Gen.oneOf("", "fragment f on Entry { rrname }",
        "fragment f on Entry { ...g } fragment g on Entry { ...f }",
        "fragment f on", "fragment f on Entry {")
      body <- Gen.oneOf(
        "{ entries(rrname: $n, limit: $l) { ...f } }",
        "{ a: entries(rrname: $n) { rrname } b: stats { total_count } }",
        "{ entries(rrname: \"x\") { ... on Entry { rrname } } }",
        "{ ...f }", "{ entries(rrname: $missing) { rrname } }",
        "{ a: a: entries(rrname: \"x\") { rrname } }",
        "{ entries(rrname: \"$n\") { rrname } }", // $ inside string stays
        "{ ... }", "{ ...  on { } }")
    } yield s"$header $body $frag"
    val p = Prop.forAll(structured)(q =>
      neverThrows(q) && substitutionNeverThrows(q))
    val r = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  test("documents with random directives never throw") {
    val dir = Gen.oneOf("@skip(if: true)", "@skip(if: false)",
      "@include(if: true)", "@include(if: false)", "@skip", "@skip(if:)",
      "@skip(if: $b)", "@nope(if: true)", "@", "@skip(", "@include(if true)")
    val structured = for {
      d1 <- dir; d2 <- dir; d3 <- dir
      body <- Gen.oneOf(
        s"{ entries(rrname: \"x\") $d1 { rrname $d2 count } }",
        s"{ entries(rrname: \"x\") { ...f $d1 } } fragment f on Entry { rrname $d2 }",
        s"{ entries(rrname: \"x\") { ... on Entry $d1 { rrname } } }",
        s"{ entries(rrname: \"@skip(if: true)\") { rrname $d1 } }", // @ in string = data
        s"{ stats $d1 { total_count $d2 } entries(rrname: \"x\") $d3 { rrname } }",
        s"{ entries(rrname: \"x\") { aliases $d1 { rrname } rrname } }",
        s"$d1 { entries(rrname: \"x\") { rrname } }")
    } yield body
    val p = Prop.forAll(structured)(q =>
      neverThrows(q) && substitutionNeverThrows(q))
    val r = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  test("hostile nesting and fragment fan-out fail as client errors") {
    val deep = "{ " + "a { " * 100000 + "b " + "} " * 100001
    assert(Graphql.parse(deep).left.exists(_.contains("nest deeper")))
    // each fragment spreads the next twice: 2^40 fields if expanded
    val doubling = (0 until 40).map(i =>
      s"fragment f$i on Entry { ...f${i + 1} ...f${i + 1} }").mkString(" ")
    val fanOut = s"""{ entries(rrname: "x") { ...f0 } } $doubling
      |fragment f40 on Entry { rrname }""".stripMargin
    assert(Graphql.parse(fanOut).left.exists(_.contains("fragment spreads")))
    // a long chain expands on the way down without exhausting the stack
    val chain = (0 until 499).map(i =>
      s"fragment f$i on Entry { ...f${i + 1} }").mkString(" ")
    val ok = Graphql.parse(s"""{ entries(rrname: "x") { ...f0 } } $chain
      |fragment f499 on Entry { rrname }""".stripMargin)
    assert(ok.isRight, ok)
  }

  test("a string value is data: inline and as a variable it answers its one row") {
    val spark = TestSpark.spark
    import spark.implicits._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // text that a reader of raw request text would take for syntax
    val piece = Gen.frequency(3 -> Gen.oneOf("\"", "\\", "$", "@", "#", "{",
      "}", "(", ")", "limit: 3", "rrname:", "fragment f on Entry {",
      "__schema", "é", "日本語", "\uD83D\uDE00", "\t", "\n", " "),
      1 -> Gen.alphaNumStr)
    val values = Gen.listOfN(60, Gen.nonEmptyListOf(piece).map(_.mkString))
      .pureApply(Gen.Parameters.default.withSize(12), Seed.random()).distinct
    val ts = java.sql.Timestamp.valueOf("2018-01-01 00:00:00")
    val dir = java.nio.file.Files.createTempDirectory("graft-gqlfuzz").toString
    ObservationStore.writeDual(ObservationStore.aggregate(
      values.zipWithIndex.map { case (v, i) =>
        (s"v$i.example", "s1", "TXT", v, 1L, ts, ts)
      }.toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
        "timestamp_start", "timestamp_end")), dir, numBuckets = 4)
    val store = ObservationStore.load(spark, dir)
    val p = Prop.forAll(Gen.oneOf(values.indices)) { i =>
      val v = values(i)
      val want = mapper.createObjectNode()
      want.putObject("data").putArray("entries").addObject()
        .put("rrname", s"v$i.example").put("rdata", v)
      val inline = Graphql.execute(
        s"{ entries(rdata: ${mapper.writeValueAsString(v)}) { rrname rdata } }",
        store)
      val viaVar = Graphql.execute(
        "query($r: String!) { entries(rdata: $r) { rrname rdata } }",
        Some(mapper.createObjectNode().put("r", v)), store)
      (inline == Right(mapper.writeValueAsString(want))) :| s"inline $v: $inline" &&
        (viaVar == inline) :| s"variable $v: $viaVar"
    }
    val r = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(100), p)
    assert(r.passed, r.status.toString)
  }
}
