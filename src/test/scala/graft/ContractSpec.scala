package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract itself, asserted: a future operator that lands
  * without an oracle (or with a name the harness would mangle) fails CI
  * instead of silently downgrading to a rows-only check. */
class ContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("every gate query ships a DuckDB oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q.diff(o).isEmpty, s"queries without oracle: ${q.diff(o)}")
    assert(o.diff(q).isEmpty, s"oracles without query: ${o.diff(q)}")
  }

  test("gate keys are unique across contributing query modules") {
    // SparkEntry.distinctUnion throws on collision; force both maps and
    // pin the round-9 regression: the TextAnalysis BPE gates must exist
    // alongside the Curation ones rather than shadowing them.
    val q = SparkEntry.queries.keySet
    assert(q("bpe_train") && q("bpe_train_greedy"))
    assert(q("bpe_encode") && q("bpe_encode_table"))
    SparkEntry.oracleSql // must not throw
  }

  test("Bench per-gate map splits into bounded queries_part lines") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val queries = names.map(n => s""""$n":1234.567""")
    val retries = names.take(40).map(n => s""""$n":[1.234,5.678]""")
    val lines = Bench.queryParts(
      Seq("queries" -> queries, "retry_samples" -> retries))
    assert(lines.size > 1)
    assert(lines.forall(_.length < Bench.PartLineMax),
      lines.map(_.length).max)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parsed = lines.map(mapper.readTree)
    assert(parsed.map(_.get("part").asInt) == (1 to lines.size))
    assert(parsed.forall(_.get("parts").asInt == lines.size))
    assert(parsed.forall(_.get("metric").asText == "queries_part"))
    import scala.jdk.CollectionConverters._
    def keys(field: String): Seq[String] = parsed
      .flatMap(p => Option(p.get(field)).toSeq.flatMap(_.fieldNames.asScala))
    assert(keys("queries") == names)
    assert(keys("retry_samples") == names.take(40))
    assert(Bench.queryParts(Seq("queries" -> Nil)).isEmpty)
  }

  test("gate names are stable lowercase identifiers") {
    SparkEntry.queries.keys.foreach { name =>
      assert(name.matches("[a-z][a-z0-9_]*"), name)
    }
  }

  test("README's headline gate tally equals the shipped contract size") {
    // r12 shipped a README claiming 205 gates while the artifact had 206
    // — the headline number must be impossible to hand-drift. The README
    // carries exactly one "N DuckDB-checked gates" claim; it must equal
    // SparkEntry.queries.size.
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val claims = "(\\d+) DuckDB-checked gates".r
      .findAllMatchIn(readme).map(_.group(1).toInt).toList
    assert(claims.size == 1, s"expected exactly one tally claim: $claims")
    assert(claims.head == SparkEntry.queries.size,
      s"README claims ${claims.head} gates; SparkEntry.queries has " +
        s"${SparkEntry.queries.size} — update the README tally line")
    // the Driver-contract section phrases the same number differently
    // ("N oracle-checked queries") — r15 shipped it 19 stale because
    // only the first phrasing was asserted; cover every phrasing that
    // states the tally
    val claims2 = "(\\d+) oracle-checked queries".r
      .findAllMatchIn(readme).map(_.group(1).toInt).toList
    assert(claims2.nonEmpty && claims2.forall(_ == SparkEntry.queries.size),
      s"README 'oracle-checked queries' claims $claims2; " +
        s"SparkEntry.queries has ${SparkEntry.queries.size}")
  }

  test("flagship entry returns rows on sf0.001 (driver smoke check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL references only driver-provided tables") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings",
      // DuckDB built-in table FUNCTIONS — row generators, not external
      // tables; the driver can always evaluate them
      "range", "generate_series", "unnest")
    // crude but effective: every FROM/JOIN target that is a bare
    // identifier must be a known table or a CTE defined in that query
    val cte = "(?i)([a-z0-9_]+)\\s*(?:\\([^)]*\\))?\\s+AS\\s*\\(".r
    val src = "(?i)(?:FROM|JOIN)\\s+([a-z_][a-z0-9_]*)".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val defined = cte.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      src.findAllMatchIn(sql).map(_.group(1).toLowerCase).foreach { t =>
        assert(tables.contains(t) || defined.contains(t),
          s"$name references unknown relation '$t'")
      }
    }
  }
}
