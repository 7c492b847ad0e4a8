package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ObservationStore
import org.apache.spark.sql.graft.IndexRouting

/** The Catalyst access-path rule: an rdata-equality query issued against
  * the FORWARD copy transparently scans the INVERTED copy with bucket
  * pruning — balboa's index selection, generalized to any DataFrame/SQL
  * query. */
class IndexRoutingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val storePath = {
    val dir = Files.createTempDirectory("graft-route").toString
    val ts = Timestamp.valueOf("2020-01-01 00:00:00")
    val input = (1 to 300).map(i =>
      (s"host-$i.net", s"s${i % 2}", "A", s"192.0.2.${i % 100}", 1L, ts, ts))
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
        "timestamp_start", "timestamp_end")
    ObservationStore.writeDual(ObservationStore.aggregate(input), s"$dir/st",
      numBuckets = 8)
    s"$dir/st"
  }

  private def explainOf(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  test("rdata lookup on the forward copy is rerouted to the inverted copy") {
    IndexRouting.install(spark, storePath)
    val forward = spark.read.parquet(s"$storePath/by_rrname")
    val q = forward.filter(col("rdata") === "192.0.2.7")

    val plan = explainOf(q)
    assert(plan.contains("by_rdata"), s"expected inverted scan:\n$plan")
    assert(plan.matches("(?s).*PartitionFilters.*bucket.*=.*\\d+.*"),
      s"expected bucket pruning:\n$plan")

    // unrouted equivalent (direct inverted query) gives identical rows
    val expect = spark.read.parquet(s"$storePath/by_rdata")
      .filter(col("rdata") === "192.0.2.7")
      .drop("bucket", "rdata_ip", "rdata_ip6")
      .orderBy("rrname").collect().toSeq
    val got = q.drop("bucket").orderBy("rrname").collect().toSeq
    assert(got == expect)
    assert(got.size == 3) // 300 rows, rdata repeats every 100
  }

  test("rerouted queries preserve forward bucket semantics and survive merges") {
    IndexRouting.install(spark, storePath)
    val forward = spark.read.parquet(s"$storePath/by_rrname")
    // bucket column value must stay hash(rrname) even after the reroute
    val viaRoute = forward.filter(col("rdata") === "192.0.2.7")
      .select("rrname", "bucket").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val truth = spark.read.parquet(s"$storePath/by_rrname")
      .filter(col("rrname").isin(viaRoute.keys.toSeq: _*))
      .select("rrname", "bucket").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(viaRoute == truth)

    // store rewritten under the rule (dynamic overwrite deletes old files):
    // the next rerouted query must not serve a stale file index
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2021-01-01 00:00:00")
    val batch = Seq(("new-name.net", "s9", "A", "192.0.2.7", 1L, ts, ts))
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
        "timestamp_start", "timestamp_end")
    ObservationStore.mergeBatch(spark, storePath, batch)
    val after = spark.read.parquet(s"$storePath/by_rrname")
      .filter(col("rdata") === "192.0.2.7")
    assert(after.count() == 4) // 3 originals + the merged row
  }

  test("native functions usable from spark.sql after registration") {
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT ip_to_long('10.0.4.1') AS ip,
        |       simhash64('hello world') AS sh,
        |       dot_d(array(2.0d, 3.0d), array(4.0d, 5.0d)) AS dp,
        |       minhash_sig(array('a', 'b'), 4) AS mh
        |""".stripMargin).collect().head
    assert(r.getAs[Long]("ip") == 167773185L)
    assert(r.getAs[String]("sh").length == 64)
    assert(r.getAs[Double]("dp") == 23.0)
    assert(r.getSeq[String](r.fieldIndex("mh")).length == 4)
  }

  test("rrname-filtered queries are NOT rerouted") {
    IndexRouting.install(spark, storePath)
    val forward = spark.read.parquet(s"$storePath/by_rrname")
    val q = forward.filter(col("rrname") === "host-7.net" &&
      col("rdata") === "192.0.2.7")
    assert(!explainOf(q).contains("by_rdata"))
    assert(q.count() == 1)
  }
}
