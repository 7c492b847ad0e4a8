package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ObservationStore

/** End-to-end CLI surface: build → dump → replay → query round-trip. */
class MainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def obsDf = {
    val ts = Timestamp.valueOf("2021-06-01 00:00:00")
    (1 to 300).map(i =>
      (s"host-$i.example.com", s"s${i % 2}", "A", s"192.0.2.${i % 200}",
        1L, ts, ts))
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
        "timestamp_start", "timestamp_end")
  }

  test("build -> dump -> replay round-trips the store; query answers") {
    val dir = Files.createTempDirectory("graft-main").toString
    obsDf.write.parquet(s"$dir/obs")

    Main.run(spark, Seq("build", "--obs", s"$dir/obs",
      "--store", s"$dir/store", "--buckets", "8"))
    val built = ObservationStore.load(spark, s"$dir/store")
    assert(built.totalCount() == 300)

    Main.run(spark, Seq("dump", "--store", s"$dir/store",
      "--out", s"$dir/dump"))
    Main.run(spark, Seq("replay", "--dump", s"$dir/dump",
      "--store", s"$dir/store2", "--buckets", "4"))
    val replayed = ObservationStore.load(spark, s"$dir/store2")
    assert(replayed.totalCount() == 300)
    assert(replayed.entries(rrname = Some("host-7.example.com")).count() == 1)

    // CLI query prints NDJSON rows to stdout
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, Seq("query", "host-7.example.com",
        "--store", s"$dir/store"))
    }
    val lines = out.toString.trim.split("\n").filter(_.nonEmpty)
    assert(lines.length == 1)
    assert(lines.head.contains("\"rrname\":\"host-7.example.com\""))
  }

  test("merge adds a batch through the CLI") {
    val dir = Files.createTempDirectory("graft-main-merge").toString
    obsDf.write.parquet(s"$dir/obs")
    Main.run(spark, Seq("build", "--obs", s"$dir/obs",
      "--store", s"$dir/store", "--buckets", "4"))
    val ts2 = Timestamp.valueOf("2022-01-01 00:00:00")
    Seq(("brand-new.example.com", "s9", "A", "198.51.100.1", 2L, ts2, ts2))
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
        "timestamp_start", "timestamp_end")
      .write.parquet(s"$dir/batch")
    Main.run(spark, Seq("merge", "--obs", s"$dir/batch",
      "--store", s"$dir/store"))
    val st = ObservationStore.load(spark, s"$dir/store")
    assert(st.totalCount() == 301)
    assert(st.entries(rrname = Some("brand-new.example.com")).count() == 1)
  }

  test("expire prunes old entries through the CLI") {
    val dir = Files.createTempDirectory("graft-main-exp").toString
    val old = Timestamp.valueOf("2019-01-01 00:00:00")
    val young = Timestamp.valueOf("2021-06-01 00:00:00")
    Seq(("old.example.com", "s1", "A", "192.0.2.1", 1L, old, old),
        ("new.example.com", "s1", "A", "192.0.2.2", 1L, young, young))
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
        "timestamp_start", "timestamp_end")
      .write.parquet(s"$dir/obs")
    Main.run(spark, Seq("build", "--obs", s"$dir/obs",
      "--store", s"$dir/store", "--buckets", "4"))
    // date-only form = midnight UTC
    Main.run(spark, Seq("expire", "--store", s"$dir/store",
      "--before", "2020-01-01"))
    val st = ObservationStore.load(spark, s"$dir/store")
    assert(st.totalCount() == 1)
    assert(st.entries(rrname = Some("old.example.com")).isEmpty)
    assert(st.entries(rrname = Some("new.example.com")).count() == 1)
    // explicit-UTC instant form parses too (no-op cutoff here)
    Main.run(spark, Seq("expire", "--store", s"$dir/store",
      "--before", "2018-01-01T00:00:00Z"))
    assert(ObservationStore.load(spark, s"$dir/store").totalCount() == 1)
    // garbage dates fail with a usage error, not a raw parse trace
    intercept[IllegalArgumentException] {
      Main.run(spark, Seq("expire", "--store", s"$dir/store",
        "--before", "not-a-date"))
    }
  }

  test("a pre-meta store refuses expire until rebucket upgrades it") {
    val dir = Files.createTempDirectory("graft-main-expb").toString
    val old = Timestamp.valueOf("2019-01-01 00:00:00")
    val young = Timestamp.valueOf("2021-06-01 00:00:00")
    (1 to 40).map(i => (s"host-$i.example.com", "s1", "A", s"192.0.2.$i",
        1L, if (i <= 20) old else young, if (i <= 20) old else young))
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
        "timestamp_start", "timestamp_end")
      .write.parquet(s"$dir/obs")
    Main.run(spark, Seq("build", "--obs", s"$dir/obs",
      "--store", s"$dir/store", "--buckets", "4"))
    // simulate a store written before metadata existed: drop the meta
    // file, so the store has no recorded bucket count
    Files.delete(java.nio.file.Paths.get(s"$dir/store/_graft_meta.json"))
    val refused = intercept[IllegalArgumentException](
      Main.run(spark, Seq("expire", "--store", s"$dir/store",
        "--before", "2020-01-01")))
    assert(refused.getMessage.contains("rebucket"), refused.getMessage)
    // the one-command upgrade, then the same expiry
    Main.run(spark, Seq("rebucket", "--store", s"$dir/store",
      "--buckets", "4"))
    Main.run(spark, Seq("expire", "--store", s"$dir/store",
      "--before", "2020-01-01"))
    // survivors stay under the 4-bucket layout the upgrade recorded
    val bucketDirs = new java.io.File(s"$dir/store/by_rrname").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(bucketDirs.forall(_.getName.stripPrefix("bucket=").toInt < 4))
    val st = ObservationStore.load(spark, s"$dir/store")
    assert(st.totalCount() == 20)
    assert(st.entries(rrname = Some("host-30.example.com")).count() == 1)
    assert(st.entries(rrname = Some("host-3.example.com")).isEmpty)
  }

  test("serve starts a queryable HTTP server from the CLI") {
    val dir = Files.createTempDirectory("graft-main-serve").toString
    obsDf.write.parquet(s"$dir/obs")
    Main.run(spark, Seq("build", "--obs", s"$dir/obs",
      "--store", s"$dir/store", "--buckets", "4"))
    val server = Main.run(spark, Seq("serve", "--store", s"$dir/store",
      "--port", "0"))
    try {
      val url = new java.net.URI(
        s"http://127.0.0.1:${server.boundPort}/pdns/query/host-3.example.com")
        .toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      val body = new String(conn.getInputStream.readAllBytes())
      assert(body.contains("host-3.example.com"))
    } finally server.stop()
  }

  test("serve --tcp-port also speaks the native balboa protocol") {
    import graft.serve.BalboaTcp._
    val dir = Files.createTempDirectory("graft-main-tcp").toString
    obsDf.write.parquet(s"$dir/obs")
    Main.run(spark, Seq("build", "--obs", s"$dir/obs",
      "--store", s"$dir/store", "--buckets", "4"))
    val server = Main.run(spark, Seq("serve", "--store", s"$dir/store",
      "--port", "0", "--tcp-port", "0"))
    val tcp = server.tcp.get
    try {
      val sock = new java.net.Socket("localhost", tcp.boundPort)
      try {
        sock.getOutputStream.write(encodeQueryRequest(
          QueryRequest(Some("host-3.example.com"), None, None, None, 10)))
        sock.getOutputStream.flush()
        val rd = new MsgReader(new java.io.DataInputStream(
          new java.io.BufferedInputStream(sock.getInputStream)))
        val types = Iterator.continually(rd.readTyped())
          .takeWhile(_._1 != TypeQueryStreamEndResponse).map(_._1).toSeq
        assert(types.head == TypeQueryStreamStartResponse)
        assert(types.count(_ == TypeQueryStreamDataResponse) >= 1)
      } finally sock.close()
    } finally server.stop()
  }

  test("warc-ingest --mode once curates a spooled archive into a corpus") {
    import graft.sources.Warc
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-main-wingest").toString
    assert(new java.io.File(s"$dir/spool").mkdirs())
    val docs = Seq(
      ("http://h/1", "<html><head><title>T1</title></head><body><p>" +
        "alpha beta gamma delta epsilon zeta</p></body></html>"),
      ("http://h/2", "<html><body><p>xx</p></body></html>")) // too short
      .toDF("url", "page")
      .withColumn("ts", timestamp_seconds(lit(1600000000L)))
      .withColumn("content_type", lit("text/html"))
      .withColumn("payload", encode(col("page"), "UTF-8"))
    Warc.write(docs.coalesce(1), s"$dir/stage")
    val part = new java.io.File(s"$dir/stage").listFiles()
      .find(_.getName.endsWith(".warc.gz")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$dir/spool/seg1.warc.gz"))

    Main.run(spark, Seq("warc-ingest", "--spool", s"$dir/spool",
      "--corpus", s"$dir/corpus", "--rejects", s"$dir/rejects",
      "--ckpt", s"$dir/ckpt", "--mode", "once"))
    val corpus = spark.read.parquet(s"$dir/corpus")
      .select("url", "title").as[(String, String)].collect().toMap
    assert(corpus == Map("http://h/1" -> "T1"))
    val rejects = spark.read.parquet(s"$dir/rejects")
      .select("url", "reason").as[(String, String)].collect().toMap
    assert(rejects == Map("http://h/2" -> "quality:token_count"))
  }

  test("ann CLI: index, search, delete, vacuum") {
    val dir = Files.createTempDirectory("graft-main-ann").toString
    (0L to 20L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding").write.parquet(s"$dir/emb")
    Main.run(spark, Seq("ann-index", "--embeddings", s"$dir/emb",
      "--out", s"$dir/idx", "--centroids", "4"))
    def search(): Seq[String] = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        Main.run(spark, Seq("ann-search", "7", "--index", s"$dir/idx",
          "--embeddings", s"$dir/emb", "--limit", "5", "--nprobe", "4"))
      }
      out.toString("UTF-8").linesIterator.toSeq.filter(_.nonEmpty)
    }
    val first = search()
    assert(first.size == 5 && first.forall(_.contains("cos_sim")))
    val topId = """"id":(\d+)""".r.findFirstMatchIn(first.head).get.group(1)
    Main.run(spark, Seq("ann-delete", topId, "--index", s"$dir/idx"))
    val masked = search()
    assert(!masked.exists(_.contains(s""""id":$topId,""")))
    Main.run(spark, Seq("ann-vacuum", "--index", s"$dir/idx"))
    assert(!new java.io.File(s"$dir/idx/_tombstones").exists())
    assert(search() == masked)
  }

  test("curate and dedup CLI commands produce the pipeline outputs") {
    val dir = Files.createTempDirectory("graft-main-curate").toString
    val docs = ((1 to 60).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon word$i tail piece here now")) ++
      Seq((1000L, (1 to 60).map(i => s"w$i").mkString(" ")))) // unique long doc
      .toDF("doc_id", "text")
    // plant an exact duplicate of doc 1
    docs.unionAll(Seq((2000L,
        "alpha beta gamma delta epsilon word1 tail piece here now"))
      .toDF("doc_id", "text"))
      .write.parquet(s"$dir/docs")

    Main.run(spark, Seq("dedup", "--docs", s"$dir/docs",
      "--out", s"$dir/deduped"))
    val deduped = spark.read.parquet(s"$dir/deduped")
    assert(deduped.count() == 61) // 62 rows - 1 duplicate
    assert(deduped.filter(org.apache.spark.sql.functions.col("n_copies") === 2)
      .count() == 1)

    Main.run(spark, Seq("curate", "--docs", s"$dir/docs",
      "--out", s"$dir/curated", "--shards", "2", "--budget", "50"))
    val train = spark.read.parquet(s"$dir/curated/train")
    val holdout = spark.read.parquet(s"$dir/curated/holdout")
    // 61 distinct contents minus doc 1000, whose digit-heavy text fails
    // the alpha-ratio quality gate
    assert(train.count() + holdout.count() == 60)
    assert(!train.unionByName(holdout, allowMissingColumns = true)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1000L)
      .head(1).nonEmpty)
    // packing columns present and budget respected at pack starts
    assert(train.columns.toSet.contains("pack_id"))
    assert(train.columns.toSet.contains("text"))
  }

  test("dump-balboa -> replay-balboa round-trips via the native wire format") {
    val dir = Files.createTempDirectory("graft-main-bd").toString
    obsDf.write.parquet(s"$dir/obs")
    Main.run(spark, Seq("build", "--obs", s"$dir/obs",
      "--store", s"$dir/store", "--buckets", "4"))
    Main.run(spark, Seq("dump-balboa", "--store", s"$dir/store",
      "--out", s"$dir/bdump"))
    assert(new java.io.File(s"$dir/bdump").listFiles()
      .exists(_.getName.endsWith(".mpack")))
    Main.run(spark, Seq("replay-balboa", "--dump", s"$dir/bdump",
      "--store", s"$dir/store2", "--buckets", "4"))
    assert(ObservationStore.load(spark, s"$dir/store2").totalCount() == 300)
  }

  test("index + search run BM25 from the CLI") {
    val dir = Files.createTempDirectory("graft-main-ix").toString
    Seq((1L, "spark join plan"), (2L, "join join join"), (3L, "other"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Main.run(spark, Seq("index", "--docs", s"$dir/docs",
      "--out", s"$dir/idx", "--buckets", "4"))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, Seq("search", "join",
        "--index", s"$dir/idx", "--limit", "2"))
    }
    val lines = out.toString.trim.split("\n").filter(_.nonEmpty)
    assert(lines.length == 2)
    assert(lines.head.contains("\"doc_id\":2"), lines.head) // highest tf
  }

  test("scan runs the blocklist matcher from the CLI") {
    val dir = Files.createTempDirectory("graft-main-scan").toString
    Seq((1L, "leak then breach then leak"), (2L, "clean"))
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    Main.run(spark, Seq("scan", "leak", "breach",
      "--docs", s"$dir/docs", "--out", s"$dir/hits"))
    val hits = spark.read.parquet(s"$dir/hits").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(hits == Map((1L, "leak") -> 2L, (1L, "breach") -> 1L))
    intercept[IllegalArgumentException] { // patterns are positional
      Main.run(spark, Seq("scan", "--docs", s"$dir/docs",
        "--out", s"$dir/h2"))
    }
  }

  test("warc-extract turns WARC files into curation-ready parquet") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-main-warc").toString
    val docs = Seq(
      ("http://a/1", "<html><head><title>T1</title></head><body><p>hello " +
        "world</p></body></html>"),
      ("http://a/2", "<html><body>plain &amp; simple</body></html>"))
      .toDF("url", "html")
      .withColumn("ts", timestamp_seconds(lit(1600000000L)))
      .withColumn("content_type", lit("text/html"))
      .withColumn("payload", encode(col("html"), "UTF-8"))
    graft.sources.Warc.write(docs, s"$dir/warc")
    Main.run(spark, Seq("warc-extract", "--warc", s"$dir/warc",
      "--out", s"$dir/out"))
    val out = spark.read.parquet(s"$dir/out")
      .select("url", "title", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(
      ("http://a/1", "T1", "T1 hello world"),
      ("http://a/2", "", "plain & simple")))
  }

  test("bad invocations fail with usage errors, not stack traces deep in Spark") {
    intercept[IllegalArgumentException] {
      Main.run(spark, Seq("frobnicate"))
    }
    intercept[IllegalArgumentException] {
      Main.run(spark, Seq("build", "--obs", "/nope")) // missing --store
    }
    intercept[IllegalArgumentException] {
      Main.run(spark, Seq("query", "--store")) // dangling flag value
    }
  }
}
