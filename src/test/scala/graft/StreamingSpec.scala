package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ObservationStore, Selectors, Tools}
import graft.operators.Selectors.RegexSelector
import graft.streaming.IngestPipeline
import graft.streaming.IngestPipeline.Sink

/** End-to-end streaming ingest: MemoryStream → selector engine →
  * tag-routed incremental merges into bucket-partitioned dual stores;
  * plus dump/replay round-trip. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def obs(rrname: String, rdata: String, cnt: Long, t: String) =
    (rrname, "s1", "A", rdata, cnt, ts(t), ts(t))

  private val cols = Seq("rrname", "sensor_id", "rrtype", "rdata", "count",
    "timestamp_start", "timestamp_end")

  test("streaming ingest merges micro-batches incrementally into both copies") {
    val dir = Files.createTempDirectory("graft-stream").toString
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, String, String, String, Long, Timestamp, Timestamp)]
    val selectors = Seq(RegexSelector(Seq("^evil[.].*"), tags = Seq("evil")))
    val sinks = Seq(
      Sink("all", None, s"$dir/all"),
      Sink("evil", Some("evil"), s"$dir/evil"))

    val q = IngestPipeline.start(spark, stream.toDF().toDF(cols: _*),
      selectors, sinks, s"$dir/ckpt")
    stream.addData(
      obs("good.com", "1.1.1.1", 1, "2020-01-01 00:00:00"),
      obs("evil.com", "2.2.2.2", 2, "2020-02-01 00:00:00"))
    q.processAllAvailable()
    stream.addData(
      obs("good.com", "1.1.1.1", 5, "2020-03-01 00:00:00"), // same key: merge
      obs("evil.com", "3.3.3.3", 1, "2020-04-01 00:00:00"))
    q.processAllAvailable()
    q.stop()

    val all = ObservationStore.load(spark, s"$dir/all")
    val good = all.entries(rrname = Some("good.com")).collect()
    assert(good.length == 1)
    assert(good.head.getAs[Long]("count") == 6L) // 1 + 5 across batches
    assert(good.head.getAs[Timestamp]("first_seen") == ts("2020-01-01 00:00:00"))
    assert(good.head.getAs[Timestamp]("last_seen") == ts("2020-03-01 00:00:00"))
    assert(all.totalCount() == 3)
    // inverted copy answers rdata lookups with the same merged row
    assert(all.entries(rdata = Some("1.1.1.1")).collect()
      .head.getAs[Long]("count") == 6L)

    // tag-routed sink got only the evil.* observations
    val evil = ObservationStore.load(spark, s"$dir/evil")
    assert(evil.totalCount() == 2)
    assert(evil.entries(rrname = Some("good.com")).count() == 0)
  }

  test("end-to-end ingest: spool -> decode -> selectors -> stores, one epoch per micro-batch") {
    // the full §3.2 lifecycle the reference runs: a feeder spool of raw
    // EVE JSON payloads, the real suricata decoder, the selector engine,
    // tag-routed crash-atomic merges into dual disk stores
    val dir = Files.createTempDirectory("graft-e2e").toString
    val spool = new java.io.File(s"$dir/spool")
    assert(spool.mkdirs())
    def eve(name: String, rdata: String, t: String): String =
      s"""{"timestamp":"$t","event_type":"dns","dns":{"type":"answer","version":1,"rcode":"NOERROR","rrname":"$name","rrtype":"A","rdata":"$rdata"}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/spool/f1.json"),
      (eve("good.com", "1.1.1.1", "2020-01-01T00:00:00.000000+0000") + "\n" +
        eve("evil.com", "2.2.2.2", "2020-01-02T00:00:00.000000+0000") + "\n" +
        """{"event_type":"flow"}""" + "\n") // non-DNS event: decoder drops it
        .getBytes("UTF-8"))

    val raw = spark.readStream.text(s"$dir/spool")
      .withColumn("sensor_id", lit("s9"))
    val decoded = IngestPipeline.decode(raw, "suricata")
    val selectors = Seq(RegexSelector(Seq("^evil[.].*"), tags = Seq("evil")))
    val sinks = Seq(
      Sink("all", None, s"$dir/all"),
      Sink("evil", Some("evil"), s"$dir/evil"))
    val q = IngestPipeline.start(spark, decoded, selectors, sinks,
      s"$dir/ckpt", numBuckets = 4)
    q.processAllAvailable()
    // first micro-batch: both stores created at epoch 1
    assert(ObservationStore.readEpoch(spark, s"$dir/all").contains(1L))
    assert(ObservationStore.readEpoch(spark, s"$dir/evil").contains(1L))

    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/spool/f2.json"),
      (eve("good.com", "1.1.1.1", "2020-03-01T00:00:00.000000+0000") + "\n" +
        eve("evil.b.com", "3.3.3.3", "2020-04-01T00:00:00.000000+0000") + "\n")
        .getBytes("UTF-8"))
    q.processAllAvailable()
    q.stop()
    // second micro-batch: exactly one more epoch per store
    assert(ObservationStore.readEpoch(spark, s"$dir/all").contains(2L))
    assert(ObservationStore.readEpoch(spark, s"$dir/evil").contains(2L))

    val all = ObservationStore.load(spark, s"$dir/all")
    val good = all.entries(rrname = Some("good.com")).collect()
    assert(good.length == 1)
    assert(good.head.getAs[Long]("count") == 2L) // merged across batches
    assert(good.head.getAs[Timestamp]("first_seen") == ts("2020-01-01 00:00:00"))
    assert(good.head.getAs[Timestamp]("last_seen") == ts("2020-03-01 00:00:00"))
    assert(good.head.getAs[String]("sensor_id") == "s9")
    assert(all.totalCount() == 3) // good + evil + evil2; flow event dropped
    val evil = ObservationStore.load(spark, s"$dir/evil")
    assert(evil.totalCount() == 2)
    assert(evil.entries(rrname = Some("good.com")).count() == 0)
    // no staging leftovers: every merge fully applied
    assert(!new java.io.File(s"$dir/all").listFiles()
      .exists(_.getName.startsWith("_staging_")))
  }

  test("streaming unwindowed aggregate (update mode) matches batch aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, String, String, String, Long, Timestamp, Timestamp)]
    val agg = IngestPipeline.streamingAggregate(stream.toDF().toDF(cols: _*))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("agg_test").start()
    stream.addData(obs("a.com", "1.1.1.1", 1, "2020-01-01 00:00:00"))
    stream.addData(obs("a.com", "1.1.1.1", 3, "2020-06-01 00:00:00"))
    q.processAllAvailable()
    val rows = spark.table("agg_test").collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("count") == 4L)
  }

  test("dump/replay round-trip preserves the aggregate (unix-seconds JSON)") {
    val dir = Files.createTempDirectory("graft-dump").toString
    val input = Seq(
      obs("x.com", "9.9.9.9", 7, "2021-01-01 00:00:00"),
      obs("y.com", "8.8.8.8", 2, "2021-02-01 00:00:00"))
      .toDF(cols: _*)
    val agg = ObservationStore.aggregate(input)
    Tools.dump(agg, s"$dir/dump")
    // NDJSON shape: unix-seconds ints, one object per line
    val line = spark.read.text(s"$dir/dump").as[String].collect().head
    assert(line.contains("\"time_first\":"))
    assert(!line.contains("T00:00:00")) // not ISO — integer seconds

    Tools.replay(spark, s"$dir/dump", s"$dir/store")
    val st = ObservationStore.load(spark, s"$dir/store")
    assert(st.totalCount() == 2)
    assert(st.entries(rrname = Some("x.com")).collect()
      .head.getAs[Long]("count") == 7L)
  }

  test("backup snapshots a store directory that loads identically") {
    val dir = Files.createTempDirectory("graft-backup").toString
    val input = Seq(obs("b.com", "5.5.5.5", 3, "2022-01-01 00:00:00")).toDF(cols: _*)
    ObservationStore.writeDual(ObservationStore.aggregate(input), s"$dir/st")
    Tools.backup(spark, s"$dir/st", s"$dir/bak")
    val restored = ObservationStore.load(spark, s"$dir/bak")
    assert(restored.entries(rrname = Some("b.com")).collect()
      .head.getAs[Long]("count") == 3L)
  }

  test("streaming BM25 maintenance: merged micro-batches equal indexed-at-once") {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import graft.operators.Retrieval
    val dir = Files.createTempDirectory("graft-sbm25").toString
    val spool = new java.io.File(s"$dir/spool")
    assert(spool.mkdirs())
    val texts = Map(
      1L -> "spark shuffle join join join plan",
      2L -> "join once in a very long document about other things entirely ok",
      3L -> "merge sort merge sort merge",
      4L -> "nothing relevant here at all",
      5L -> "join merge join merge short")
    def jsonFile(name: String, ids: Seq[Long]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/spool/$name"),
        ids.map(i => s"""{"doc_id":$i,"text":"${texts(i)}"}""")
          .mkString("\n").getBytes("UTF-8")): Unit
    def batchIndex(ids: Seq[Long], path: String): Unit =
      Retrieval.writeIndex(
        ids.map(i => (i, texts(i))).toDF("doc_id", "text"),
        "text", "doc_id", path, nBuckets = 4)
    def top(path: String): Seq[Seq[Any]] =
      Retrieval.indexTopK(spark, path, Seq("join", "merge"), k = 5)
        .collect().map(_.toSeq).toSeq

    jsonFile("f1.json", Seq(1L, 2L, 3L))
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    val stream = spark.readStream.schema(schema).json(s"$dir/spool")
    val q = Retrieval.streamIndex(spark, stream, "text", "doc_id",
      s"$dir/idx", s"$dir/ckpt", nBuckets = 4)
    try {
      q.processAllAvailable()
      // first micro-batch built the index: searchable, equals batch build
      batchIndex(Seq(1L, 2L, 3L), s"$dir/whole3")
      assert(top(s"$dir/idx") == top(s"$dir/whole3"))
      assert(Retrieval.readIndexEpoch(spark, s"$dir/idx").contains(1L))

      // second micro-batch merges in: still equals indexed-at-once
      jsonFile("f2.json", Seq(4L, 5L))
      q.processAllAvailable()
      batchIndex(Seq(1L, 2L, 3L, 4L, 5L), s"$dir/whole5")
      assert(top(s"$dir/idx") == top(s"$dir/whole5"))
      // one staged-commit generation per micro-batch
      assert(Retrieval.readIndexEpoch(spark, s"$dir/idx").contains(2L))
    } finally q.stop()
  }

  test("streaming positional + LM maintenance equal built-at-once artifacts") {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import graft.operators.{Curation, Retrieval}
    val dir = Files.createTempDirectory("graft-sartifacts").toString
    assert(new java.io.File(s"$dir/spool").mkdirs())
    val texts = Map(
      1L -> "hash join is a hash join", 2L -> "hash only here",
      3L -> "join hash reversed order", 4L -> "hash join once more")
    def jsonFile(name: String, ids: Seq[Long]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/spool/$name"),
        ids.map(i => s"""{"doc_id":$i,"text":"${texts(i)}"}""")
          .mkString("\n").getBytes("UTF-8")): Unit
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    jsonFile("f1.json", Seq(1L, 2L))
    val qp = Retrieval.streamPositionalIndex(spark,
      spark.readStream.schema(schema).json(s"$dir/spool"),
      "text", "doc_id", s"$dir/pos", s"$dir/ckp", nBuckets = 4)
    val ql = Curation.streamLm(spark,
      spark.readStream.schema(schema).json(s"$dir/spool"),
      "text", s"$dir/lm", s"$dir/ckl")
    try {
      qp.processAllAvailable(); ql.processAllAvailable()
      jsonFile("f2.json", Seq(3L, 4L))
      qp.processAllAvailable(); ql.processAllAvailable()
      val all = texts.toSeq.map { case (i, t) => (i, t) }.toDF("doc_id", "text")
      Retrieval.writePositionalIndex(all, "text", "doc_id", s"$dir/posAll",
        nBuckets = 4)
      assert(
        Retrieval.indexPhraseSearch(spark, s"$dir/pos", Seq("hash", "join"))
          .as[(Long, Long)].collect().toMap ==
        Retrieval.indexPhraseSearch(spark, s"$dir/posAll", Seq("hash", "join"))
          .as[(Long, Long)].collect().toMap)
      Curation.writeLm(all, "text", s"$dir/lmAll")
      def sc(p: String) = Curation.lmScoresLoaded(spark, p, all,
          "text", "doc_id")
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("lm_score")).toMap
      assert(sc(s"$dir/lm") == sc(s"$dir/lmAll"))
      // one staged generation per non-empty micro-batch
      assert(Retrieval.readIndexEpoch(spark, s"$dir/pos").contains(2L))
      assert(Retrieval.readIndexEpoch(spark, s"$dir/lm").contains(2L))
    } finally { qp.stop(); ql.stop() }
  }

  test("batch-id marker makes replayed micro-batches exactly-once") {
    val dir = Files.createTempDirectory("graft-replay").toString
    val b1 = Seq(obs("a.com", "1.1.1.1", 2, "2020-01-01 00:00:00")).toDF(cols: _*)
    val b2 = Seq(obs("a.com", "1.1.1.1", 3, "2020-02-01 00:00:00")).toDF(cols: _*)
    def count(): Long = ObservationStore.load(spark, s"$dir/st")
      .entries(rrname = Some("a.com")).collect().head.getAs[Long]("count")
    // first write records batch 0; replaying batch 0 is a no-op
    ObservationStore.mergeBatch(spark, s"$dir/st", b1, 4, batchId = Some(0L))
    assert(count() == 2L)
    ObservationStore.mergeBatch(spark, s"$dir/st", b1, 4, batchId = Some(0L))
    assert(count() == 2L) // NOT 4: the replay was skipped
    assert(ObservationStore.readBatchId(spark, s"$dir/st").contains(0L))
    // the next batch merges; replaying IT is also a no-op
    ObservationStore.mergeBatch(spark, s"$dir/st", b2, 4, batchId = Some(1L))
    assert(count() == 5L)
    ObservationStore.mergeBatch(spark, s"$dir/st", b2, 4, batchId = Some(1L))
    assert(count() == 5L)
    assert(ObservationStore.readBatchId(spark, s"$dir/st").contains(1L))
    // an id-less merge (manual backfill) still merges — at-least-once by
    // explicit choice, and it must not erase the recorded marker
    ObservationStore.mergeBatch(spark, s"$dir/st", b1, 4)
    assert(count() == 7L)
    assert(ObservationStore.readBatchId(spark, s"$dir/st").contains(1L))

    // the text index honors the same contract
    import graft.operators.Retrieval
    val idxDir = Files.createTempDirectory("graft-replay-idx").toString
    val docs1 = Seq((1L, "join merge")).toDF("doc_id", "text")
    val docs2 = Seq((2L, "join join")).toDF("doc_id", "text")
    Retrieval.writeIndex(docs1, "text", "doc_id", idxDir, nBuckets = 4)
    Retrieval.mergeIndex(spark, idxDir, docs2, "text", "doc_id",
      batchId = Some(1L))
    def nDocs(): Long = spark.read.parquet(s"$idxDir/stats")
      .head.getAs[Long]("n_docs")
    assert(nDocs() == 2L)
    Retrieval.mergeIndex(spark, idxDir, docs2, "text", "doc_id",
      batchId = Some(1L)) // replay
    assert(nDocs() == 2L) // NOT 3
  }

  test("incremental merge touches only the batch's buckets") {
    val dir = Files.createTempDirectory("graft-merge").toString
    val b1 = Seq(obs("a.com", "1.1.1.1", 1, "2020-01-01 00:00:00")).toDF(cols: _*)
    ObservationStore.mergeBatch(spark, s"$dir/st", b1, numBuckets = 8)
    val filesBefore = listParquet(s"$dir/st/by_rrname")
    val b2 = Seq(obs("zz.org", "2.2.2.2", 1, "2020-01-01 00:00:00")).toDF(cols: _*)
    ObservationStore.mergeBatch(spark, s"$dir/st", b2, numBuckets = 8)
    val filesAfter = listParquet(s"$dir/st/by_rrname")
    // a.com's bucket files survive untouched unless zz.org hashed into it
    val aBucket = filesBefore.head.split("/").init.last
    val bBucketRows = ObservationStore.load(spark, s"$dir/st").totalCount()
    assert(bBucketRows == 2)
    assert(filesAfter.filter(_.contains(aBucket)).nonEmpty)
  }

  test("streaming IVF-PQ maintenance: micro-batches equal write+merge; replay-safe") {
    import graft.operators.Similarity
    val dir = Files.createTempDirectory("graft-sivfpq").toString
    val dim = 8
    // deterministic, well-spread vectors; ids 0..1 seed the centroids
    def vec(i: Long): Seq[Float] =
      (0 until dim).map(d => (((i * 31 + d * 17) % 13) - 6).toFloat / 3f)
    def df(ids: Seq[Long]) = ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val query = vec(3L)
    def top(path: String): Seq[Seq[Any]] =
      Similarity.ivfPqTopK(spark, path, query, queryId = -1L, k = 3,
        nprobe = 2, rerank = 6).collect().map(_.toSeq).toSeq

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = Similarity.streamIvfPqIndex(spark,
      stream.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/idx", s"$dir/ckpt", centroidIds = Seq(0L, 1L),
      m = 2, ks = 4, iters = 1, dim = dim)
    try {
      // batch 1 trains the index (FAISS train-once lifecycle)
      stream.addData((0L to 5L).map(i => (i, vec(i))): _*)
      q.processAllAvailable()
      assert(top(s"$dir/idx").nonEmpty)

      // batch 2 merges with the STORED model: the streamed index must
      // equal the batch-path equivalent (write first six, merge rest) —
      // NOT a full rebuild, whose codebooks would retrain on everything
      stream.addData((6L to 9L).map(i => (i, vec(i))): _*)
      q.processAllAvailable()
      Similarity.writeIvfPqIndex(df(0L to 5L), "vec_id", "embedding",
        Seq(0L, 1L), s"$dir/batch", m = 2, ks = 4, iters = 1, dim = dim)
      Similarity.mergeIvfPqIndex(spark, s"$dir/batch", df(6L to 9L),
        "vec_id", "embedding")
      assert(top(s"$dir/idx") == top(s"$dir/batch"))
      // one committed generation per micro-batch, batch id recorded
      assert(graft.operators.Retrieval.readIndexEpoch(spark, s"$dir/idx")
        .contains(2L))
      assert(graft.operators.Retrieval.readIndexBatchId(spark, s"$dir/idx")
        .contains(1L))
      // a replayed batch id is exactly-once: merging it again changes
      // nothing (same row count, same generation)
      val before = spark.read.parquet(s"$dir/idx/vectors").count()
      Similarity.mergeIvfPqIndex(spark, s"$dir/idx", df(6L to 9L),
        "vec_id", "embedding", batchId = Some(1L))
      assert(spark.read.parquet(s"$dir/idx/vectors").count() == before)
      assert(graft.operators.Retrieval.readIndexEpoch(spark, s"$dir/idx")
        .contains(2L))
    } finally q.stop()
  }

  test("streaming IVF-PQ: a first build that died before its meta replays as a rebuild") {
    import graft.operators.Similarity
    val dir = Files.createTempDirectory("graft-sivfpq-replay").toString
    val dim = 8
    def vec(i: Long): Seq[Float] =
      (0 until dim).map(d => (((i * 31 + d * 17) % 13) - 6).toFloat / 3f)
    // the first batch's build, cut just before its last write (the meta)
    Similarity.writeIvfPqIndex(
      (0L to 5L).map(i => (i, vec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", Seq(0L, 1L), s"$dir/idx", m = 2, ks = 4,
      iters = 1, dim = dim)
    assert(new java.io.File(s"$dir/idx/_graft_meta.json").delete())
    // the stream redelivers that batch: it must rebuild, not merge the
    // same six vectors into the half-built index a second time
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Seq[Float])]
    val q = Similarity.streamIvfPqIndex(spark,
      stream.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$dir/idx", s"$dir/ckpt", centroidIds = Seq(0L, 1L),
      m = 2, ks = 4, iters = 1, dim = dim)
    try {
      stream.addData((0L to 5L).map(i => (i, vec(i))): _*)
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/idx/vectors").select("id")
        .as[Long].collect().sorted.toSeq == (0L to 5L))
    } finally q.stop()
  }

  test("streaming curation: quality gate + within-batch + cross-corpus dedup") {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import graft.streaming.CurationPipeline
    val dir = Files.createTempDirectory("graft-scurate").toString
    assert(new java.io.File(s"$dir/spool").mkdirs())
    def jsonFile(name: String, docs: Seq[(Long, String)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/spool/$name"),
        docs.map { case (i, t) => s"""{"doc_id":$i,"text":"$t"}""" }
          .mkString("\n").getBytes("UTF-8")): Unit

    val good1 = "alpha beta gamma delta epsilon zeta eta theta one two"
    val good2 = "totally different content about storage engines and joins"
    jsonFile("f1.json", Seq(
      (1L, good1),
      (2L, good1),                     // exact duplicate of 1 → drop
      (3L, good1 + " extra"),          // near-dup of 1 → drop (lowest id wins)
      (4L, "too short"),               // quality reject
      (5L, good2)))
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    val stream = spark.readStream.schema(schema).json(s"$dir/spool")
    val q = CurationPipeline.start(spark, stream, "text", "doc_id",
      s"$dir/corpus", s"$dir/rejects", s"$dir/ckpt", minTokens = 3)
    try {
      q.processAllAvailable()
      val c1 = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect().toSet
      assert(c1 == Set(1L, 5L), c1)
      val r1 = spark.read.parquet(s"$dir/rejects")
        .select("doc_id", "reason").as[(Long, String)].collect().toMap
      assert(r1 == Map(2L -> "dup:within_batch", 3L -> "dup:within_batch",
        4L -> "quality:token_count"), r1)

      // batch 2: near-dup of the EXISTING corpus drops cross-corpus;
      // genuinely new content lands
      jsonFile("f2.json", Seq(
        (10L, good2 + " slightly"),    // near-dup of corpus doc 5
        (11L, "entirely novel text with sufficient distinct token count")))
      q.processAllAvailable()
      val c2 = spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect().toSet
      assert(c2 == Set(1L, 5L, 11L), c2)
      val r2 = spark.read.parquet(s"$dir/rejects")
        .select("doc_id", "reason").as[(Long, String)].collect().toMap
      assert(r2(10L) == "dup:cross_corpus", r2)
    } finally q.stop()
  }

  test("indexed curation replays exactly-once, including the bootstrap batch") {
    import graft.streaming.CurationPipeline
    import graft.operators.Dedup
    val dir = Files.createTempDirectory("graft-scurate-replay").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta one two"),
      (5L, "totally different content about storage engines and joins"))
      .toDF("doc_id", "text")
    def runBatch(df: org.apache.spark.sql.DataFrame, bid: Long): Unit =
      CurationPipeline.curateBatchIndexed(spark, df, "text", "doc_id",
        s"$dir/corpus", s"$dir/rejects", s"$dir/index", bid,
        minTokens = 3, maxTokens = 100000, threshold = 0.8)

    // bootstrap batch creates the index AND records its batch id
    runBatch(docs, bid = 7L)
    assert(Dedup.readBandBatchId(spark, s"$dir/index").contains(7L))
    val corpus0 = spark.read.parquet(s"$dir/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(corpus0 == Set(1L, 5L))
    val bandRows0 = Dedup.loadBandIndex(spark, s"$dir/index").count()

    // RETRY of the bootstrap batch (foreachBatch re-delivery): the
    // index exists now, so the retry takes the merge path — the
    // recorded high-water mark must turn it into a no-op (no duplicate
    // band rows), and the batch's own docs must NOT self-match as
    // cross-corpus duplicates and wipe their corpus partition
    runBatch(docs, bid = 7L)
    assert(Dedup.readBandBatchId(spark, s"$dir/index").contains(7L))
    assert(Dedup.loadBandIndex(spark, s"$dir/index").count() == bandRows0)
    assert(spark.read.parquet(s"$dir/corpus")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 5L))

    // retry of a LATER batch after its index merge committed: same
    // contract (this is the partial-completion crash window)
    val b2 = Seq((11L, "entirely novel text with sufficient distinct " +
      "token count")).toDF("doc_id", "text")
    runBatch(b2, bid = 8L)
    val bandRows1 = Dedup.loadBandIndex(spark, s"$dir/index").count()
    runBatch(b2, bid = 8L)
    assert(Dedup.loadBandIndex(spark, s"$dir/index").count() == bandRows1)
    assert(spark.read.parquet(s"$dir/corpus")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 5L, 11L))

    // a rebuild preserves the merge high-water mark
    Dedup.writeBandIndex(spark.read.parquet(s"$dir/corpus"), "text",
      "doc_id", s"$dir/index")
    assert(Dedup.readBandBatchId(spark, s"$dir/index").contains(8L))
  }

  test("indexed streaming curation maintains the band index incrementally") {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    import graft.streaming.CurationPipeline
    val dir = Files.createTempDirectory("graft-scurate-idx").toString
    assert(new java.io.File(s"$dir/spool").mkdirs())
    def jsonFile(name: String, docs: Seq[(Long, String)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/spool/$name"),
        docs.map { case (i, t) => s"""{"doc_id":$i,"text":"$t"}""" }
          .mkString("\n").getBytes("UTF-8")): Unit

    val good1 = "alpha beta gamma delta epsilon zeta eta theta one two"
    val good2 = "totally different content about storage engines and joins"
    jsonFile("f1.json", Seq(
      (1L, good1), (2L, good1), (4L, "too short"), (5L, good2)))
    val schema = new StructType().add("doc_id", LongType).add("text", StringType)
    val stream = spark.readStream.schema(schema).json(s"$dir/spool")
    val q = CurationPipeline.startIndexed(spark, stream, "text", "doc_id",
      s"$dir/corpus", s"$dir/rejects", s"$dir/index", s"$dir/ckpt",
      minTokens = 3)
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect().toSet == Set(1L, 5L))
      // batch 0 built the index over the accepted docs
      assert(graft.operators.Dedup.readBandEpoch(spark, s"$dir/index")
        .contains(1L))

      // batch 2: near-dup of INDEXED corpus content drops through the
      // persisted index (no corpus re-join); new content lands AND
      // folds in as a staged batch merge
      jsonFile("f2.json", Seq(
        (10L, good2 + " slightly"),
        (11L, "entirely novel text with sufficient distinct token count")))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/corpus")
        .select("doc_id").as[Long].collect().toSet == Set(1L, 5L, 11L))
      assert(spark.read.parquet(s"$dir/rejects")
        .select("doc_id", "reason").as[(Long, String)].collect()
        .toMap.apply(10L) == "dup:cross_corpus")
      assert(graft.operators.Dedup.readBandEpoch(spark, s"$dir/index")
        .contains(2L))
      assert(graft.operators.Dedup.readBandBatchId(spark, s"$dir/index")
        .contains(1L))
      // the index holds band rows for every accepted doc — a dup of
      // batch-1's doc 11 now drops against the INDEX
      jsonFile("f3.json", Seq(
        (20L, "entirely novel text with sufficient distinct token count more")))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/rejects")
        .select("doc_id", "reason").as[(Long, String)].collect()
        .toMap.apply(20L) == "dup:cross_corpus")
    } finally q.stop()
  }

  test("streaming WARC ingestion: two-batch stream equals one-shot batch") {
    import graft.streaming.{CurationPipeline, WarcIngest}
    import graft.sources.Warc
    val dir = Files.createTempDirectory("graft-swarc").toString
    assert(new java.io.File(s"$dir/archives").mkdirs())

    def page(title: String, body: String): String =
      s"<html><head><title>$title</title><script>var x = 1;</script>" +
        s"</head><body><nav>Home | About</nav><p>$body</p>" +
        "<!-- c --><footer>fin</footer></body></html>"
    // render an archive into staging via the writer, then drop its one
    // .warc.gz into the WATCHED dir under a stable name (the crawler's
    // "finished segment lands in the spool" move)
    def archive(name: String, docs: Seq[(Long, String, String)]): Unit = {
      val df = docs.map { case (i, title, body) =>
        (s"http://h.example/$i", new Timestamp(1600000000000L + i * 1000),
          "text/html", page(title, body).getBytes("UTF-8"))
      }.toDF("url", "ts", "content_type", "payload").coalesce(1)
      val staging = s"$dir/stage/$name"
      Warc.write(df, staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".warc.gz")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/archives/$name.warc.gz")): Unit
    }

    val long1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val long2 = "storage engines shuffle partitions broadcast joins at scale"
    val long3 = "entirely novel archive content with many distinct tokens"
    // extracted text = title + nav + body + footer ≈ body + 7 boilerplate
    // tokens, so minTokens = 10 rejects the "x" page (7) and passes the
    // real ones (15+)
    archive("seg1", Seq((1L, "Doc 1", long1), (2L, "Doc 2", long2),
      (3L, "Doc 3", "x")))
    val q = WarcIngest.start(spark, s"$dir/archives", s"$dir/corpus",
      s"$dir/rejects", s"$dir/ckpt", minTokens = 10)
    try {
      q.processAllAvailable()
      // second segment lands AFTER the first trigger: doc 4 is the same
      // PAGE as corpus doc 2 under a new URL (exact content dup →
      // deterministic: identical signature, guaranteed band collision,
      // jaccard 1.0) — cross-corpus in the stream, within-batch in the
      // one-shot, either way doc 2 survives; doc 5 is new
      archive("seg2", Seq((4L, "Doc 2", long2), (5L, "Doc 5", long3)))
      q.processAllAvailable()
    } finally q.stop()

    // one-shot batch run over BOTH archives at once, same operators
    val all = new java.io.File(s"$dir/archives").listFiles()
      .map(_.getPath).toSeq.sorted
    CurationPipeline.curateBatch(spark,
      WarcIngest.extractDocs(spark, all), "text", "url",
      s"$dir/bcorpus", s"$dir/brejects", 0L, 10, 100000, 0.8)

    def corpus(path: String): Set[(String, String, String)] =
      spark.read.parquet(path).select("url", "title", "text")
        .as[(String, String, String)].collect().toSet
    val streamed = corpus(s"$dir/corpus")
    assert(streamed == corpus(s"$dir/bcorpus"))
    assert(streamed.map(_._1) ==
      Set("http://h.example/1", "http://h.example/2", "http://h.example/5"))
    // the extraction chain actually ran (title + boilerplate strip)
    assert(streamed.exists { case (u, t, x) =>
      u.endsWith("/5") && t == "Doc 5" && x.contains(long3) &&
        !x.contains("<p>") })
    // rejects carry the right reasons in the stream
    val reasons = spark.read.parquet(s"$dir/rejects")
      .select("url", "reason").as[(String, String)].collect().toMap
    assert(reasons("http://h.example/3") == "quality:token_count")
    assert(reasons("http://h.example/4") == "dup:cross_corpus")

    // RESTART from the checkpoint: consumed archives must not replay
    // (file-source discovery is checkpointed), only the new segment
    // lands — exactly-once across process restarts
    val long4 = "yet another fresh archive with plenty of unique words"
    archive("seg3", Seq((6L, "Doc 6", long4)))
    val q2 = WarcIngest.start(spark, s"$dir/archives", s"$dir/corpus",
      s"$dir/rejects", s"$dir/ckpt", minTokens = 10)
    try q2.processAllAvailable() finally q2.stop()
    val after = spark.read.parquet(s"$dir/corpus")
      .select("url").as[String].collect().toSeq
    assert(after.sorted == Seq("http://h.example/1", "http://h.example/2",
      "http://h.example/5", "http://h.example/6"))
  }

  test("streamForget: deletion stream fans out exactly-once per batch") {
    import graft.operators.{Curation, Forget, ForgetTargets, Retrieval}
    val dir = Files.createTempDirectory("graft-sforget").toString
    val corpus = Seq((1L, "hash join alpha"), (2L, "merge sort beta"),
      (3L, "hash join gamma"), (4L, "delta plain text"))
      .toDF("doc_id", "text")
    Retrieval.writeIndex(corpus, "text", "doc_id", s"$dir/bm25",
      nBuckets = 4)
    Curation.writeLm(corpus, "text", s"$dir/lm")
    val targets = ForgetTargets(bm25 = Seq(s"$dir/bm25"),
      ngramLm = Seq(s"$dir/lm"))
    def lmScores(path: String, d: org.apache.spark.sql.DataFrame) =
      Curation.lmScoresLoaded(spark, path, d, "text", "doc_id")
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("lm_score")).toMap
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = Forget.streamForget(stream.toDF().toDF("doc_id", "text"),
      "text", "doc_id", targets, s"$dir/ck")
    try {
      stream.addData((1L, "hash join alpha"))
      q.processAllAvailable()
      val rest1 = corpus.filter(col("doc_id") =!= 1L)
      assert(!Retrieval.indexTopK(spark, s"$dir/bm25",
          Seq("hash", "join"), k = 5)
        .collect().map(_.getAs[Long]("doc_id")).contains(1L))
      // LM equals a model that never saw doc 1
      val never1 = Files.createTempDirectory("graft-sforget-t1").toString
      Curation.writeLm(rest1, "text", never1)
      assert(lmScores(s"$dir/lm", rest1) == lmScores(never1, rest1))
      // a DIRECT replay of the committed batch id is a no-op — not the
      // negative-count refusal a batch-id-less double delete hits
      Forget.forgetDocuments(spark,
        Seq((1L, "hash join alpha")).toDF("doc_id", "text"),
        "text", "doc_id", targets, batchId = Some(0L))
      assert(lmScores(s"$dir/lm", rest1) == lmScores(never1, rest1))
      // a second deletion batch advances the high-water mark
      stream.addData((2L, "merge sort beta"))
      q.processAllAvailable()
      val rest2 = corpus.filter(col("doc_id") > 2L)
      val never2 = Files.createTempDirectory("graft-sforget-t2").toString
      Curation.writeLm(rest2, "text", never2)
      assert(lmScores(s"$dir/lm", rest2) == lmScores(never2, rest2))
    } finally q.stop()
  }

  private def listParquet(path: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(path)).map(_.getPath).filter(_.endsWith(".parquet"))
  }
}
