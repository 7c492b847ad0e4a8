package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.col

import graft.operators.ObservationStore

/** Plan-shape regression tests — the properties that make the store work
  * at 100 TB, asserted on `explain(formatted)` output so a refactor that
  * silently loses pruning/pushdown fails CI:
  *  - point lookups prune to ONE bucket partition (balboa's seek);
  *  - key equality filters reach the parquet scan (PushedFilters);
  *  - the core aggregation does map-side partial aggregation
  *    (one shuffle, partial+final HashAggregate = the RocksDB merge op).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def explainOf(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) { df.explain("formatted") }
    out.toString
  }

  private lazy val storePath = {
    val dir = Files.createTempDirectory("graft-plan").toString
    val ts = Timestamp.valueOf("2020-01-01 00:00:00")
    val input = (1 to 500).map(i =>
      (s"name-$i.com", s"s${i % 3}", "A", s"10.0.0.${i % 250}", 1L, ts, ts))
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
        "timestamp_start", "timestamp_end")
    ObservationStore.writeDual(ObservationStore.aggregate(input), s"$dir/st",
      numBuckets = 16)
    s"$dir/st"
  }

  test("entries point lookup prunes to one bucket partition + pushes the key filter") {
    val st = ObservationStore.load(spark, storePath)
    val plan = explainOf(st.entries(rrname = Some("name-7.com")))
    // partition pruning: the bucket predicate folds to a literal
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.matches("(?s).*PartitionFilters:.*bucket.*=.*\\d+.*"), plan)
    // data filter pushed to the parquet scan
    assert(plan.matches("(?s).*PushedFilters:.*EqualTo\\(rrname,name-7.com\\).*"), plan)
    // and it actually answers correctly from the pruned scan
    assert(st.entries(rrname = Some("name-7.com")).count() == 1)
  }

  test("inverted access path prunes on rdata bucket") {
    val st = ObservationStore.load(spark, storePath)
    val plan = explainOf(st.entries(rdata = Some("10.0.0.7")))
    assert(plan.matches("(?s).*PushedFilters:.*EqualTo\\(rdata,10.0.0.7\\).*"), plan)
    assert(st.entries(rdata = Some("10.0.0.7")).count() == 2)
  }

  test("prefix scan pushes StartsWith into the parquet scan") {
    val st = ObservationStore.load(spark, storePath)
    val plan = explainOf(st.entriesPrefix("name-7"))
    // no bucket pruning possible (hash destroys key order), but the
    // prefix predicate must reach the scan so sorted-within-bucket files
    // row-group-skip
    assert(plan.matches("(?s).*PushedFilters:.*StringStartsWith\\(rrname,name-7\\).*"),
      plan)
    // name-7.com, name-70..79.com → 11 keys, 1 row each in the fixture
    assert(st.entriesPrefix("name-7").count() == 11)
  }

  test("core aggregation is partial+final with a single shuffle") {
    val ts = Timestamp.valueOf("2020-01-01 00:00:00")
    val input = Seq(("a.com", "s1", "A", "1.1.1.1", 1L, ts, ts))
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
        "timestamp_start", "timestamp_end")
    val plan = explainOf(ObservationStore.aggregate(input))
    val tree = plan.split("\n\n").head // the plan tree, before node details
    val nAgg = "HashAggregate".r.findAllIn(tree).length
    val nExchange = "Exchange".r.findAllIn(tree).length
    assert(nAgg == 2, s"expected partial+final HashAggregate, plan:\n$plan")
    assert(nExchange == 1, s"expected exactly one shuffle, plan:\n$plan")
    assert(plan.contains("partial_sum"), plan) // map-side combine present
  }

  test("shipped embedding near-dup path has no cartesian product") {
    val vecs = (0L to 40L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val plan = explainOf(graft.operators.Similarity.cosineLshPairs(
      vecs, "vec_id", "embedding", threshold = 0.9, dim = 16))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("randomProject is a narrow map: zero exchanges in the plan") {
    val vecs = (0L to 20L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(8)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val plan = explainOf(graft.operators.Similarity.randomProject(
      vecs, "vec_id", "embedding", dim = 8, outDim = 4))
    assert(!plan.contains("Exchange"),
      s"projection must not shuffle — it SHRINKS data before any " +
        s"distance-bearing shuffle, plan:\n$plan")
  }

  test("heavyHitters: candidate gate broadcasts, counts combine map-side") {
    val df = (1 to 400).map(i => s"w${i % 9}").toDF("w")
    val plan = explainOf(graft.operators.Curation.heavyHitters(df, "w", 8))
    // the exact-count pass is gated by a BROADCAST semi-join on the
    // Misra-Gries candidates — the full vocabulary never shuffles
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftSemi"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("partial_count"), plan) // map-side combine
  }

  test("lengthBatches: ONE exchange — the batch aggregation reuses the shard partitioning") {
    val docs = (1 to 200).map(i => (i.toLong, s"w$i " * (i % 9 + 1)))
      .toDF("doc_id", "text")
    val plan = explainOf(graft.operators.Curation.lengthBatches(
      docs, "text", "doc_id", nShards = 4, batchSize = 16))
    // count exchange NODES (detail headers), not string occurrences —
    // formatted explain prints each node twice (tree + detail)
    val n = "\\(\\d+\\) Exchange".r.findAllIn(plan).length
    // the window shuffles on shard; the (shard, batch_id) groupBy is
    // satisfied by hashpartitioning(shard) — a second exchange here
    // means Catalyst stopped reusing the partitioning
    assert(n == 1, s"expected exactly one shuffle, got $n:\n$plan")
  }

  test("rendezvousAssign is a narrow map: zero exchanges") {
    val df = (1L to 50L).toDF("id")
    val plan = explainOf(graft.operators.Curation.rendezvousAssign(
      df, "id", Seq("a", "b", "c")))
    assert(!plan.contains("Exchange"), plan)
  }

  test("store snapshot diff: equi-join on the store key, never a product") {
    val st = ObservationStore.load(spark, storePath).forward.drop("bucket")
    val plan = explainOf(ObservationStore.diffSnapshots(st, st))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("FullOuter"), plan)
  }

  test("cidr query prunes via the persisted rdata_ip column") {
    val st = ObservationStore.load(spark, storePath)
    val plan = explainOf(st.cidrQuery("10.0.0.0/28"))
    // the range predicate is on the PERSISTED numeric column, pushed to
    // the parquet scan where row-group min/max stats prune it — not an
    // expression computed at read time
    assert(plan.matches("(?s).*PushedFilters:.*GreaterThanOrEqual\\(rdata_ip.*"), plan)
    assert(plan.matches("(?s).*PushedFilters:.*LessThanOrEqual\\(rdata_ip.*"), plan)
    // and the result matches computing it the slow way
    assert(st.cidrQuery("10.0.0.0/28").count() ==
      st.inverted.filter(
        graft.functions.Net.ip_to_long(col("rdata"))
          .between(167772160L, 167772175L)).count())
  }

  test("v6 cidr query prunes via the persisted rdata_ip6 column") {
    val st = ObservationStore.load(spark, storePath)
    val plan = explainOf(st.cidrQuery("2001:db8::/32"))
    // fixed-width hex keys order like the 128-bit address, so the string
    // BETWEEN pushes to the scan and row-group min/max stats prune it
    assert(plan.matches("(?s).*PushedFilters:.*GreaterThanOrEqual\\(rdata_ip6.*"), plan)
    assert(plan.matches("(?s).*PushedFilters:.*LessThanOrEqual\\(rdata_ip6.*"), plan)
  }

  test("IVF centroid assignment is an aggregation, not a ranking window") {
    val vecs = (0L to 40L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val plan = explainOf(graft.operators.Similarity.ivfTopK(
      vecs, "vec_id", "embedding", queryId = 5L, k = 5,
      centroidIds = 0L to 3L, nprobe = 2))
    // a Window would sort every (vector x centroid) row per id partition;
    // max_by aggregates with map-side partial combine instead
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("similarity-join candidate generation is always an equi-join") {
    // the LSH/inverted-index designs live or die on the candidate join
    // being a shuffled EQUI-join on the blocking key — a refactor that
    // degrades it to a nested-loop join over the id inequality would
    // still pass correctness tests and then melt at scale
    val docsDf = (1L to 40L).map(i => (i, s"w$i x$i y$i z${i % 5} common"))
      .toDF("doc_id", "text")
    for (plan <- Seq(
        explainOf(graft.operators.Dedup.ngramJaccardPairs(
          docsDf, "text", "doc_id")),
        explainOf(graft.operators.Dedup.minhashNearDuplicates(
          docsDf, "text", "doc_id")))) {
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("content split is a narrow per-row projection (no shuffle)") {
    val docsDf = Seq((1L, "some text")).toDF("doc_id", "text")
    val plan = explainOf(docsDf.select(col("doc_id"),
      graft.operators.TextAnalysis.contentSplit(col("text")).as("split")))
    assert(!plan.contains("Exchange"), plan)
  }

  test("decoders stay shuffle-free (narrow maps over the source)") {
    val raw = Seq(("{}", "s")).toDF("value", "sensor_id")
    for (dec <- graft.streaming.IngestPipeline.decoders.values) {
      val plan = explainOf(dec(raw))
      assert(!plan.contains("Exchange"), plan)
    }
  }

  test("PII redaction and repetition signals are narrow per-row passes") {
    val docsDf = Seq((1L, "a b a b c")).toDF("doc_id", "text")
    for (cols <- Seq(graft.operators.Curation.redactPii(col("text")),
        graft.operators.Curation.repetitionColumns(col("text")))) {
      val plan = explainOf(docsDf.select(col("doc_id") +: cols: _*))
      assert(!plan.contains("Exchange"), plan)
    }
  }

  test("ngram top-k is partial agg + TakeOrdered, not a global sort") {
    val docsDf = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val plan = explainOf(graft.operators.Curation.ngramTopK(
      docsDf, "text", n = 2, k = 5))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial"), plan)
    assert(!plan.matches("(?s).*Sort \\[.*global=true.*"), plan)
  }

  test("tfidf document-frequency join is broadcast (vocabulary side)") {
    val docsDf = (1L to 30L).map(i => (i, s"w$i common text here"))
      .toDF("doc_id", "text")
    val plan = explainOf(graft.operators.Curation.tfidfKeywords(
      docsDf, "text", "doc_id"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("passage dedup joins on the hash key only (equi-join, no product)") {
    val docsDf = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val plan = explainOf(graft.operators.Curation.passageDedup(
      docsDf, "text", "doc_id", passageTokens = 4))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("delta-dedup and containment candidate joins are equi-joins only") {
    val corpus = (1L to 30L).map(i => (i, s"w$i x$i y$i z$i common here"))
      .toDF("doc_id", "text")
    val batch = (31L to 35L).map(i => (i, s"w$i x$i y$i z$i common here"))
      .toDF("doc_id", "text")
    val vecs = (0L to 20L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    for (plan <- Seq(
        explainOf(graft.operators.Dedup.crossCorpusNearDuplicates(
          corpus, batch, "text", "doc_id")),
        explainOf(graft.operators.Dedup.containmentPairs(
          corpus, "text", "doc_id")),
        explainOf(graft.operators.Similarity.cosineLshDelta(
          vecs, vecs, "vec_id", "embedding", threshold = 0.9, dim = 16)))) {
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("curate_export runs in exactly two shuffles end to end") {
    val plan = explainOf(graft.SparkEntry.queries("curate_export")(
      spark, "/root/testdata/sf0.001"))
    val tree = plan.split("\n\n").head
    val nExchange = "Exchange".r.findAllIn(tree).length
    // the pipeline's shuffle budget, independent of corpus size: dedup
    // aggregation + shard-partitioned packing window, plus the ONE
    // deliberate round-robin spread of the single-row-group test input
    // (Graft tables arrive as one parquet row group; a real corpus scan
    // is already parallel and skips it)
    assert(nExchange == 3, s"expected 3 exchanges, got $nExchange:\n$tree")
  }

  test("persisted IVF index prunes to the probed cluster partitions") {
    val vecs = (0L to 40L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-plan-ivf").toString
    graft.operators.Similarity.writeIvfIndex(
      vecs, "vec_id", "embedding", 0L to 3L, dir)
    val q = vecs.filter(col("vec_id") === 5)
      .select(col("embedding")).head.getSeq[Float](0)
    val out = graft.operators.Similarity.ivfIndexTopK(
      spark, dir, q, queryId = 5L, k = 5, nprobe = 2)
    val plan = explainOf(out)
    // the probe is directory-level partition pruning, not a data filter
    assert(plan.matches("(?s).*PartitionFilters:.*cluster.*"), plan)
    // and the persisted path returns exactly what the in-memory IVF does
    val direct = graft.operators.Similarity.ivfTopK(
      vecs, "vec_id", "embedding", queryId = 5L, k = 5,
      centroidIds = 0L to 3L, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = out.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed == direct)
  }

  test("IVF tombstones: delete masks, vacuum folds, empty clusters drop") {
    val vecs = (0L to 40L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-plan-ivfdel").toString
    graft.operators.Similarity.writeIvfIndex(
      vecs, "vec_id", "embedding", 0L to 3L, dir)
    val q = vecs.filter(col("vec_id") === 5)
      .select(col("embedding")).head.getSeq[Float](0)
    def top(): Seq[Long] = graft.operators.Similarity
      .ivfIndexTopK(spark, dir, q, queryId = 5L, k = 40, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    val before = top()
    // delete two present ids (idempotent double-delete on one of them)
    graft.operators.Similarity.deleteFromIvfIndex(spark, dir,
      Seq(before.head, before(1), before.head))
    val masked = top()
    assert(masked == before.drop(2))
    // vacuum folds the tombstones in: same results, tombstones gone
    assert(graft.operators.Similarity.vacuumIvfIndex(spark, dir) == 2L)
    assert(!new java.io.File(s"$dir/_tombstones").exists())
    assert(top() == masked)
    // vacuum again: nothing to do
    assert(graft.operators.Similarity.vacuumIvfIndex(spark, dir) == 0L)
    // delete EVERYTHING: after vacuum exactly ONE schema-only
    // partition-shaped placeholder leaf remains (a root-level file
    // would break partition discovery on the next merge — the
    // band-index lesson) and the probe returns empty rather than
    // failing
    graft.operators.Similarity.deleteFromIvfIndex(spark, dir,
      vecs.select(col("vec_id")))
    assert(graft.operators.Similarity.vacuumIvfIndex(spark, dir) == 39L)
    val dirs = new java.io.File(s"$dir/vectors").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
    assert(dirs.map(_.getName).toSeq == Seq("cluster=0"),
      dirs.map(_.getName).toSeq)
    assert(spark.read.parquet(s"$dir/vectors").isEmpty)
    assert(top().isEmpty)
    // rebuild clears any deletion state
    graft.operators.Similarity.writeIvfIndex(
      vecs, "vec_id", "embedding", 0L to 3L, dir)
    assert(top() == before)

    // kill exactly ONE whole cluster while the others are untouched:
    // its directory must go, but NO root-level file may appear next to
    // the surviving partition directories (it breaks partition
    // discovery on the next read)
    val byCluster = spark.read.parquet(s"$dir/vectors")
      .groupBy(col("cluster").cast("long").as("c"))
      .agg(org.apache.spark.sql.functions.collect_list(col("id")).as("ids"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val (victim, victimIds) = byCluster.minBy(_._1)
    graft.operators.Similarity.deleteFromIvfIndex(spark, dir, victimIds)
    assert(graft.operators.Similarity.vacuumIvfIndex(spark, dir) ==
      victimIds.size.toLong)
    val vroot = new java.io.File(s"$dir/vectors")
    assert(!vroot.listFiles().exists(f =>
      f.isFile && f.getName.endsWith(".parquet")),
      vroot.listFiles().map(_.getName).toSeq)
    assert(!new java.io.File(s"$dir/vectors/cluster=$victim").exists())
    // the index still reads and serves after the partial-cluster drop
    val after = top()
    assert(after == before.filterNot(victimIds.contains))

    // the IVF-PQ index honors the same tombstone contract
    val pqDir = Files.createTempDirectory("graft-plan-pqdel").toString
    graft.operators.Similarity.writeIvfPqIndex(
      vecs, "vec_id", "embedding", 0L to 3L, pqDir, m = 4, ks = 4,
      iters = 1, dim = 16)
    def pqTop(): Seq[Long] = graft.operators.Similarity
      .ivfPqTopK(spark, pqDir, q, queryId = 5L, k = 10, nprobe = 4,
        rerank = 20)
      .collect().map(_.getLong(0)).toSeq
    val pqBefore = pqTop()
    graft.operators.Similarity.deleteFromIvfIndex(spark, pqDir,
      Seq(pqBefore.head))
    assert(!pqTop().contains(pqBefore.head))
  }

  test("IVF-PQ all-dead vacuum stays partition-shaped; merge survives") {
    import graft.operators.Similarity
    val vecs = (0L to 40L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-plan-pqalldead").toString
    Similarity.writeIvfPqIndex(vecs.filter(col("vec_id") < 20),
      "vec_id", "embedding", 0L to 3L, dir, m = 4, ks = 4, iters = 1,
      dim = 16)
    // delete EVERY indexed vector and vacuum: the placeholder must be
    // partition-shaped (a root-level file inside vectors/ breaks
    // partition discovery on the next merge — the band-index lesson)
    Similarity.deleteFromIvfIndex(spark, dir, (0L until 20L).toSeq)
    assert(Similarity.vacuumIvfIndex(spark, dir) > 0L)
    val vroot = new java.io.File(s"$dir/vectors")
    assert(!vroot.listFiles().exists(f =>
      f.isFile && f.getName.endsWith(".parquet")),
      vroot.listFiles().map(_.getName).toSeq)
    // merging new vectors into the emptied index must work, and the
    // probe must see only them
    Similarity.mergeIvfPqIndex(spark, dir,
      vecs.filter(col("vec_id") >= 20), "vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 25)
      .select(col("embedding")).head().getSeq[Float](0)
    val top = Similarity.ivfPqTopK(spark, dir, q, queryId = 25L, k = 5,
      nprobe = 4, rerank = 10).collect().map(_.getLong(0))
    assert(top.nonEmpty && top.forall(_ >= 20L), top.toSeq)
  }

  test("band tombstones: delete masks, vacuum folds, empty leaves drop") {
    import graft.operators.Dedup
    val docsDf = (0L to 23L).map(i =>
      (i, s"alpha beta gamma delta w$i x$i y$i z$i common tail here"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-plan-banddel").toString
    Dedup.writeBandIndex(docsDf, "text", "doc_id", dir)
    def corpusIds(): Set[Long] = Dedup.loadBandIndex(spark, dir)
      .select(col("corpus_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(corpusIds() == (0L to 23L).toSet)
    // delete two ids (idempotent double-delete on one): load masks
    Dedup.deleteFromBandIndex(spark, dir, Seq(3L, 7L, 3L))
    assert(corpusIds() == (0L to 23L).toSet -- Set(3L, 7L))
    // vacuum folds the tombstones in: same view, tombstones gone,
    // replay is a no-op
    assert(Dedup.vacuumBandIndex(spark, dir) > 0L)
    assert(!new java.io.File(s"$dir/_tombstones").exists())
    assert(corpusIds() == (0L to 23L).toSet -- Set(3L, 7L))
    assert(Dedup.vacuumBandIndex(spark, dir) == 0L)
    // merge a batch in (its own (band, batch=1) leaves), then delete
    // ONLY the merged batch: its leaves must die without any root-level
    // file appearing next to the surviving partition directories
    val extra = (100L to 103L).map(i =>
      (i, s"epsilon zeta eta theta w$i x$i y$i z$i common tail here"))
      .toDF("doc_id", "text")
    assert(Dedup.mergeBandIndex(spark, dir, extra, "text", "doc_id", 1L) > 0)
    assert(corpusIds().contains(100L))
    Dedup.deleteFromBandIndex(spark, dir, 100L to 103L)
    assert(Dedup.vacuumBandIndex(spark, dir) > 0L)
    val root = new java.io.File(dir)
    assert(!root.listFiles().exists(f =>
      f.isFile && f.getName.endsWith(".parquet")),
      root.listFiles().map(_.getName).toSeq)
    assert(!root.listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).exists(_.getName == "batch=1"))
    assert(corpusIds() == (0L to 23L).toSet -- Set(3L, 7L))
    // delete EVERYTHING: the index must stay readable and empty
    Dedup.deleteFromBandIndex(spark, dir, 0L to 23L)
    assert(Dedup.vacuumBandIndex(spark, dir) > 0L)
    assert(corpusIds().isEmpty)
    // the all-dead placeholder must be PARTITION-SHAPED: a root-level
    // schema file would break partition discovery the moment a later
    // merge recreates band_idx= directories beside it
    assert(!root.listFiles().exists(f =>
      f.isFile && f.getName.endsWith(".parquet")),
      root.listFiles().map(_.getName).toSeq)
    assert(Dedup.mergeBandIndex(spark, dir, extra, "text", "doc_id", 2L) > 0)
    assert(corpusIds() == (100L to 103L).toSet)
    // rebuild clears deletion state
    Dedup.writeBandIndex(docsDf, "text", "doc_id", dir)
    assert(corpusIds() == (0L to 23L).toSet)
  }

  // A vacuum is a writer: a merge whose manifest is committed but not yet
  // applied replays BEFORE the fold, so a tombstone on one of its ids
  // folds too instead of being dropped while the id comes back.
  private def smallVecs(ids: Seq[Long]) =
    ids.map(i => (i, (0 until 8).map(d =>
      (((i * 31 + d * 17) % 13) - 6).toFloat / 3f)))
      .toDF("vec_id", "embedding")

  private def smallDocs(ids: Seq[Long]) =
    ids.map(i => (i, s"alpha beta gamma delta w$i x$i y$i z$i common"))
      .toDF("doc_id", "text")

  test("IVF-PQ vacuum after a committed merge folds the merged ids too") {
    import graft.operators.Similarity
    val dir = Files.createTempDirectory("graft-plan-pqvacmerge").toString
    Similarity.writeIvfPqIndex(smallVecs(0L to 9L), "vec_id", "embedding",
      Seq(0L, 1L), dir, m = 2, ks = 4, iters = 1, dim = 8)
    Similarity.stageIvfPqMerge(spark, dir, smallVecs(10L to 15L), "vec_id",
      "embedding")
    Similarity.deleteFromIvfIndex(spark, dir, Seq(12L))
    assert(Similarity.vacuumIvfIndex(spark, dir) == 1L)
    Similarity.recoverIvfPqMerge(spark, dir)
    val ids = spark.read.parquet(s"$dir/vectors").select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(ids == (0L to 15L).toSet - 12L, ids)
  }

  test("band vacuum after a committed merge folds the merged ids too") {
    import graft.operators.Dedup
    val dir = Files.createTempDirectory("graft-plan-bandvacmerge").toString
    Dedup.writeBandIndex(smallDocs(0L to 9L), "text", "doc_id", dir)
    Dedup.stageBandMerge(spark, dir, smallDocs(10L to 14L), "text",
      "doc_id", 1L)
    Dedup.deleteFromBandIndex(spark, dir, Seq(12L))
    assert(Dedup.vacuumBandIndex(spark, dir) > 0L)
    val ids = Dedup.loadBandIndex(spark, dir).select(col("corpus_id"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(ids == (0L to 14L).toSet - 12L, ids)
  }

  test("plain IVF probe replays a committed vacuum before reading") {
    import graft.operators.Similarity
    val vecs = smallVecs(0L to 19L)
    val dir = Files.createTempDirectory("graft-plan-ivfvacread").toString
    Similarity.writeIvfIndex(vecs, "vec_id", "embedding", Seq(0L, 1L), dir)
    val q = vecs.filter(col("vec_id") === 5)
      .select(col("embedding")).head().getSeq[Float](0)
    def top(): Seq[Long] = Similarity
      .ivfIndexTopK(spark, dir, q, queryId = 5L, k = 20, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq
    val before = top()
    Similarity.deleteFromIvfIndex(spark, dir, before.take(2))
    // the vacuum's manifest commits; nothing is applied yet
    val (staging, removed) = Similarity.stageIvfVacuum(spark, dir)
    assert(removed == 2L)
    assert(new java.io.File(s"${staging.get}/_manifest.json").exists())
    assert(top() == before.drop(2))
    // the probe finished the vacuum: staging and tombstones are gone
    assert(!new java.io.File(staging.get).exists())
    assert(!new java.io.File(s"$dir/_tombstones").exists())
    assert(top() == before.drop(2))
  }

  test("IVF-PQ probe: partition pruning + broadcast ADC table + TakeOrdered") {
    val vecs = (0L to 40L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft-plan-ivfpq").toString
    graft.operators.Similarity.writeIvfPqIndex(
      vecs, "vec_id", "embedding", 0L to 3L, dir, m = 4, ks = 4,
      iters = 1, dim = 16)
    val q = vecs.filter(col("vec_id") === 5)
      .select(col("embedding")).head.getSeq[Float](0)
    val out = graft.operators.Similarity.ivfPqTopK(
      spark, dir, q, queryId = 5L, k = 5, nprobe = 2, rerank = 10)
    val plan = explainOf(out)
    // both scans (ADC codes pass + re-rank fetch) prune to the probed
    // cluster directories; the ADC table and the candidate set join
    // broadcast; nothing global-sorts or products
    assert(plan.matches("(?s).*PartitionFilters:.*cluster.*"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the ADC scan reads codes, not vectors: the v column only appears
    // in the re-rank scan's schema (column pruning on the codes pass)
    val scans = "ReadSchema: [^\\n]*".r.findAllIn(plan).toList
    assert(scans.exists(s => s.contains("codes") && !s.contains("\"v\"")),
      plan)
  }

  test("bm25 index query prunes term buckets, pushes the IN filter, top-k is TakeOrdered") {
    val dir = Files.createTempDirectory("graft-bm25-plan").toString
    val docsDf = (1L to 50L).map(i => (i, s"w$i join merge common text"))
      .toDF("doc_id", "text")
    graft.operators.Retrieval.writeIndex(docsDf, "text", "doc_id", dir,
      nBuckets = 8)
    val plan = explainOf(graft.operators.Retrieval.indexTopK(
      spark, dir, Seq("join", "merge"), k = 5))
    // terms fold to bucket literals -> directory-level pruning
    assert(plan.matches("(?s).*PartitionFilters:.*term_bucket.*"), plan)
    // the residual term IN (...) reaches the parquet scan
    assert(plan.matches("(?s).*PushedFilters:.*In\\(term.*"), plan)
    // df side broadcast, top-k is TakeOrdered (no global sort)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("bm25 masked query keeps its plan shape under tombstones") {
    val dir = Files.createTempDirectory("graft-bm25-maskplan").toString
    val docsDf = (1L to 50L).map(i => (i, s"w$i join merge common text"))
      .toDF("doc_id", "text")
    graft.operators.Retrieval.writeIndex(docsDf, "text", "doc_id", dir,
      nBuckets = 8)
    graft.operators.Retrieval.deleteFromIndex(spark, dir,
      docsDf.filter(col("doc_id") <= 5), "text", "doc_id")
    val plan = explainOf(graft.operators.Retrieval.indexTopK(
      spark, dir, Seq("join", "merge"), k = 5))
    // the tombstone mask and statistics adjustment must not cost the
    // query its pruning or turn any join into a product: bucket pruning
    // and the pushed IN survive, the anti-join broadcasts the
    // (tombstone-sized) dead set, top-k stays TakeOrdered
    assert(plan.matches("(?s).*PartitionFilters:.*term_bucket.*"), plan)
    assert(plan.matches("(?s).*PushedFilters:.*In\\(term.*"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("semanticDedup pair generation is cluster-blocked — equi-join only") {
    val vecs = (0L to 40L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val plan = explainOf(graft.operators.Similarity.semanticDedup(
      vecs, "vec_id", "embedding", k = 4, iters = 1, dim = 16,
      threshold = 0.9))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("chunkDocuments is a narrow map-only pass — zero shuffles") {
    val docsDf = (1L to 20L).map(i =>
      (i, (1 to 50).map(j => s"w$j").mkString(" "))).toDF("doc_id", "text")
    val plan = explainOf(graft.operators.Curation.chunkDocuments(
      docsDf, "text", "doc_id", chunkWords = 10, overlap = 2))
    assert(!plan.contains("Exchange"), plan)
  }

  test("importanceWeights broadcasts the bucket ratio table") {
    val docsDf = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) "en" else "xx",
        (1 to 20).map(j => s"w${(i + j) % 30}").mkString(" ")))
      .toDF("doc_id", "lang", "text")
    val plan = explainOf(graft.operators.Curation.importanceWeights(
      docsDf, "text", "doc_id", col("lang") === "en"))
    // the nBuckets-row ratio side broadcasts; the doc sum is a hash
    // aggregate (map-side partial), never a sort-based fallback
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("duplicateSpans prunes via LEFT SEMI join — never a pair join") {
    val docsDf = (1L to 20L).map(i =>
      (i, (1 to 15).map(j => s"w${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val plan = explainOf(graft.operators.Curation.duplicateSpans(
      docsDf, "text", "doc_id"))
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bloom probe joins a broadcast filter — probe side never shuffles for the join") {
    val members = (1L to 100L).map(i => s"k$i").toDF("v")
    val bloom = graft.operators.Curation.bloomBuild(members, "v")
    val plan = explainOf(graft.operators.Curation.bloomProbe(
      (1L to 100L).map(i => s"k$i").toDF("v"), "v", bloom))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("pageRank round: one equi-join + aggregation, no product, flat lineage") {
    val edges = (1L to 200L).map(i => (i % 50, i % 37)).toDF("src", "dst")
    val out = graft.operators.Graphs.pageRank(edges, "src", "dst", iters = 2)
    val plan = explainOf(out)
    // eager per-round checkpoints keep the final plan a scan of the last
    // rank vector — iteration count can grow without lineage blowup
    assert(plan.contains("LocalTableScan") || plan.contains("Scan ExistingRDD"),
      plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("PQ ANN: narrow encode, broadcast ADC table, TakeOrdered top-k") {
    // through parquet, not a local Seq — ConvertToLocalRelation would
    // eagerly evaluate the encode projection and hide it from the plan
    val dir = Files.createTempDirectory("graft-pqplan").toString
    (0L to 40L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding").write.parquet(s"$dir/v")
    val vecs = spark.read.parquet(s"$dir/v")
    val plan = explainOf(graft.operators.Similarity.pqTopK(
      vecs, "vec_id", "embedding", queryId = 5L, k = 5,
      m = 4, ks = 4, iters = 1, dim = 16))
    // codes come from one narrow native pass; scoring joins the tiny
    // distance table broadcast-style and the top-k never globally sorts
    assert(plan.contains("pq_encode"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("round-5 curation ops: narrow passes, pushdown, heap top-ks") {
    val dir = Files.createTempDirectory("graft-r5plan").toString
    (0L to 40L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding").write.parquet(s"$dir/v")
    (0L to 60L).map(i => (i, s"w$i common the a tail${i % 7}", 10L + i))
      .toDF("doc_id", "text", "n_chars").write.parquet(s"$dir/d")
    val vecs = spark.read.parquet(s"$dir/v")
    val docsDf = spark.read.parquet(s"$dir/d")

    // hammingTopK: both stages heap top-ks, never a global sort; the
    // only join is the broadcast 1-row query (BNLJ by nature)
    val ham = explainOf(graft.operators.Similarity.hammingTopK(
      vecs, "vec_id", "embedding", 0L, k = 5, rerank = 10, dim = 16))
    assert(ham.contains("TakeOrderedAndProject"), ham)
    assert(!ham.contains("CartesianProduct"), ham)
    assert(!ham.contains("Sort "), ham)

    // gopherColumns: a pure narrow pass — no exchange anywhere
    val gopher = explainOf(docsDf.select(
      graft.operators.TextAnalysis.gopherColumns(col("text"),
        Seq("the", "a")): _*))
    assert(!gopher.contains("Exchange"), gopher)

    // lmScores / pmiCollocations: scoring joins are key equi-joins with
    // map-side-combined aggregation — never a pairwise product (the
    // 1-row vocab/total broadcast is the only nested-loop join)
    val lm = explainOf(graft.operators.Curation.lmScores(
      docsDf, "text", "doc_id"))
    assert(!lm.contains("CartesianProduct"), lm)
    assert(lm.contains("HashAggregate"), lm)
    val pmi = explainOf(graft.operators.Curation.pmiCollocations(
      docsDf, "text", minCount = 1L))
    assert(!pmi.contains("CartesianProduct"), pmi)
    assert(pmi.contains("TakeOrderedAndProject"), pmi)

    // weightedSample: the weight gate reaches the parquet scan, the
    // sample is a heap top-k, and nothing shuffles before it
    val ws = explainOf(graft.operators.Curation.weightedSample(
      docsDf, "doc_id", "n_chars", k = 5))
    assert(ws.contains("TakeOrderedAndProject"), ws)
    assert(ws.contains("PushedFilters"), ws)
    assert(ws.contains("GreaterThan(n_chars,0)"), ws)
    assert(!ws.contains("Exchange hashpartitioning"), ws)
  }

  test("round-6 ops: triangle/NB joins equi-only, zorder narrow + range") {
    // triangleCounts: wedge generation and closure are plain equi-joins
    // (degree orientation bounds the wedge fan-out; nothing pairwise)
    val edges = (1L to 300L).map(i => (i % 40, i % 29)).toDF("src", "dst")
    val tri = explainOf(
      graft.operators.Graphs.triangleCounts(edges, "src", "dst"))
    assert(!tri.contains("CartesianProduct"), tri)
    assert(!tri.contains("BroadcastNestedLoopJoin"), tri)
    assert(tri.contains("HashAggregate"), tri)

    // naive Bayes: the vocabulary-sized model join is a key equi-join,
    // never a product; scoring is map-side-combined aggregation
    val d = (0L to 50L).map(i => (i, s"w${i % 9} x y tail${i % 5}",
      s"l${i % 3}")).toDF("doc_id", "text", "lang")
    val model = graft.operators.Curation.nbTrain(d, "text", "lang")
    val nb = explainOf(
      graft.operators.Curation.nbClassify(d, "text", "doc_id", model))
    assert(!nb.contains("CartesianProduct"), nb)
    assert(nb.contains("HashAggregate"), nb)

    // phrase search: posting intersection is composite-key equi-joins
    val ph = explainOf(graft.operators.Retrieval.phraseSearch(
      d, "text", "doc_id", Seq("x", "y")))
    assert(!ph.contains("CartesianProduct"), ph)
    assert(!ph.contains("BroadcastNestedLoopJoin"), ph)

    // proximity search: binned candidates — (doc, bin) equi-join, no
    // per-doc posting product
    val near = explainOf(graft.operators.Retrieval.nearSearch(
      d, "text", "doc_id", "x", "y", window = 3))
    assert(!near.contains("CartesianProduct"), near)
    assert(!near.contains("BroadcastNestedLoopJoin"), near)

    // k-core peel round: degree agg + LEFT SEMI filters, no product,
    // lineage flat behind the per-round checkpoint
    val kc = explainOf(
      graft.operators.Graphs.kcorePeel(edges, "src", "dst", k = 2))
    assert(!kc.contains("CartesianProduct"), kc)
    assert(!kc.contains("BroadcastNestedLoopJoin"), kc)
    assert(kc.contains("LocalTableScan") || kc.contains("Scan ExistingRDD"),
      kc)

    // zorder key: pure narrow bit arithmetic — the only exchange in a
    // zorderWrite plan is the single range partition it exists to do
    val grid = spark.range(256)
      .select((col("id") / 16).cast("long").as("x"),
        (col("id") % 16).cast("long").as("y"))
    val z = explainOf(grid
      .withColumn("zkey", graft.functions.ZOrder.interleave(col("x"), col("y")))
      .repartitionByRange(4, col("zkey"))
      .sortWithinPartitions(col("zkey")))
    assert(z.contains("rangepartitioning"), z)
    assert(!z.contains("hashpartitioning"), z)
    assert(!z.contains("CartesianProduct"), z)
  }

  test("BFS and LPA rounds: equi-joins only, lineage flat behind checkpoints") {
    val edges = (1L to 300L).map(i => (i % 40, i % 29)).toDF("src", "dst")
    // bfsDistances: per-round frontier×adjacency equi-join + anti-join
    // against the visited set; the returned plan is a scan of the last
    // checkpointed distance table regardless of round count
    val bfs = explainOf(graft.operators.Graphs.bfsDistances(
      edges, "src", "dst", seeds = Seq(1L, 2L), rounds = 3))
    assert(!bfs.contains("CartesianProduct"), bfs)
    assert(!bfs.contains("BroadcastNestedLoopJoin"), bfs)
    assert(bfs.contains("LocalTableScan") || bfs.contains("Scan ExistingRDD"),
      bfs)
    // labelPropagation: adjacency×labels equi-join + two hash
    // aggregations per round — the arg-max is an aggregate, NOT a
    // per-node Window sort; lineage flat per round
    val lpa = explainOf(graft.operators.Graphs.labelPropagation(
      edges, "src", "dst", rounds = 2))
    assert(!lpa.contains("CartesianProduct"), lpa)
    assert(!lpa.contains("BroadcastNestedLoopJoin"), lpa)
    assert(!lpa.contains("Window"), lpa)
    assert(lpa.contains("LocalTableScan") || lpa.contains("Scan ExistingRDD"),
      lpa)
  }

  test("sliding windows are Expand + one aggregation; burst baseline broadcasts") {
    val ev = (1L to 500L).map(i => (new Timestamp(i * 60000L), s"t${i % 3}",
      i.toDouble)).toDF("ts", "event_type", "value")
    // slidingAgg: the 4-way window assignment is an Expand BEFORE the
    // single map-side-combined aggregation — never a self-join, never a
    // Window function
    val slide = explainOf(graft.operators.Events.slidingAgg(
      ev, col("ts"), col("event_type")))
    assert(slide.contains("Expand"), slide)
    assert(slide.contains("HashAggregate"), slide)
    assert(!slide.contains("Window"), slide)
    assert(!slide.contains("CartesianProduct"), slide)
    // burstWindows: the per-key baseline joins back via broadcast — the
    // windows side never reshuffles for the join
    val burst = explainOf(graft.operators.Events.burstWindows(
      ev, col("ts"), col("event_type")))
    assert(burst.contains("BroadcastHashJoin"), burst)
    assert(!burst.contains("CartesianProduct"), burst)
  }

  test("stableRank/mixSchedule: no per-group Window task, offsets broadcast") {
    val df = (1L to 400L).map(i => (i, s"g${i % 4}")).toDF("id", "grp")
    val plan = explainOf(
      graft.operators.Curation.stableRank(df, "grp", Seq("id")))
    // the whole point: no row_number window that serializes a group
    // into one task; the group-offset join ships one row per group,
    // broadcast, never reshuffling the ranked side
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    val mix = explainOf(graft.operators.Curation.mixSchedule(
      df, "grp", Seq("id"), Map("g0" -> 1L, "g1" -> 2L)))
    assert(!mix.contains("Window"), mix)
  }

  test("decayedCounts is one map-side-combined aggregation, no window") {
    val df = (1L to 200L).map(i => (s"k${i % 5}",
      new java.sql.Timestamp(i * 86400000L))).toDF("k", "ts")
    val plan = explainOf(graft.operators.Events.decayedCounts(
      df, "k", "ts", org.apache.spark.sql.functions.lit(
        new java.sql.Timestamp(200L * 86400000L))))
    // narrow weight + partial/final HashAggregate pair around ONE
    // exchange — the same profile as a plain count
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    // ONE exchange total (formatted output names it twice: tree + detail)
    assert(plan.split("hashpartitioning").length - 1 == 1, plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("fuzzy term pairs: candidate generation is an equi-join, no product") {
    val vocab = (1 to 50).map(i => s"term$i").toDF("term")
    val plan = explainOf(
      graft.operators.TextAnalysis.fuzzyTermPairs(vocab, "term"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
  }

  test("k-means assignment is a narrow pass with no centroid literal blowup") {
    val vecs = (0L to 200L).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    // k=64: the old inline-literal greatest() cascade would put
    // 64 x 16 literal array elements (x3 repetitions for the tie fold)
    // into the projection; the reference-object form keeps the plan flat
    val out = graft.operators.Similarity.kmeans(
      vecs, "vec_id", "embedding", k = 64, iters = 1, dim = 16)
    val plan = explainOf(out)
    // the final assignment carries no join and no shuffle: centroids ride
    // the plan as one reference object, so it is scan -> project
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("cosine_argmax"), plan)
    assert(!plan.contains("greatest"), plan)
    // literal blowup check: the whole formatted plan stays small
    assert(plan.length < 20000, s"plan unexpectedly large: ${plan.length} chars")
    assert(out.groupBy("cluster").count().count() > 1)
  }

  test("sketchQuantiles: partial+final object agg, one event-data shuffle") {
    val df = (1L to 500L).map(i => (i, i % 97)).toDF("id", "v")
    val plan = explainOf(
      graft.operators.Curation.sketchQuantiles(df, "id", "v", k = 64))
    // the bottom-k-by-hash sample aggregates map-side (partial) before
    // the single-partition final — the O(k)-state mergeability claim as
    // a plan property, not prose
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.matches("(?s).*partial_top_k_pairs.*"), plan)
    // downstream of the k-row sample everything is k-sized; exactly the
    // two single-partition exchanges (sample agg + quantile agg) and
    // the input's own lineage touch the plan
    val nEx = "Exchange".r.findAllIn(plan.split("\\n\\n").head).length
    assert(nEx <= 2, s"expected <= 2 exchanges, got $nEx:\n$plan")
  }

  test("retentionCohorts: no countDistinct Expand, one join, count-only cells") {
    val ts = java.sql.Timestamp.valueOf("2020-01-06 00:00:00")
    val ev = (1 to 200).map(i =>
      (i % 17L, new java.sql.Timestamp(ts.getTime + i * 86400000L)))
      .toDF("user_id", "ts")
    val plan = explainOf(
      graft.operators.Events.retentionCohorts(ev, "user_id", "ts"))
    // the doc's claim: per-(cohort, offset) users are distinct BY
    // CONSTRUCTION (the first dedup), so the final count is a plain
    // count — no countDistinct (which would add an Expand + extra
    // shuffle over the widest data)
    assert(!plan.contains("Expand"), plan)
    assert(!plan.contains("count(distinct"), plan)
    // exactly ONE join (cohort map back onto activity) — counted in
    // the tree section (the details section repeats every node)
    val joins = "Join".r.findAllIn(plan.split("\n\n").head).length
    assert(joins == 1, s"expected 1 join, got $joins:\n$plan")
  }

  test("transitionCounts: totals join back broadcast, one Window pass") {
    val ev = (1 to 300).map(i =>
      (i % 13L, i.toLong, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
        s"t${i % 4}")).toDF("user_id", "event_id", "ts", "event_type")
    val plan = explainOf(graft.operators.Events.transitionCounts(
      ev, "user_id", "ts", "event_id", "event_type"))
    val tree = plan.split("\n\n").head
    // the EVENT SOURCE is scanned exactly once — the totals must come
    // from the |types|²-sized pair counts (window sum), never from a
    // second execution of the event-sized lag pipeline
    val scans = "LocalTableScan".r.findAllIn(tree).length
    assert(scans == 1, s"expected 1 event scan, got $scans:\n$plan")
    // two Windows: the event lag + the tiny per-prev totals over pairs
    val windows = "\\bWindow\\b".r.findAllIn(tree).length
    assert(windows == 2, s"expected 2 Windows, got $windows:\n$plan")
    // and no join at all — the totals ride the pairs frame
    assert(!tree.contains("Join"), plan)
  }

  test("sketchKsDrift: totals ride the one Window sort, no extra pass") {
    val a = (1L to 300L).map(i => (i, i % 37)).toDF("id", "v")
    val b = (1L to 300L).map(i => (i, i % 41)).toDF("id", "v")
    val plan = explainOf(graft.operators.Curation.sketchKsDrift(
      a, "id", "v", b, "id", "v", k = 64))
    // cumulative counts AND the side totals are window expressions over
    // the SAME ordered frame — one Window operator, not a separate
    // total-aggregation re-executing the two sample scans
    val windows = "\\bWindow\\b".r.findAllIn(plan.split("\n\n").head).length
    assert(windows == 1, s"expected 1 Window, got $windows:\n$plan")
    // and the samples themselves are the O(k) object aggregates
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("sketchQuantilesByKey: one event-data shuffle (partial+final agg)") {
    val df = (1L to 500L).map(i => (s"k${i % 5}", i, i % 97))
      .toDF("key", "id", "v")
    val plan = explainOf(graft.operators.Curation.sketchQuantilesByKey(
      df, "key", "id", "v", k = 64))
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.matches("(?s).*partial_top_k_pairs.*"), plan)
    // one hash-partitioned exchange moves event-derived data; anything
    // else in the plan is key-sized post-processing
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nEx <= 1, s"expected <= 1 hash exchange, got $nEx:\n$plan")
  }

  test("overlapJoin: binned equi-join, no DISTINCT pass, no product") {
    val l = Seq((1L, 0L, 100L), (1L, 50L, 150L), (2L, 0L, 10L))
      .toDF("k", "s", "e")
    val r = Seq((1L, 40L, 60L), (2L, 5L, 7L)).toDF("k", "s2", "e2")
    val df = graft.operators.Events.overlapJoin(l, r, "k", "s", "e",
      "s2", "e2", binUs = 100L, Seq("s", "e"), Seq("s2", "e2"))
    val plan = explainOf(df)
    // exactly-once bin accounting replaces the naive
    // replicate-then-DISTINCT: the plan must contain NO aggregation and
    // NO cartesian product — just the binned hash equi-join
    assert(!plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Join"), plan)
    // and the semantics hold: each overlapping pair exactly once
    val rows = df.collect().map(r0 => (r0.getLong(0), r0.getLong(1),
      r0.getLong(2), r0.getLong(3), r0.getLong(4))).sorted.toSeq
    assert(rows == Seq((0L, 100L, 40L, 60L, 20L), (0L, 10L, 5L, 7L, 2L),
      (50L, 150L, 40L, 60L, 10L)).sorted)
  }

  test("round-9 text ops are narrow passes; robots verdicts broadcast") {
    val docsDf = Seq((1L, "some <b>text</b> here")).toDF("doc_id", "text")
    // HTML extraction: scan → project, zero shuffles
    val htmlPlan = explainOf(docsDf.select(col("doc_id"),
      graft.operators.TextAnalysis.htmlExtract(col("text")).as("t"),
      graft.operators.TextAnalysis.htmlTitle(col("text")).as("ti")))
    assert(!htmlPlan.contains("Exchange"), htmlPlan)
    // BPE segmentation under a fixed table: also narrow
    val bpePlan = explainOf(docsDf.select(col("doc_id"),
      graft.operators.TextAnalysis.bpeTokenCount(col("text"),
        Seq(("t", "h"), ("th", "e"))).as("n")))
    assert(!bpePlan.contains("Exchange"), bpePlan)
    // robots verdicts: the rules side joins BROADCAST — the URL corpus
    // must never shuffle for the verdict join (wildcard rules included)
    val rules = graft.operators.Robots.parseRules(
      Seq(("h", "User-agent: *\nDisallow: /a\nDisallow: /*.bin$\n"))
        .toDF("host", "body"), "host", "body")
    val urls = Seq("http://h/a/x").toDF("url")
    val robotsPlan = explainOf(
      graft.operators.Robots.filterUrls(urls, "url", rules))
    assert(robotsPlan.contains("BroadcastHashJoin") ||
      robotsPlan.contains("BroadcastNestedLoopJoin"), robotsPlan)
    assert(!robotsPlan.contains("SortMergeJoin"), robotsPlan)
    // the URL corpus crosses ZERO shuffles: the verdict is a broadcast
    // join + higher-order-function fold, so the ONE shuffle Exchange in
    // the whole plan is the host-count-sized rules collect_list
    // aggregation under the BroadcastExchange
    val nShuffle = "Exchange hashpartitioning".r
      .findAllMatchIn(robotsPlan).size
    assert(nShuffle <= 1, s"expected at most 1 (rules-side) shuffle, " +
      s"got $nShuffle:\n$robotsPlan")
  }

  test("round-11 ops: rarity ranks windowless; aHash stays narrow") {
    val docsDf = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val rarity = graft.operators.TextAnalysis
      .tokenRarity(docsDf, "doc_id", "text")
    // the vocabulary rank must come from the range-partitioned
    // stableRank, never a single-task global window
    assert(!explainOf(rarity).contains("Window"), explainOf(rarity))
    // counts a=2 b=2 c=1 -> ranks a=0 b=1 c=2; doc1 (a,b,a) sum 1 of 3,
    // doc2 (b,c) sum 3 of 2
    val got = rarity.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set((1L, 3L, 1L, 33L), (2L, 2L, 3L, 150L)), got)
    // aHash: scan -> project, zero shuffle
    val aplan = explainOf(docsDf.select(graft.operators.Multimodal
      .aHash64(org.apache.spark.sql.functions.expr(
        "transform(sequence(1, 72), i -> i)"))))
    assert(!aplan.contains("Exchange"), aplan)
    // content-block extraction: split + HOF scoring, zero shuffle
    val cplan = explainOf(docsDf.select(graft.operators.TextAnalysis
      .contentColumns(col("text")): _*))
    assert(!cplan.contains("Exchange"), cplan)
  }

  test("round-10 ops: narrow text passes; delay schedule broadcasts") {
    val docsDf = Seq((1L, "café b")).toDF("doc_id", "text")
    // normalization, code signals, link extraction: scan → project,
    // zero shuffles, inside whole-stage codegen
    val normPlan = explainOf(docsDf.select(
      graft.operators.TextAnalysis.normalizeText(col("text")),
      graft.operators.TextAnalysis.replacementCount(col("text"))))
    assert(!normPlan.contains("Exchange"), normPlan)
    val codePlan = explainOf(docsDf.select(
      col("doc_id") +: graft.operators.TextAnalysis.codeColumns(col("text")): _*))
    assert(!codePlan.contains("Exchange"), codePlan)
    val linksPlan = explainOf(docsDf.select(
      graft.operators.TextAnalysis.htmlLinks(col("text"))))
    assert(!linksPlan.contains("Exchange"), linksPlan)
    // sitemap XML parse: explode + project, no shuffle
    val smPlan = explainOf(graft.operators.Robots.parseSitemap(
      Seq(("u", "<urlset><url><loc>x</loc></url></urlset>")).toDF("u", "b"),
      "u", "b"))
    assert(!smPlan.contains("Exchange"), smPlan)
    // delay-aware schedule: the per-host delays join BROADCAST — the
    // frontier side must not shuffle for the join (the rank window's
    // per-host exchange is the operator's one intended shuffle)
    val delays = graft.operators.Robots.crawlDelays(
      Seq(("h", "User-agent: *\nCrawl-delay: 2\n")).toDF("host", "body"),
      "host", "body")
    val schedPlan = explainOf(graft.operators.Robots
      .crawlScheduleWithDelays(
        Seq(("http://h/1", 1L)).toDF("url", "prio"), "url", "prio", delays))
    assert(schedPlan.contains("BroadcastHashJoin"), schedPlan)
    assert(!schedPlan.contains("SortMergeJoin"), schedPlan)
  }

  test("round-11 narrow ops stay shuffle-free and codegen'd") {
    val docsDf = Seq((1L, "One two. Three four! http://a.example/x"))
      .toDF("doc_id", "text")
    // every per-row pass of the round: zero Exchange in the plan
    for (c <- Seq(
        graft.operators.TextAnalysis.chunkSentences(col("text"), 120),
        graft.operators.Curation.rakePhrases(col("text")),
        graft.functions.Url.surt(col("text")),
        graft.functions.Url.registeredDomain(col("text")),
        graft.functions.Url.domainKey(col("text")))) {
      val plan = explainOf(docsDf.select(col("doc_id"), c.as("o")))
      assert(!plan.contains("Exchange"), plan)
    }
    val metaPlan = explainOf(docsDf.select(col("doc_id") +:
      graft.operators.Robots.metaDirectiveColumns(col("text")): _*))
    assert(!metaPlan.contains("Exchange"), metaPlan)
    // the PSL lookup rides whole-stage codegen (reference-object
    // table); spark.range keeps ConvertToLocalRelation from folding
    // the projection away before a stage even exists
    val wsc = TestSpark.spark.range(1)
      .select(graft.functions.Url.registeredDomain(col("id").cast("string")))
      .queryExecution.executedPlan.toString
    assert(wsc.contains("*(1)"), wsc)
  }

  test("domain_rollup is ONE shuffle with map-side partial aggregation") {
    import org.apache.spark.sql.functions.{count, lit}
    val docsDf = Seq((1L, "http://a.example.com/x"))
      .toDF("doc_id", "url")
    val plan = explainOf(docsDf
      .select(graft.functions.Url.domainKey(col("url")).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n")))
    // count tree nodes only (the formatted detail section repeats names)
    val nEx = "Exchange \\(\\d+\\)".r.findAllIn(plan).length
    assert(nEx == 1, s"expected exactly one shuffle:\n$plan")
    assert(plan.contains("partial_count") ||
      plan.contains("partial"), plan)
  }

  test("hits: per-round plan is equi-join + aggregate, no product") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val plan = explainOf(graft.operators.Graphs.hits(e, "src", "dst",
      rounds = 1))
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop join allowed is the 1-row total broadcast
    // (normalization); the gather joins must be hash equi-joins
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      !plan.contains("NestedLoop"), plan)
    assert(plan.contains("hub") && plan.contains("auth"), plan)
  }

  test("hllEstimates: one shuffle of 256-byte partials, estimate narrow") {
    val df = Seq(("a", "v1"), ("b", "v2")).toDF("k", "v")
    val plan = explainOf(graft.operators.Curation.hllEstimates(df, "k", "v"))
    val nEx = "Exchange \\(\\d+\\)".r.findAllIn(plan).length
    assert(nEx == 1, s"expected exactly one shuffle:\n$plan")
    // partial + final ObjectHashAggregate: the sketch merges map-side
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("goodTuring: corpus shuffle + vocab-sized shuffle, joins broadcast") {
    val df = Seq("a a b", "c").toDF("text")
    val plan = explainOf(graft.operators.Curation.goodTuring(df, "text"))
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("ngramNovelty: membership probe is an equi-join, never a product") {
    val d = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val plan = explainOf(
      graft.operators.Curation.ngramNovelty(d, d, "text", "doc_id"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("NestedLoop"), plan)
  }

  test("star-CC round: bounded exchanges, partitioning reused, no product") {
    // the connectedComponentsStar round body must cost a FIXED number of
    // shuffles whatever the edge count: each star repartitions on its
    // center once and computes its neighborhood min as a window over that
    // SAME partitioning (no groupBy-then-self-join — a self-join
    // duplicates the repartition subtree and invites an AQE broadcast on
    // the aggregated side), plus the round-end distinct re-keyed through
    // the same width — 3 exchanges. More exchanges here multiply by
    // O(log n) rounds at 100 TB.
    val e = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("u", "v")
    val round = graft.operators.Dedup.starRound(e, 2)
    val plan = explainOf(round)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("NestedLoop"), plan)
    val tree = plan.split("\n\n").head
    val nEx = "Exchange".r.findAllIn(tree).length
    assert(nEx <= 3, s"star round grew to $nEx static exchanges:\n$plan")
    // and the budget must hold at RUNTIME (final AQE plan): static text
    // undercounts duplicated subtrees and misses AQE conversions — the
    // round-13 shape passed a static reading while executing 14
    assert(runtimeShuffles(round) <= 3,
      s"star round runtime plan:\n${round.queryExecution.executedPlan}")
  }

  test("tombstone mask: shuffled anti-join past the broadcast bound") {
    import graft.operators.{Dedup, TombstoneMask}
    // broadcasts disabled globally for the test: the discriminator must
    // be the HINT TombstoneMask does or does not attach, not Spark's
    // own size-based broadcast choice (which would pick broadcast for
    // any test-sized table regardless)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val docsDf = (0L to 9L).map(i => (i, s"alpha beta w$i x$i common"))
        .toDF("doc_id", "text")
      val dir = Files.createTempDirectory("graft-plan-maskbound").toString
      Dedup.writeBandIndex(docsDf, "text", "doc_id", dir)
      Dedup.deleteFromBandIndex(spark, dir, Seq(1L, 2L, 3L))
      def ids(): Set[Long] = Dedup.loadBandIndex(spark, dir)
        .select(col("corpus_id")).distinct()
        .collect().map(_.getLong(0)).toSet
      val want = (0L to 9L).toSet -- Set(1L, 2L, 3L)
      // under the bound: the mask rides as a broadcast anti-join
      val planUnder = explainOf(Dedup.loadBandIndex(spark, dir))
      assert(planUnder.contains("BroadcastHashJoin") &&
        planUnder.contains("LeftAnti"), planUnder)
      assert(ids() == want)
      // past the bound: SAME answers, the anti-join runs SHUFFLED — the
      // driver no longer materializes an unbounded tombstone set
      spark.conf.set(TombstoneMask.MaxBroadcastIdsKey, "1")
      val planOver = explainOf(Dedup.loadBandIndex(spark, dir))
      assert(planOver.contains("LeftAnti") &&
        !planOver.contains("BroadcastHashJoin"), planOver)
      assert(ids() == want)
      // vacuum under the demoted mask folds identically
      assert(Dedup.vacuumBandIndex(spark, dir) > 0L)
      assert(ids() == want)
    } finally {
      spark.conf.unset(TombstoneMask.MaxBroadcastIdsKey)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("smallGraphMaxEdges default derives from the driver heap") {
    val d = graft.operators.Dedup.defaultSmallGraphMaxEdges
    val expected = math.min(1L << 26,
      math.max(100000L, Runtime.getRuntime.maxMemory() / 8L / 128L))
    assert(d == expected)
    assert(d >= 100000L && d <= (1L << 26))
  }

  test("iterative round bodies: runtime shuffle budgets hold (AQE plans)") {
    // every iterative op's ROUND body bounded on the EXECUTED plan —
    // static text undercounts duplicated subtrees and misses AQE
    // conversions (the round-13 starRound lesson, applied to the whole
    // family). Broadcast joins are DISABLED for the measurement: at
    // test scale AQE would broadcast everything and the pin would
    // trivially pass while the 100 TB plan shuffles; with them off the
    // counted exchanges are the sort-merge shape a 1000-executor run
    // actually pays. Inputs mimic loop state (checkpointed, as the
    // loops carry them).
    import graft.operators.{Dedup, Graphs}
    import org.apache.spark.sql.functions.{count, lit}
    val spark0 = spark
    spark0.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark0.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 1L))
        .toDF("src", "dst").localCheckpoint(true)
      // pageRank round: edge⋈rank equi-join (2) + map-side sum (1) +
      // node left join (≤2, contrib side reuses the agg partitioning)
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
        .withColumn("is_seed", lit(true)).localCheckpoint(true)
      val withDeg = e
        .join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
        .localCheckpoint(true)
      val pr0 = nodes.select(col("id"), lit(100L).as("pr"))
        .localCheckpoint(true)
      val prRound =
        Graphs.pageRankRound(nodes, withDeg, pr0, 85, 25000L, 6L)
      assert(runtimeShuffles(prRound) <= 5,
        s"pageRank round runtime plan:\n${prRound.queryExecution.executedPlan}")
      // kcore round: degree agg (1) + two left-semi joins (≤4; the keep
      // side is one subtree exchanged per join key)
      val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))
        .toDF("a", "b").localCheckpoint(true)
      val kc = Graphs.kcoreRound(und, 2)
      assert(runtimeShuffles(kc) <= 5,
        s"kcore round runtime plan:\n${kc.queryExecution.executedPlan}")
      // LPA round: adjacency⋈label join (2) + two aggregations (the
      // second reuses the first's (id, label) partitioning on id? no —
      // narrower key, one more exchange)
      val adj = und.select(col("a").as("id"), col("b").as("nbr"))
        .union(und.select(col("b").as("id"), col("a").as("nbr")))
        .localCheckpoint(true)
      val lab0 = adj.select(col("id")).distinct()
        .select(col("id"), col("id").as("label")).localCheckpoint(true)
      val lpa = Graphs.lpaRound(adj, lab0)
      assert(runtimeShuffles(lpa) <= 5,
        s"LPA round runtime plan:\n${lpa.queryExecution.executedPlan}")
      // HITS half-round: gather = edge⋈score join (2) + sum (1) + node
      // left join (≤2); normalize over the cut gather = only the 1-row
      // total (global agg, 1) — the broadcast itself is not a shuffle
      val hnodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
        .localCheckpoint(true)
      val hub0 = hnodes.select(col("id"), lit(1000000L).as("hub"))
        .localCheckpoint(true)
      val gat = Graphs.hitsGather(hnodes, e, hub0, "hub", "src", "dst")
      assert(runtimeShuffles(gat) <= 5,
        s"HITS gather runtime plan:\n${gat.queryExecution.executedPlan}")
      val norm =
        Graphs.hitsNormalize(gat.localCheckpoint(true), 1000000L, "auth")
      assert(runtimeShuffles(norm) <= 1,
        s"HITS normalize runtime plan:\n${norm.queryExecution.executedPlan}")
      // CC round: edges arrive REPARTITIONED by dst (the loop's
      // invariant) — label join exchanges the label side only (1) +
      // min agg (1) + label left join (≤2)
      val ccEdges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
        .toDF("src", "dst").repartition(2, col("dst"))
        .localCheckpoint(true)
      val ccLab = ccEdges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id")).localCheckpoint(true)
      val cc = Dedup.ccRound(ccEdges, ccLab)
      assert(runtimeShuffles(cc) <= 4,
        s"CC round runtime plan:\n${cc.queryExecution.executedPlan}")
      // SSSP relaxation: dist⋈adjacency equi-join (2) + min agg (1)
      val wadj = Seq((1L, 2L, 3L), (2L, 3L, 1L))
        .toDF("src", "dst", "w").localCheckpoint(true)
      val d0 = Seq((1L, 0L)).toDF("id", "dist").localCheckpoint(true)
      val ss = Graphs.ssspRound(wadj, d0)
      assert(runtimeShuffles(ss) <= 4,
        s"SSSP round runtime plan:\n${ss.queryExecution.executedPlan}")
      // closeness frontier round: frontier⋈adjacency (2) + distinct (1)
      // + reached anti-join (2)
      val cadj = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
        .localCheckpoint(true)
      val cd0 = Seq((1L, 1L, 0L)).toDF("seed", "id", "dist")
        .localCheckpoint(true)
      val cf0 = cd0.select(col("seed"), col("id")).localCheckpoint(true)
      val cr = Graphs.closenessRound(cadj, cd0, cf0, 1L)
      assert(runtimeShuffles(cr) <= 5,
        s"closeness round runtime plan:\n${cr.queryExecution.executedPlan}")
      // random-walk step: ONE frontier⋈neighbor-array equi-join; the
      // argmin is a narrow array pass (no combine shuffle at all)
      val wf0 = Seq((1L, 0L, 0L, 1L)).toDF("start", "walk", "step", "node")
        .localCheckpoint(true)
      val wadjL = cadj.groupBy(col("src"))
        .agg(org.apache.spark.sql.functions.collect_list(col("dst"))
          .as("_nbrs")).localCheckpoint(true)
      val wr = Graphs.walkRound(wadjL, wf0, 1L)
      assert(runtimeShuffles(wr) <= 2,
        s"walk round runtime plan:\n${wr.queryExecution.executedPlan}")
    } finally {
      spark0.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark0.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("pageRank: one node-sized shuffle stage per extra round") {
    // the pinnedLoop contract measured END TO END on the real operator:
    // with AQE off inside the loop and all widths aligned, the
    // checkpointed edge list keeps its (src, W) partitioning and a
    // round executes exactly ONE shuffle stage (the dst transpose) —
    // under AQE the checkpoint records UnknownPartitioning and each
    // round re-shuffles the EDGE LIST (4 exchanges measured). Counted
    // as executed shuffle-map stages (submitted stages minus jobs) so
    // reuse/skip shows up, not plan text.
    val e = spark.range(30000)
      .select((col("id") % 5000).as("src"),
        ((col("id") * 7 + 1) % 5000).as("dst"))
      .localCheckpoint(true)
    def shuffleStages(body: => Unit): Int = {
      val stages = new java.util.concurrent.atomic.AtomicInteger
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
        override def onStageSubmitted(
            s: org.apache.spark.scheduler.SparkListenerStageSubmitted)
            : Unit = stages.incrementAndGet(): Unit
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        // the listener bus is async — drain before reading
        Thread.sleep(1500)
      } finally spark.sparkContext.removeSparkListener(l)
      stages.get - jobs.get
    }
    def run(iters: Int): Int = shuffleStages {
      graft.operators.Graphs.pageRank(e, "src", "dst", iters = iters)
        .collect(): Unit
    }
    val low = run(2)
    val high = run(5)
    assert(high - low <= 3,
      s"3 extra pageRank rounds cost ${high - low} shuffle stages " +
        s"(iters=2: $low, iters=5: $high) — expected 1 per round")
  }

  /** Shuffle count in the EXECUTED (final-AQE) plan: runs the frame,
    * then counts Exchange nodes — ReusedExchange and BroadcastExchange
    * lines don't match (a reuse costs nothing; broadcasts are bounded
    * separately by the join-shape asserts). */
  private def runtimeShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    // an executed AdaptiveSparkPlan prints the final plan followed by an
    // "== Initial Plan ==" section — count the final section only
    val s = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    s.linesIterator.count(l =>
      l.replaceAll("^[\\s+:*-]*", "").startsWith("Exchange "))
  }

  test("trigramSearch: broadcasts query + candidate sides, no product") {
    import graft.operators.Retrieval
    val docs = (1L to 50L).map(i => (i, s"document number $i body"))
      .toDF("doc_id", "text")
    val plan = explainOf(Retrieval.trigramSearch(docs, "text", "doc_id",
      Seq("number 4", "body")))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // both joins must be broadcast-shaped: the corpus is never shuffled
    // for candidate generation or verification
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("cdcChunks: narrow zero-shuffle array pass") {
    import graft.operators.Dedup
    val docs = (1L to 20L).map(i => (i, s"document body $i " * 10))
      .toDF("doc_id", "text")
    val plan = explainOf(Dedup.cdcChunks(docs, "text", "doc_id"))
    assert(!plan.contains("Exchange"), plan)
  }

  test("agreementPatterns: co-located block self-join, no product") {
    import graft.operators.Dedup
    val recs = (1L to 40L).map(i => (i, s"b${i % 5}", s"f${i % 3}", i / 7))
      .toDF("id", "blk", "f", "v")
    val plan = explainOf(Dedup.agreementPatterns(recs, "id", Seq("blk"),
      Seq("f"), Seq(("v", 1L))))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("round-15 join-shaped ops: equi-joins only, no products") {
    import graft.operators.{Dedup, Events, Graphs}
    // commonNeighbors: pair join co-locates on the middle key
    val edges = (1L to 30L).map(i => (i % 7, s"m${i % 11}"))
      .toDF("src", "mid")
    val cn = explainOf(Graphs.commonNeighbors(edges, "src", "mid"))
    assert(!cn.contains("CartesianProduct") &&
      !cn.contains("BroadcastNestedLoopJoin"), cn)
    // sortedNeighborhood: banded rank join, offsets broadcast
    val recs = (1L to 40L).map(i => (i, s"k$i")).toDF("id", "nm")
    val sn = explainOf(Dedup.sortedNeighborhood(recs, "id", "nm", "nm",
      window = 4, maxEdits = 3))
    assert(!sn.contains("CartesianProduct") &&
      !sn.contains("BroadcastNestedLoopJoin"), sn)
    // lpmJoin: masked equi-join (the length expansion is an explode,
    // not a join)
    val ips = Seq("10.1.2.3", "10.9.9.9").toDF("ip")
    val routes = Seq(("10.0.0.0/8", "ten"), ("10.1.0.0/16", "s"))
      .toDF("cidr", "label")
    val lpm = explainOf(
      graft.functions.Net.lpmJoin(ips, "ip", routes, "cidr", "label"))
    assert(!lpm.contains("CartesianProduct") &&
      !lpm.contains("BroadcastNestedLoopJoin"), lpm)
    // sessionizeDelta: pass-through anti-join and seed join are
    // equi-joins; the store side is never range- or nested-loop-joined
    val oldS = Events.sessionize(
      Seq((1L, 1L, Timestamp.valueOf("2024-01-01 00:00:00")))
        .toDF("event_id", "user_id", "t"), "user_id", "t", "event_id")
    val batch = Seq((2L, 1L, Timestamp.valueOf("2024-01-02 00:00:00")))
      .toDF("event_id", "user_id", "t")
    val sd = explainOf(
      Events.sessionizeDelta(oldS, batch, "user_id", "t", "event_id"))
    assert(!sd.contains("CartesianProduct") &&
      !sd.contains("BroadcastNestedLoopJoin"), sd)
  }

  test("round-16 ops: ip_anon narrow, lookalike broadcasts, key-shaped joins") {
    import graft.operators.{Curation, DnsAnalytics, Events}
    // ip_anon: pure narrow map — zero exchanges
    val ips = Seq("10.1.2.3", "10.4.5.6").toDF("ip")
    val p0 = explainOf(ips.select(
      graft.functions.Net.anonymizeIpv4(col("ip"), "s").as("a")))
    assert(!p0.contains("Exchange"), p0)
    // lookalike: the brand side BROADCASTS into the skeleton equi-join —
    // the label corpus never shuffles for the join
    val names = Seq("paypa1.evil.com", "x.y.z").toDF("name")
    val brands = Seq("paypal", "google").toDF("brand")
    val p1 = explainOf(
      DnsAnalytics.lookalikeNames(names, "name", brands, "brand"))
    assert(p1.contains("BroadcastHashJoin"), p1)
    assert(!p1.contains("CartesianProduct") &&
      !p1.contains("BroadcastNestedLoopJoin"), p1)
    assert(!p1.contains("SortMergeJoin"), p1)
    // fastflux: the incidence ⋈ per-ip-count join is an equi-join on
    // the ip key — names are never paired with names
    val ff = Seq(("a.com", "10.0.0.1"), ("b.com", "10.0.0.1"))
      .toDF("n", "ip")
    val p2 = explainOf(DnsAnalytics.fastFluxSignals(ff, "n", "ip"))
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"), p2)
    // NOD rollup: the name-grain frame joins the parent census on the
    // parent key — an equi-join, never a product
    val nr = Seq(("a.x.com", 1L), ("b.y.com", 2L)).toDF("n", "ts")
    val p2b = explainOf(DnsAnalytics.nodRollup(nr, "n", "ts", 0L))
    assert(!p2b.contains("CartesianProduct") &&
      !p2b.contains("BroadcastNestedLoopJoin"), p2b)
    // co-tenancy: totals join the dominant-tenant frame on the ip key
    // — an equi-join; the argmax window is IP-partitioned, not global
    val ct = Seq(("10.0.0.1", "a", 1L)).toDF("ip", "n", "c")
    val p2c = explainOf(DnsAnalytics.coTenancy(ct, "ip", "n", "c"))
    assert(!p2c.contains("CartesianProduct") &&
      !p2c.contains("BroadcastNestedLoopJoin"), p2c)
    // quantile normalization: group sizes and the pooled-value lookup
    // are equi-joins; ranks come from the engine, never a product
    val qn = Seq(("a", 1L, 2L), ("b", 2L, 3L)).toDF("g", "id", "v")
    val p2d = explainOf(
      graft.operators.Curation.quantileNormalize(qn, "g", "v", "id"))
    assert(!p2d.contains("CartesianProduct") &&
      !p2d.contains("BroadcastNestedLoopJoin"), p2d)
    // association rules: the pair self-join co-locates on the basket
    // key and the marginal joins are equi-joins — never a product
    val bk = Seq((1L, "x"), (1L, "y"), (2L, "x")).toDF("b", "i")
    val p3 = explainOf(Curation.associationRules(bk, "b", "i"))
    assert(!p3.contains("CartesianProduct") &&
      !p3.contains("BroadcastNestedLoopJoin"), p3)
    // beaconing: the lag window and the mode argmax window are both
    // KEY-partitioned — nothing funnels the corpus into one partition
    val ev = Seq(("u", "t", 1L, 1L), ("u", "t", 2L, 2L))
      .toDF("u", "t", "ts", "id")
    val p4 = explainOf(
      Events.beaconingSignals(ev, Seq("u", "t"), "ts", "id"))
    assert(!p4.contains("Exchange SinglePartition"), p4)
    assert(!p4.contains("CartesianProduct") &&
      !p4.contains("BroadcastNestedLoopJoin"), p4)
  }

  test("round-16 text/typo ops: narrow passes, broadcast brands, keyed windows") {
    import graft.operators.{DnsAnalytics, TextAnalysis}
    // htmlTables: three chained generators, zero exchanges
    val pages = Seq((1L, "<table><tr><td>x</td></tr></table>"))
      .toDF("id", "h")
    val p0 = explainOf(TextAnalysis.htmlTables(pages, "h", "id"))
    assert(!p0.contains("Exchange"), p0)
    // bracketBalance: pure projection
    val p1 = explainOf(TextAnalysis.bracketBalance(
      Seq((1L, "(x)")).toDF("id", "t"), "t", "id"))
    assert(!p1.contains("Exchange"), p1)
    // typoNames: the brand side rides a BROADCAST nested loop (the
    // levenshtein bound is not an equi-key) — never a shuffled product
    val p2 = explainOf(DnsAnalytics.typoNames(
      Seq("paypa1.com").toDF("name"), "name",
      Seq("paypal").toDF("brand"), "brand"))
    assert(p2.contains("BroadcastNestedLoopJoin"), p2)
    assert(!p2.contains("CartesianProduct"), p2)
    // delimitedAudit / lineLanguages: every window is doc-keyed —
    // nothing funnels into one partition
    val p3 = explainOf(TextAnalysis.delimitedAudit(
      Seq((1L, "a,b\nc,d")).toDF("id", "t"), "t", "id"))
    assert(!p3.contains("Exchange SinglePartition"), p3)
    val p4 = explainOf(TextAnalysis.lineLanguages(
      Seq((1L, "the cat")).toDF("id", "t"), "t", "id"))
    assert(!p4.contains("Exchange SinglePartition"), p4)
  }

  test("cusumPeaks: hour span broadcasts, fold is per-key aggregation") {
    val ev = Seq((Timestamp.valueOf("2024-01-01 00:00:00"), "x"))
      .toDF("ts", "event_type")
    val plan = explainOf(
      graft.operators.Events.cusumPeaks(ev, "ts", "event_type"))
    // the dense hour × key expansion must be the broadcast nested-loop
    // of the tiny global span, never a shuffled product of the corpus
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
