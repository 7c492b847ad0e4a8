package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Similarity}
import org.apache.spark.sql.functions._

/** Unit semantics for the corpus-curation operators. */
class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("chunkDocuments: windows, overlap, partial tail, short docs") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words
      (2L, "a b c")                                   // shorter than a chunk
    ).toDF("doc_id", "text")
    val out = Curation.chunkDocuments(docs, "text", "doc_id",
      chunkWords = 4, overlap = 1)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        (r.getAs[Long]("start_word"), r.getAs[Long]("n_words"),
          r.getAs[String]("chunk_text"))).toMap
    // stride 3: starts 0,3,6,9
    assert(out((1L, 0L)) == ((0L, 4L, "w1 w2 w3 w4")))
    assert(out((1L, 1L)) == ((3L, 4L, "w4 w5 w6 w7")))
    assert(out((1L, 2L)) == ((6L, 4L, "w7 w8 w9 w10")))
    assert(out((1L, 3L)) == ((9L, 1L, "w10"))) // partial tail kept
    assert(!out.contains((1L, 4L)))
    // a short doc is its own single chunk
    assert(out((2L, 0L)) == ((0L, 3L, "a b c")))
    assert(!out.contains((2L, 1L)))
    // no overlap: back-to-back windows cover every word exactly once
    val flat = Curation.chunkDocuments(docs, "text", "doc_id", 4, 0)
      .filter(col("doc_id") === 1L).orderBy(col("chunk_id"))
      .select(col("chunk_text")).as[String].collect()
    assert(flat.mkString(" ") == (1 to 10).map(i => s"w$i").mkString(" "))
    intercept[IllegalArgumentException](
      Curation.chunkDocuments(docs, "text", "doc_id", 4, overlap = 4))
  }

  test("cm sketch never undercounts and is partitioning-invariant") {
    import org.apache.spark.sql.graft.CmSketch
    val vals = (1L to 50L).flatMap(i => Seq.fill(i.toInt % 7 + 1)(s"k$i"))
    val exact = vals.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    def sketch(parts: Int): Array[Long] =
      vals.toDF("v").repartition(parts)
        .agg(Curation.cmSketch(col("v"), d = 4, w = 512)).head
        .getSeq[Long](0).toArray
    val m1 = sketch(1)
    val m32 = sketch(32)
    // elementwise-sum merge: the matrix is bit-identical under ANY
    // partitioning — what makes the DuckDB oracle possible
    assert(m1.toSeq == m32.toSeq)
    // the CM guarantee: estimates never undercount
    exact.foreach { case (k, n) =>
      assert(CmSketch.estimate(m1, 4, 512, k) >= n, k)
    }
    // absent keys can only over-report via collisions, never invent
    // more than the heaviest cell
    assert(CmSketch.estimate(m1, 4, 512, "absent-key") <= m1.max)
    // cmEstimates wraps the same arithmetic
    val est = Curation.cmEstimates(vals.toDF("v"), "v", Seq("k7", "nope"),
      d = 4, w = 512).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("k7") >= exact("k7"))
  }

  test("importanceWeights upweights docs made of target-heavy tokens") {
    // target rows use a disjoint vocabulary from the rest
    val docs = Seq(
      (1L, "en", "alpha beta gamma alpha beta"),
      (2L, "en", "alpha alpha beta gamma gamma"),
      (3L, "xx", "zeta eta theta zeta eta"),
      (4L, "xx", "alpha beta gamma zeta eta") // mixed
    ).toDF("doc_id", "lang", "text")
    val out = Curation.importanceWeights(docs, "text", "doc_id",
      col("lang") === "en", nBuckets = 256)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("importance_mean")).toMap
    // pure-target-vocabulary docs outrank the disjoint-vocabulary doc,
    // with the mixed doc in between
    assert(out(1L) > out(4L), out.toString)
    assert(out(4L) > out(3L), out.toString)
    // n_tokens is the doc's own token count
    val row = Curation.importanceWeights(docs, "text", "doc_id",
      col("lang") === "en").filter(col("doc_id") === 1L).head
    assert(row.getAs[Long]("n_tokens") == 5L)
  }

  test("semanticDedup drops the centroid-near member of duplicate pairs") {
    // seeds 0/1 define two clusters; 2 duplicates 0, 3 duplicates 1
    val embs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(2f, 0f, 0f, 0f)), // same direction as 0 -> cos 1.0
      (3L, Array(0f, 2f, 0f, 0f))  // same direction as 1
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(embs, "vec_id", "embedding",
      k = 2, iters = 1, dim = 4, threshold = 0.99)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("cluster"), r.getAs[Long]("is_kept"))).toMap
    // both duplicate pairs tie on centroid cosine (cos = 1.0 for all
    // members) -> the higher id drops
    assert(out(0L)._2 == 1L && out(2L)._2 == 0L, out.toString)
    assert(out(1L)._2 == 1L && out(3L)._2 == 0L, out.toString)
    // cluster blocking: 0/2 share a cluster, 1/3 share the other
    assert(out(0L)._1 == out(2L)._1)
    assert(out(1L)._1 == out(3L)._1)
    assert(out(0L)._1 != out(1L)._1)
    // rim survival: with a distinct far member present, the core drops
    // and every cluster keeps at least one member
    assert(out.values.groupBy(_._1).forall(_._2.exists(_._2 == 1L)))
  }

  test("redactPii counts and scrubs emails, phones, IPv4s") {
    val df = Seq(
      (1L, "mail bob.smith+x@mail.example.org or 49-123-456-7890 at 10.0.255.3"),
      (2L, "no pii here at all")
    ).toDF("id", "text")
    val out = df.select(col("id") +: Curation.redactPii(col("text")): _*)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_emails") == 1L)
    assert(r1.getAs[Long]("n_phones") == 1L)
    assert(r1.getAs[Long]("n_ips") == 1L)
    assert(r1.getAs[String]("redacted") ==
      "mail <EMAIL> or <PHONE> at <IP>")
    val r2 = out(2L)
    assert(r2.getAs[Long]("n_emails") == 0L)
    assert(r2.getAs[String]("redacted") == "no pii here at all")
  }

  test("ccColumns redacts only Luhn-valid card numbers") {
    val df = Seq(
      // valid bare + valid dash-separated (4111… check digit holds)
      (1L, "pay 4111111111111111 or 4111-1111-1111-1111 now"),
      // candidate shape, checksum off by one -> counted, NOT redacted
      (2L, "pay 4111111111111112 now"),
      // 12 digits: under the candidate length floor entirely
      (3L, "ref 411111111111 ok"),
      (4L, "nothing numeric")
    ).toDF("id", "text")
    val out = df.select(col("id") +: Curation.ccColumns(col("text")): _*)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[Long]("n_cc_candidates") == 2L)
    assert(out(1L).getAs[Long]("n_ccs") == 2L)
    assert(out(1L).getAs[String]("cc_redacted") == "pay <CC> or <CC> now")
    assert(out(2L).getAs[Long]("n_cc_candidates") == 1L)
    assert(out(2L).getAs[Long]("n_ccs") == 0L)
    assert(out(2L).getAs[String]("cc_redacted") ==
      "pay 4111111111111112 now")
    assert(out(3L).getAs[Long]("n_cc_candidates") == 0L)
    assert(out(4L).getAs[Long]("n_ccs") == 0L)
  }

  test("passageDedup keeps first occurrence of each passage") {
    // 4-token passages; doc 2 repeats doc 1's first passage.
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d x y z w"),
      (3L, "q r s t")
    ).toDF("doc_id", "text")
    val out = Curation.passageDedup(df, "text", "doc_id", passageTokens = 4)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[Long]("n_kept") == 2L)
    assert(out(1L).getAs[String]("text_dedup") == "a b c d e f g h")
    // doc 2 loses its first passage (doc 1 owns it), keeps the second
    assert(out(2L).getAs[Long]("n_passages") == 2L)
    assert(out(2L).getAs[Long]("n_kept") == 1L)
    assert(out(2L).getAs[String]("text_dedup") == "x y z w")
    assert(out(3L).getAs[String]("text_dedup") == "q r s t")
  }

  test("passageDedup drops all passages of an exact duplicate doc") {
    val df = Seq((1L, "a b c d e f g h"), (9L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val out = Curation.passageDedup(df, "text", "doc_id", passageTokens = 4)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(9L).getAs[Long]("n_kept") == 0L)
    assert(out(9L).getAs[String]("text_dedup") == "")
  }

  test("repetitionColumns measures 2-gram and 3-gram repetition") {
    val df = Seq(
      (1L, "x y x y x y"),          // 2-grams: xy yx xy yx xy -> top "x y"=3/5
      (2L, "a b c d e")             // no repetition
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id") +: Curation.repetitionColumns(col("text")): _*)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_2grams") == 5L)
    assert(r1.getAs[Long]("top_2gram_count") == 3L)
    assert(math.abs(r1.getAs[Double]("top_2gram_frac") - 0.6) < 1e-12)
    // 3-grams: xyx yxy xyx yxy -> all 4 occurrences are of duplicated grams
    assert(r1.getAs[Long]("dup_3gram_count") == 4L)
    val r2 = out(2L)
    assert(r2.getAs[Long]("top_2gram_count") == 1L)
    assert(r2.getAs[Long]("dup_3gram_count") == 0L)
  }

  test("mixtureSample is deterministic and respects 0/100 rates") {
    val df = (1 to 200).map(i => (i.toLong, s"text number $i",
      if (i % 2 == 0) "keep" else "drop")).toDF("doc_id", "text", "lang")
    val out = Curation.mixtureSample(df, "lang", "text",
      Map("keep" -> 100, "drop" -> 0))
    assert(out.count() == 100)
    assert(out.filter(col("lang") === "drop").count() == 0)
    // identical content in a sampled domain is always sampled identically
    val half = Curation.mixtureSample(df.filter(col("lang") === "keep"),
      "lang", "text", Map("keep" -> 40))
    val again = Curation.mixtureSample(df.filter(col("lang") === "keep"),
      "lang", "text", Map("keep" -> 40))
    assert(half.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      again.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("kmvDistinct: exact under k, partition-invariant, null-safe, SQL-usable") {
    val vals = (1 to 100).map(i => s"v$i") ++ (1 to 50).map(i => s"v$i") // dups
    val df = vals.toDF("v")
    // 100 distinct < k=256 -> the exact branch
    assert(df.agg(Curation.kmvDistinct(col("v"), 256)).head.getLong(0) == 100L)
    // estimator branch: 5000 distinct over k=64 — same answer however
    // the data is partitioned (merge is associative/commutative)
    val big = (1 to 5000).map(i => s"key-$i").toDF("v")
    val est1 = big.repartition(1).agg(Curation.kmvDistinct(col("v"), 64))
      .head.getLong(0)
    val est16 = big.repartition(16).agg(Curation.kmvDistinct(col("v"), 64))
      .head.getLong(0)
    assert(est1 == est16)
    assert(est1 > 3500 && est1 < 6500, s"estimate $est1 wildly off 5000")
    // nulls are skipped, not counted or NPE'd
    assert(Seq(Some("a"), None, Some("b"), None).toDF("v")
      .agg(Curation.kmvDistinct(col("v"), 8)).head.getLong(0) == 2L)
    // registered for spark.sql users too
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    big.createOrReplaceTempView("kmv_input")
    assert(spark.sql("SELECT kmv_distinct(v, 64) FROM kmv_input")
      .head.getLong(0) == est1)
    intercept[IllegalArgumentException](
      Curation.kmvDistinct(col("v"), 1))
  }

  test("temperatureSample rebalances toward sqrt-law: tail kept, head cut") {
    // head: 900 docs, tail: 9 docs. isqrt = 30 / 3; S = 33.
    // target 100 -> head rate = 1000*100*30 div (33*900) = 101 permille,
    // tail rate = 1000*100*3 div (33*9) = 1000 (capped) -> tail keeps ALL.
    val df = ((1 to 900).map(i => (i.toLong, s"head text $i", "en")) ++
      (1 to 9).map(i => (i + 10000L, s"tail text $i", "sw")))
      .toDF("doc_id", "text", "lang")
    val out = Curation.temperatureSample(df, "lang", "text", targetTotal = 100)
    assert(out.filter(col("lang") === "sw").count() == 9) // capped at 1000
    val headKept = out.filter(col("lang") === "en").count()
    // ~101 permille of 900 ≈ 91 expected; the md5 buckets are fixed, so
    // the exact count is deterministic — assert the rebalancing range
    assert(headKept > 50 && headKept < 150, s"headKept=$headKept")
    // deterministic: identical run, identical sample
    assert(Curation.temperatureSample(df, "lang", "text", 100)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    intercept[IllegalArgumentException](
      Curation.temperatureSample(df, "lang", "text", 0))
  }

  test("ngramTopK orders by count desc then gram asc") {
    val df = Seq((1L, "a b a b a b"), (2L, "a b z z z")).toDF("doc_id", "text")
    val out = Curation.ngramTopK(df, "text", n = 2, k = 3)
      .as[(String, Long)].collect().toSeq
    assert(out.head == ("a b", 4L)) // 3 in doc1 + 1 in doc2
    assert(out(1) == ("b a", 2L))
    assert(out(2) == ("z z", 2L)) // tie with "b a" broken by gram text
  }

  test("tfidfKeywords ranks rare terms above ubiquitous ones") {
    val df = Seq(
      (1L, "apple common common common"),
      (2L, "banana common common common"),
      (3L, "cherry common common common")
    ).toDF("doc_id", "text")
    val out = Curation.tfidfKeywords(df, "text", "doc_id", k = 1)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    // each doc's unique fruit (tf=1, df=1 -> score 3) beats "common"
    // (tf=3, df=3 -> score 3)... tie! tf*N/df: fruit 1*3/1=3, common
    // 3*3/3=3 — tie broken by term text: "apple" < "common" wins doc 1,
    // "banana" < "common" doc 2, "cherry" < "common" doc 3.
    assert(out(1L).getAs[String]("term") == "apple")
    assert(out(2L).getAs[String]("term") == "banana")
    assert(out(3L).getAs[String]("term") == "cherry")
    // and with an extra repeat the unique term wins outright
    val df2 = Seq((1L, "apple apple common"), (2L, "x common"))
      .toDF("doc_id", "text")
    val top = Curation.tfidfKeywords(df2, "text", "doc_id", k = 1)
      .filter(col("id") === 1L).collect().head
    assert(top.getAs[String]("term") == "apple")
    assert(top.getAs[Double]("tfidf") == 4.0) // tf 2 * N 2 / df 1
  }

  test("packForTraining: contiguous offsets within shard, budget packing") {
    // single shard so offsets are fully determined by id order
    val df = Seq(
      (1L, "a b c"),          // 3 tokens, offset 0, pack 0
      (2L, "d e f g"),        // 4 tokens, offset 3, pack 0
      (3L, "h i j k l m n o") // 8 tokens, offset 7, pack 1 (budget 5)
    ).toDF("doc_id", "text")
    val out = Curation.packForTraining(df, "text", "doc_id",
      nShards = 1, budgetTokens = 5)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[Long]("offset_tokens") == 0L)
    assert(out(1L).getAs[Long]("pack_id") == 0L)
    assert(out(2L).getAs[Long]("offset_tokens") == 3L)
    assert(out(2L).getAs[Long]("pack_id") == 0L)
    assert(out(3L).getAs[Long]("offset_tokens") == 7L)
    assert(out(3L).getAs[Long]("pack_id") == 1L)
    // sharding is content-hash stable: same text -> same shard, any run
    val many = (1 to 100).map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
    val s1 = Curation.packForTraining(many, "text", "doc_id", 4, 100)
      .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s2 = Curation.packForTraining(many.orderBy(rand()), "text", "doc_id", 4, 100)
      .select("id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s1 == s2)
  }

  test("crossCorpusNearDuplicates finds batch dups without corpus self-join") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (3L, "completely different words here now")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // copy of 1
      (11L, "nothing like anything in the corpus at all")
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.crossCorpusNearDuplicates(
      corpus, batch, "text", "doc_id")
      .collect().map(r => (r.getAs[Long]("batch_id"),
        r.getAs[Long]("corpus_id"), r.getAs[Double]("jaccard")))
    assert(out.toSeq == Seq((10L, 1L, 1.0)))
  }

  test("containmentPairs flags a fragment inside a long doc (Jaccard misses it)") {
    // non-repetitive long doc: 60 distinct words
    val longText = (1 to 60).map(i => s"word$i").mkString(" ")
    val fragment = longText.substring(0, 60) // strict substring
    val other = "totally unrelated words compose this other document body"
    val df = Seq((1L, longText), (2L, fragment), (3L, other))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.containmentPairs(df, "text", "doc_id",
        minContainmentCents = 80, minShared = 2, maxDocFrequency = 10)
      .collect()
    // the (1,2) pair: fragment fully contained -> cont of the SMALLER set
    // (doc 2) in doc 1 is 100
    val pair = out.find(r => r.getAs[Long]("id_a") == 1L &&
      r.getAs[Long]("id_b") == 2L)
    assert(pair.isDefined, out.mkString(";"))
    assert(pair.get.getAs[Long]("cont_b_in_a_cents") == 100L)
    // doc 3 shares nothing
    assert(!out.exists(r => r.getAs[Long]("id_a") == 3L ||
      r.getAs[Long]("id_b") == 3L))
    // symmetric word-shingle Jaccard on the same pair is far below any
    // dedup threshold — the case this operator exists for
    val jac = graft.operators.Dedup.ngramJaccardPairs(
      df, "text", "doc_id", threshold = 0.0).collect()
      .find(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L)
    assert(jac.forall(_.getAs[Double]("jaccard") < 0.3))
  }

  test("persisted band index reproduces direct cross-corpus dedup exactly") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (3L, "completely different words here now")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "no resemblance to anything stored whatsoever")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-bandidx").toString
    graft.operators.Dedup.writeBandIndex(corpus, "text", "doc_id", dir)
    val viaIndex = graft.operators.Dedup.deltaDedupAgainstIndex(
        graft.operators.Dedup.loadBandIndex(spark, dir), batch, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = graft.operators.Dedup.crossCorpusNearDuplicates(
        corpus, batch, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == direct)
    assert(viaIndex == Set((10L, 1L)))
    // the stored layout partitions by band for pruning
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("band_idx=")))

    // ---- incremental merge lifecycle (round 11) ----
    val inc = Seq((20L, "one two three four five six")) // dup of corpus 2
      .toDF("doc_id", "text")
    assert(graft.operators.Dedup.readBandEpoch(spark, dir).contains(1L))
    assert(graft.operators.Dedup.readBandParams(spark, dir)
      .contains((16, 4)))
    val merged = graft.operators.Dedup.mergeBandIndex(
      spark, dir, inc, "text", "doc_id", batchId = 1L)
    assert(merged > 0)
    assert(graft.operators.Dedup.readBandEpoch(spark, dir).contains(2L))
    // exactly-once: replaying the same batch id is a no-op
    assert(graft.operators.Dedup.mergeBandIndex(
      spark, dir, inc, "text", "doc_id", batchId = 1L) == 0L)
    assert(graft.operators.Dedup.readBandEpoch(spark, dir).contains(2L))
    // the merged index now answers for the increment too
    val probe = Seq((30L, "one two three four five six"))
      .toDF("doc_id", "text")
    val hits = graft.operators.Dedup.deltaDedupAgainstIndex(
        graft.operators.Dedup.loadBandIndex(spark, dir), probe,
        "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((30L, 2L), (30L, 20L)))

    // crash point: staged data + committed manifest, never applied —
    // the reader path must replay it on load
    val staging = s"$dir/_staging_9"
    val inc2 = Seq((21L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    graft.operators.Dedup.buildBandIndex(inc2, "text", "doc_id")
      .withColumn("batch", org.apache.spark.sql.functions.lit(2L))
      .write.partitionBy("band_idx", "batch").parquet(staging)
    val out = new java.io.FileOutputStream(s"$staging/_manifest.json")
    val stagedPieces = new java.io.File(staging).listFiles()
      .filter(_.getName.startsWith("band_idx=")).map(_.getName).sorted
      .map(bd => s"$bd/batch=2").mkString(",")
    out.write((s"""{"target_epoch":9,"staged_bands":"$stagedPieces",""" +
      """"batch_id":2,"num_hashes":16,"bands":4}""").getBytes("UTF-8"))
    out.close()
    val probe2 = Seq((40L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val hits2 = graft.operators.Dedup.deltaDedupAgainstIndex(
        graft.operators.Dedup.loadBandIndex(spark, dir), probe2,
        "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits2 == Set((40L, 1L), (40L, 21L)))
    assert(!new java.io.File(staging).exists())
    assert(graft.operators.Dedup.readBandEpoch(spark, dir).contains(9L))
    assert(graft.operators.Dedup.readBandBatchId(spark, dir).contains(2L))
  }

  test("cosineLshDelta finds batch copies against the corpus") {
    val rnd = new scala.util.Random(7)
    val corpus = (0L to 30L).map(i => (i, Array.fill(16)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
    val copyOf3 = corpus.filter(col("vec_id") === 3L)
      .select(lit(103L).as("vec_id"), col("embedding"))
    val out = Similarity.cosineLshDelta(corpus, copyOf3, "vec_id",
        "embedding", threshold = 0.99, dim = 16)
      .collect().map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Double]("cos_sim")))
    assert(out.exists { case (b, c, cos) => b == 103L && c == 3L && cos == 1.0 })
  }

  test("decontaminate flags only docs sharing a full n-gram with the eval set") {
    val evalSet = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // contains eval 4-grams "alpha beta gamma delta" + "beta gamma delta epsilon"
      (10L, "x alpha beta gamma delta epsilon y"),
      // shares words but never 4 consecutive ones
      (11L, "alpha beta x gamma delta y epsilon zeta q r"),
      (12L, "totally unrelated text with other words here"))
      .toDF("doc_id", "text")
    val out = Curation.decontaminate(corpus, evalSet, "text", "doc_id", n = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shared_grams"), r.getAs[Long]("contaminated"))).toMap
    assert(out(10L) == (2L, 1L))
    assert(out(11L) == (0L, 0L))
    assert(out(12L) == (0L, 0L))
  }

  test("bpeTrain learns merges in frequency order; run-merges are exact") {
    // "aaaa" exercises the boundary-sharing run case: " a a a a " must
    // become " aa aa " in ONE round (all non-overlapping occurrences),
    // which plain single-pass replace would get wrong.
    val docsDf = Seq("aaaa bc", "aaaa bc", "aaaa").toDF("text")
    val out = Curation.bpeTrain(docsDf, "text", rounds = 3)
      .collect().map(r => (r.getAs[Long]("round"), r.getAs[String]("pair"),
        r.getAs[Long]("n_occurrences"))).sortBy(_._1)
    assert(out(0) == (1L, "a a", 9L)) // 3 per "aaaa" word x 3 occurrences
    assert(out(1) == (2L, "aa aa", 3L)) // both pairs merged in round 1
    assert(out(2) == (3L, "b c", 2L))
  }

  test("bpeTrain merge pass is canonical sequential BPE on odd runs") {
    // " a a a a a " must merge to " aa aa a " (canonical greedy), whose
    // round-2 pair table is {aa aa, aa a}; a replace-based merge would
    // phase-shift to " aa a aa " = {aa a, a aa} and pick "a aa" instead.
    val out = Curation.bpeTrain(Seq("aaaaa").toDF("text"), "text", 2)
      .collect().map(r => (r.getAs[Long]("round"), r.getAs[String]("pair")))
      .sortBy(_._1)
    assert(out(0) == (1L, "a a"))
    assert(out(1) == (2L, "aa a"))
  }

  test("bpeApply counts tokens per doc under the merge list") {
    val docsDf = Seq((1L, "aaaa bc"), (2L, "bc")).toDF("doc_id", "text")
    val out = Curation.bpeApply(docsDf, "text", "doc_id",
        merges = Seq("a a", "aa aa"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bpe_tokens"), r.getAs[Long]("n_words"))).toMap
    assert(out(1L) == (3L, 2L)) // "aaaa"→1 token after both merges, "bc"→2
    assert(out(2L) == (2L, 1L))
  }

  test("stratifiedSample takes exact quotas, deterministically") {
    val df = (1 to 40).map(i => (i.toLong,
      if (i % 4 == 0) "de" else "en", s"text body $i")).toDF("doc_id", "lang", "text")
    val out = Curation.stratifiedSample(df, "lang", "text", "doc_id", 5)
    val byLang = out.collect().groupBy(_.getAs[String]("lang"))
    assert(byLang("en").length == 5 && byLang("de").length == 5)
    // small stratum: quota binds at the stratum size
    val out2 = Curation.stratifiedSample(df, "lang", "text", "doc_id", 15)
      .collect().groupBy(_.getAs[String]("lang"))
    assert(out2("de").length == 10) // only 10 'de' docs exist
    // determinism: same rows on a rerun
    val a = out.collect().map(_.getAs[Long]("doc_id")).toSet
    val b = Curation.stratifiedSample(df.repartition(7), "lang", "text",
      "doc_id", 5).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(a == b)
  }

  test("saltedDistinctCount equals plain distinct counting at any salt width") {
    val df = (1 to 500).map(i => (s"k${i % 3}", (i * 31 % 97).toLong))
      .toDF("k", "v")
    val plain = df.groupBy("k").agg(countDistinct("v").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (salts <- Seq(1, 4, 16)) {
      val salted = Curation.saltedDistinctCount(df, "k", "v", salts)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("n_distinct")).toMap
      assert(salted == plain, s"nSalts=$salts")
    }
  }

  test("saltedJoin equals the plain join at any salt width") {
    val big = (1 to 200).map(i => (i.toLong, (i % 5).toLong)).toDF("id", "k")
    val small = (0 to 4).map(k => (k.toLong, k * 100L)).toDF("k", "v")
    val plain = big.join(small, "k").select("id", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (salts <- Seq(1, 4, 16)) {
      val salted = Curation.saltedJoin(big, small, "k", col("id"), Seq("v"),
          nSalts = salts)
        .select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(salted.length == plain.size, s"nSalts=$salts: no dup/lost rows")
      assert(salted.toSet == plain, s"nSalts=$salts")
    }
  }

  test("keySkew reports exact distribution facts") {
    val df = (Seq.fill(6)("hot") ++ Seq("a", "b", "c")).toDF("k")
    val r = Curation.keySkew(df, "k").collect().head
    assert(r.getAs[Long]("n_keys") == 4L)
    assert(r.getAs[Long]("n_rows") == 9L)
    assert(r.getAs[Long]("max_key_rows") == 6L)
    assert(r.getAs[Long]("min_key_rows") == 1L)
    assert(r.getAs[Long]("max_over_avg_permille") == 6L * 1000 / (9 / 4))
  }

  test("lmScores: hand-computed add-one-smoothed bigram sums") {
    // corpus: doc1 "a b a", doc2 "a b", doc3 "x" (no bigrams → drops)
    // unigrams: a=3, b=2, x=1 → V=3
    // bigram counts: (a,b)=2, (b,a)=1
    // doc1 = (2+1)·1e9 div (3+3)  +  (1+1)·1e9 div (2+3)
    //      = 500000000 + 400000000 = 900000000, n=2, mean=450000000
    // doc2 = 500000000, n=1
    val df = Seq((1L, "a b a"), (2L, "a b"), (3L, "x"))
      .toDF("doc_id", "text")
    val out = Curation.lmScores(df, "text", "doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("lm_score"),
          r.getAs[Long]("lm_mean"))).toMap
    assert(out == Map(
      1L -> ((2L, 900000000L, 450000000L)),
      2L -> ((1L, 500000000L, 500000000L))))
  }

  test("topKPairs: window parity, duplicates, ties, both directions") {
    val df = Seq(
      ("a", 5L, 1L), ("a", 5L, 2L), ("a", 9L, 3L), ("a", 1L, 4L),
      ("a", 5L, 2L), // duplicate (ord, payload) pair — multiset kept
      ("b", 7L, 7L))
      .toDF("k", "v", "id").repartition(7) // partition-invariance too
    def run(k: Int, largest: Boolean) = df.groupBy(col("k"))
      .agg(Curation.topKPairs(col("v"), col("id"), k, largest).as("t"))
      .select(col("k"), posexplode(col("t")))
      .collect()
      .map(r => (r.getString(0), r.getInt(1),
        r.getStruct(2).getLong(0), r.getStruct(2).getLong(1)))
      .toSet
    // largest: a → (9,3), (5,2), (5,2) — dup pair beats (5,1) on payload
    assert(run(3, largest = true) == Set(
      ("a", 0, 9L, 3L), ("a", 1, 5L, 2L), ("a", 2, 5L, 2L),
      ("b", 0, 7L, 7L)))
    // smallest: a → (1,4), (5,1), (5,2) — ascending ties by payload asc
    assert(run(3, largest = false) == Set(
      ("a", 0, 1L, 4L), ("a", 1, 5L, 1L), ("a", 2, 5L, 2L),
      ("b", 0, 7L, 7L)))
    // k larger than the group returns everything, still ordered
    assert(run(10, largest = true).count(_._1 == "a") == 5)
    intercept[IllegalArgumentException](
      Curation.topKPairs(col("v"), col("id"), 0))
  }

  test("sketchQuantiles: exact collapse at k >= n, sampling under it") {
    // 1..100, value = id → exact quantiles known in closed form
    val df = (1L to 100L).map(i => (i, i)).toDF("id", "v").repartition(5)
    val exact = Curation.sketchQuantiles(df, "id", "v", k = 256).collect()
    assert(exact.length == 1)
    val r = exact.head
    assert(r.getAs[Long]("n_total") == 100L)
    assert(r.getAs[Long]("n_sample") == 100L) // unsaturated: whole input
    // quantile_cont over 1..100: p = 1 + q·99 → p25 = 25.75
    assert(r.getAs[Long]("p250_cents") == 2575L)
    assert(r.getAs[Long]("p500_cents") == 5050L)
    assert(r.getAs[Long]("p750_cents") == 7525L)
    assert(r.getAs[Long]("p900_cents") == 9010L)
    // saturated: a 40-row hash sample of the same data — still a
    // partition-invariant pure function of the ids, and in-range
    val s = Curation.sketchQuantiles(df, "id", "v", k = 40).collect().head
    assert(s.getAs[Long]("n_sample") == 40L)
    val s2 = Curation.sketchQuantiles(df.repartition(11), "id", "v",
      k = 40).collect().head
    assert(s.getAs[Long]("p500_cents") == s2.getAs[Long]("p500_cents"))
    assert(s.getAs[Long]("p500_cents") >= 100L &&
      s.getAs[Long]("p500_cents") <= 10000L)
    // empty input → empty output; bad params rejected
    assert(Curation.sketchQuantiles(df.filter(col("v") < 0), "id", "v")
      .collect().isEmpty)
    intercept[IllegalArgumentException](
      Curation.sketchQuantiles(df, "id", "v", k = 1))
    intercept[IllegalArgumentException](
      Curation.sketchQuantiles(df, "id", "v", qsPermille = Seq(1000)))
  }

  test("sketchQuantilesByKey: per-key collapse, one shared shuffle") {
    // key a: 1..9 (k=16 ≥ 9 → exact); key b: 10,20,30
    val df = ((1L to 9L).map(i => ("a", i, i)) ++
      Seq(("b", 101L, 10L), ("b", 102L, 20L), ("b", 103L, 30L)))
      .toDF("k", "id", "v")
    val out = Curation.sketchQuantilesByKey(df, "k", "id", "v", k = 16)
    val rows = out.collect().map(r => r.getString(0) ->
      (r.getAs[Long]("n_total"), r.getAs[Long]("n_sample"),
        r.getAs[Long]("p500_cents"))).toMap
    assert(rows == Map("a" -> ((9L, 9L, 500L)), "b" -> ((3L, 3L, 2000L))))
    // the second aggregation reuses the first's hash partitioning:
    // exactly ONE exchange in the executed (final) plan
    val full = out.queryExecution.executedPlan.toString
    val tree = full.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(tree).length == 1, tree)
  }

  test("sketchKsDrift: hand-computed gap, identical and disjoint sets") {
    def ks(a: Seq[Long], b: Seq[Long]): Option[Long] = {
      val da = a.zipWithIndex.map { case (v, i) => (i.toLong + 1000, v) }
        .toDF("id", "v")
      val db = b.zipWithIndex.map { case (v, i) => (i.toLong + 2000, v) }
        .toDF("id", "v")
      val r = Curation.sketchKsDrift(da, "id", "v", db, "id", "v", k = 64)
        .collect().head
      if (r.isNullAt(2)) None else Some(r.getLong(2))
    }
    // A={1,2,3,4}, B={3,4,5,6}: max gap at v=2..4 → 8/16 → 500‰
    assert(ks(Seq(1L, 2L, 3L, 4L), Seq(3L, 4L, 5L, 6L)) == Some(500L))
    // identical distributions → 0; fully disjoint supports → 1000
    assert(ks(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)) == Some(0L))
    assert(ks(Seq(1L, 2L), Seq(10L, 20L)) == Some(1000L))
    // an empty side has no distance to measure
    assert(ks(Seq(1L, 2L), Seq.empty) == None)
  }

  test("robustOutliers: median/MAD flags, immune to the dragging extreme") {
    // 1..9 plus a huge value: median 5.5 (of 11 values incl. 1000000),
    // wait — k >= n so the sample IS the input: values 1..9 ∪ {10⁶}.
    // m = (5+6)/2 = 5.5 → 550 cents; devs |100v−550|·2; MAD from devs.
    val df = ((1L to 9L).map(i => (i, i)) :+ (10L, 1000000L))
      .toDF("id", "v")
    val out = Curation.robustOutliers(df, "id", "v", k = 256,
        thresholdPermille = 3000L)
      .collect().map(r => r.getLong(1) ->
        (r.getAs[Long]("dev_halfcents"), r.getAs[Long]("is_outlier")))
      .toMap
    // devs (cents): 1..9 → 450,350,250,150,50,50,150,250,350; 1e6 huge.
    // sorted dev_halfcents: 100,100,300,300,500,500,700,700,900,huge
    // → MAD (interpolated at 5.5th) = 500 half-cents
    assert(out(1L) == ((900L, 0L)))   // 900 ≤ 3×500
    assert(out(5L) == ((100L, 0L)))
    assert(out(9L) == ((700L, 0L)))
    assert(out(1000000L)._2 == 1L)    // the extreme is the ONLY outlier
    assert(out.values.map(_._2).sum == 1L)
    // a mean/stddev filter would have been dragged: mean = 100004.5,
    // every normal row sits 'below average' — the median never moved
    intercept[IllegalArgumentException](
      Curation.robustOutliers(df, "id", "v", thresholdPermille = 0))
  }

  test("quantileBuckets: exact boundaries at k >= n, ties fall low, nulls") {
    // values 1..100 → quartile bounds (25.75, 50.5, 75.25) exactly
    val df = (1L to 100L).map(i => (i, i)).toDF("id", "v")
    val out = Curation.quantileBuckets(df, "id", "v", nBuckets = 4,
        k = 256)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out(25L) == 1L && out(26L) == 2L)   // bound 25.75
    assert(out(50L) == 2L && out(51L) == 3L)   // bound 50.5
    assert(out(75L) == 3L && out(76L) == 4L)   // bound 75.25
    assert(out(1L) == 1L && out(100L) == 4L)
    // integer boundary: nBuckets=2 over 1..99 → median 50 exactly;
    // value == boundary takes the LOWER bucket (strict >)
    val odd = (1L to 99L).map(i => (i, i)).toDF("id", "v")
    val halves = Curation.quantileBuckets(odd, "id", "v", nBuckets = 2,
        k = 256)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(halves(50L) == 1L && halves(51L) == 2L)
    // null value → null bucket; no Window anywhere in the plan
    val withNull = Seq((1L, Some(5L)), (2L, None)).toDF("id", "v")
    val nb = Curation.quantileBuckets(withNull, "id", "v", nBuckets = 2)
    assert(nb.collect().count(_.isNullAt(2)) == 1)
    val plan = nb.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    intercept[IllegalArgumentException](
      Curation.quantileBuckets(df, "id", "v", nBuckets = 1))
  }

  test("naive Bayes: hand-computed smoothed model, unseen words, tie rule") {
    // train: label p = "a a b", label q = "c c d" → vocab {a,b,c,d},
    // V=4, ctok=3 per label, denominator 7 everywhere. S = 1e9:
    // S div 7 = 142857142, 2S div 7 = 285714285, 3S div 7 = 428571428
    val train = Seq((1L, "a a b", "p"), (2L, "c c d", "q"))
      .toDF("doc_id", "text", "lang")
    val model = Curation.nbTrain(train, "text", "lang")
    val m = model.collect().map(r => (r.getAs[String]("label"),
      r.getAs[String]("word")) -> r.getAs[Long]("p_scaled")).toMap
    assert(m.size == 8) // dense: 4 words × 2 labels
    assert(m(("p", "a")) == 428571428L) // (2+1)·S div 7
    assert(m(("p", "c")) == 142857142L) // unseen-in-label smoothing
    assert(m(("q", "c")) == 428571428L)
    assert(model.select("p_unseen").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(142857142L))

    // "a b z": z is out-of-vocabulary entirely → contributes p_unseen
    // "c d": clearly q; "a c": exact tie → greater label wins (q)
    val test = Seq((10L, "a b z"), (11L, "c d"), (12L, "a c"))
      .toDF("doc_id", "text")
    val out = Curation.nbClassify(test, "text", "doc_id", model)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("pred_label"), r.getAs[Long]("score"))).toMap
    assert(out == Map(
      10L -> (("p", 428571428L + 285714285L + 142857142L)),
      11L -> (("q", 428571428L + 285714285L)),
      12L -> (("q", 428571428L + 142857142L))))
  }

  test("pmiCollocations: hand-computed scaled PMI with min-count cut") {
    // corpus: doc1 "a b a b c", doc2 "a b"
    // bigrams: (a,b)=3, (b,a)=1, (b,c)=1 → N=5; unigrams a=3, b=3, c=1
    // minCount=2 keeps only (a,b): (3·5·1e6) div (3·3) = 1666666
    val df = Seq((1L, "a b a b c"), (2L, "a b")).toDF("doc_id", "text")
    val out = Curation.pmiCollocations(df, "text", minCount = 2L)
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("w1") == "a")
    assert(out.head.getAs[String]("w2") == "b")
    assert(out.head.getAs[Long]("c12") == 3L)
    assert(out.head.getAs[Long]("pmi_scaled") == 1666666L)
  }

  test("weightedSample: deterministic, weight-gated, partitioning-proof") {
    val df = (1L to 40L).map(i =>
      (i, if (i <= 5) 0L else i * 10)).toDF("doc_id", "wt")
    val s1 = Curation.weightedSample(df, "doc_id", "wt", k = 10).collect()
    assert(s1.length == 10)
    // non-positive weights can never be sampled
    assert(s1.forall(_.getAs[Long]("id") > 5L))
    // k beyond the population returns every positive-weight row
    assert(Curation.weightedSample(df, "doc_id", "wt", k = 100)
      .count() == 35L)
    // the sample is a pure function of the data: partitioning-invariant
    val s2 = Curation.weightedSample(df.repartition(7), "doc_id", "wt",
      k = 10).collect()
    assert(s1.map(_.toSeq).toSeq == s2.map(_.toSeq).toSeq)
    // NULL ids hash to NULL priorities (which ascending order would pin
    // FIRST) — they must be excluded, not silently always-sampled
    val withNull = Seq((Some(1L), 5L), (None, 5L), (Some(2L), 5L))
      .toDF("doc_id", "wt")
    val s3 = Curation.weightedSample(withNull, "doc_id", "wt", k = 3)
      .collect()
    assert(s3.length == 2 && s3.forall(!_.isNullAt(0)))
    // fractional weights pass through unchanged
    val frac = Seq((1L, 0.3), (2L, 0.7)).toDF("doc_id", "wt")
    assert(Curation.weightedSample(frac, "doc_id", "wt", k = 2)
      .collect().map(_.getAs[Double]("weight")).sorted.toSeq == Seq(0.3, 0.7))
  }

  test("stableRank: window parity, partitioning-proof, boundary-proof") {
    val df = (1L to 500L).map(i => (i * 7 % 501, s"g${i % 4}"))
      .toDF("id", "grp")
    val viaWindow = {
      import org.apache.spark.sql.expressions.Window
      df.withColumn("rank", row_number().over(
        Window.partitionBy("grp").orderBy("id")).cast("long") - 1)
        .select("grp", "id", "rank")
    }
    def got(d: org.apache.spark.sql.DataFrame) =
      Curation.stableRank(d, "grp", Seq("id")).select("grp", "id", "rank")
        .collect().map(_.toSeq).toSet
    val expected = viaWindow.collect().map(_.toSeq).toSet
    assert(got(df) == expected)
    // rank is a pure function of the data, not of input partitioning
    // (range boundaries move, global positions don't)
    assert(got(df.repartition(13)) == expected)
    assert(got(df.coalesce(1)) == expected)
    // a NULL group is a group, not silent data loss
    val withNull = Seq((1L, Some("g")), (2L, None), (3L, None))
      .toDF("id", "grp")
    val n = Curation.stableRank(withNull, "grp", Seq("id"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("rank")))
      .toSet
    assert(n == Set((1L, 0L), (2L, 0L), (3L, 1L)))
  }

  test("budgetSelect: window parity, straddle kept, partitioning-proof") {
    val df = (1L to 400L).map(i => (i, i % 7 + 1)).toDF("id", "w")
    def viaWindow(budget: Long) = {
      import org.apache.spark.sql.expressions.Window
      df.withColumn("running_total",
          sum(col("w")).over(Window.orderBy(col("id"))))
        .filter(col("running_total") - col("w") < budget)
        .collect().map(_.toSeq).toSet
    }
    def got(d: org.apache.spark.sql.DataFrame, budget: Long) =
      Curation.budgetSelect(d, "w", Seq(col("id")), budget)
        .collect().map(_.toSeq).toSet
    for (budget <- Seq(1L, 100L, 777L, 100000L))
      assert(got(df, budget) == viaWindow(budget), s"budget=$budget")
    // selection is a pure function of the data, not input partitioning
    assert(got(df.repartition(17), 777L) == viaWindow(777L))
    assert(got(df.coalesce(1), 777L) == viaWindow(777L))
    // the straddling row is kept: budget 1 with first weight 2 → one row
    assert(got(df, 1L).size == 1)
    // budget 0 selects nothing
    assert(got(df, 0L).isEmpty)
    // negative budget refused; negative / null weights refused
    intercept[IllegalArgumentException](
      Curation.budgetSelect(df, "w", Seq(col("id")), -1L))
    val bad = Seq((1L, -5L)).toDF("id", "w")
    intercept[Exception](
      Curation.budgetSelect(bad, "w", Seq(col("id")), 10L).collect())
    val nul = Seq((1L, Option.empty[Long])).toDF("id", "w")
    intercept[Exception](
      Curation.budgetSelect(nul, "w", Seq(col("id")), 10L).collect())
  }

  test("budgetSelect(+ByGroup): weight totals past Long.MaxValue raise, ANSI off") {
    // a session that wraps long sums silently; one shuffle partition puts
    // both weights in the same partition total
    val lax = spark.newSession()
    lax.conf.set("spark.sql.ansi.enabled", "false")
    lax.conf.set("spark.sql.shuffle.partitions", "1")
    val big = Long.MaxValue / 2 + 1
    val df = lax.createDataFrame(Seq((1L, big, "g"), (2L, big, "g")))
      .toDF("id", "w", "grp")
    assert(df.agg(sum(col("w"))).head().getLong(0) < 0L) // wraps here
    // budget 0 selects nothing, so only the totals pass can notice
    intercept[ArithmeticException](
      Curation.budgetSelect(df, "w", Seq(col("id")), 0L).collect())
    intercept[ArithmeticException](
      Curation.budgetSelectByGroup(df, "w", "grp", Seq(col("id")), 0L)
        .collect())
    // under the default (ANSI) session the same totals raise too
    val strict = Seq((1L, big, "g"), (2L, big, "g")).toDF("id", "w", "grp")
    intercept[ArithmeticException](
      Curation.budgetSelect(strict, "w", Seq(col("id")), 0L).collect())
  }

  test("budgetSelectByGroup: per-group window parity, null group kept") {
    val df = (1L to 300L).map(i =>
      (i, i % 5 + 1, if (i % 7 == 0) None else Some(s"g${i % 3}")))
      .toDF("id", "w", "grp")
    def viaWindow(budget: Long) = {
      import org.apache.spark.sql.expressions.Window
      df.withColumn("running_total", sum(col("w")).over(
          Window.partitionBy(col("grp")).orderBy(col("id"))))
        .filter(col("running_total") - col("w") < budget)
        .collect().map(_.toSeq).toSet
    }
    def got(d: org.apache.spark.sql.DataFrame, budget: Long) =
      Curation.budgetSelectByGroup(d, "w", "grp", Seq(col("id")), budget)
        .collect().map(_.toSeq).toSet
    for (budget <- Seq(1L, 50L, 10000L))
      assert(got(df, budget) == viaWindow(budget), s"budget=$budget")
    // partitioning-proof: range boundaries move, group cumsums don't
    assert(got(df.repartition(17), 50L) == viaWindow(50L))
    assert(got(df.coalesce(1), 50L) == viaWindow(50L))
    // every group (including NULL) keeps at least its straddling row
    val kept = Curation.budgetSelectByGroup(df, "w", "grp",
      Seq(col("id")), 1L).collect()
    assert(kept.length == 4) // g0, g1, g2, and the NULL group
  }

  test("profileTable: per-column rows/nulls/distinct/min/max in one pass") {
    val df = Seq(
      (1L, Some("b"), Some(10L)),
      (2L, None, Some(30L)),
      (3L, Some("a"), None),
      (4L, Some("a"), Some(10L)))
      .toDF("id", "s", "v")
    val p = Curation.profileTable(df, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(p("id") == Seq(4L, 0L, 4L, "1", "4"))
    assert(p("s") == Seq(4L, 1L, 2L, "a", "b"))
    assert(p("v") == Seq(4L, 1L, 2L, "10", "30"))
    intercept[IllegalArgumentException](Curation.profileTable(df, Nil))
  }

  test("rendezvousAssign: removing a shard moves ONLY that shard's items") {
    val df = (1L to 500L).toDF("id")
    def assign(shards: Seq[String]) =
      Curation.rendezvousAssign(df, "id", shards)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val five = assign((0 until 5).map(i => s"node$i"))
    val four = assign(Seq("node0", "node1", "node3", "node4")) // -node2
    five.foreach { case (id, s) =>
      if (s != "node2") assert(four(id) == s,
        s"item $id moved from $s to ${four(id)} though node2 left")
      else assert(four(id) != "node2")
    }
    // every shard actually receives items (HRW spreads ~uniformly)
    assert(five.values.toSet.size == 5)
    // mod-N placement, for contrast, moves ~4/5 of items on the same
    // change — the reshuffle HRW exists to avoid
    intercept[IllegalArgumentException](Curation.rendezvousAssign(df, "id", Nil))
    intercept[IllegalArgumentException](
      Curation.rendezvousAssign(df, "id", Seq("a", "a")))
    // a NULL item is absence: unassigned, never silently piled onto
    // the lexicographically largest shard
    val withNull = Seq(Some(1L), None).toDF("id")
    val n = Curation.rendezvousAssign(withNull, "id", Seq("a", "b"))
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        Option(r.getString(1)))).toMap
    assert(n(None).isEmpty && n(Some(1L)).nonEmpty)
  }

  test("compressionRatio: repetitive < prose < noise, empty handled") {
    import graft.operators.TextAnalysis
    val rep = ("spam " * 200).trim
    val prose = (1 to 200).map(i => s"w${i * 2654435761L % 997}").mkString(" ")
    // incompressible-ish noise: an md5 hex chain (random nibbles — a
    // modular character ramp would CYCLE and deflate would eat it)
    val noise = (0 until 40).map { i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"n$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }.mkString
    val df = Seq((1L, rep), (2L, prose), (3L, noise), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.compressionRatio(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L)._3 < out(2L)._3 && out(2L)._3 < out(3L)._3, out)
    assert(out(1L)._3 < 100L)  // pure repetition collapses
    assert(out(4L) == ((0L, 0L, 1000L))) // empty: neutral ratio
    // deterministic across runs (same JVM zlib, same level)
    val again = TextAnalysis.compressionRatio(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again == out)
  }

  test("lengthBatches: length-sorted batches, exact padding accounting") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val df = (1 to 5).map(i => (i.toLong, words(i))).toDF("doc_id", "text")
    val out = Curation.lengthBatches(df, "text", "doc_id",
        nShards = 1, batchSize = 2)
      .collect().map(r => r.getAs[Long]("batch_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("max_tokens"),
          r.getAs[Long]("sum_tokens"),
          r.getAs[Long]("pad_overhead_permille"))).toMap
    // sorted by length: batches (1,2), (3,4), (5)
    assert(out(0L) == ((2L, 2L, 3L, 250L))) // pad (2*2-3)/(2*2)
    assert(out(1L) == ((2L, 4L, 7L, 125L))) // pad (4*2-7)/(4*2)
    assert(out(2L) == ((1L, 5L, 5L, 0L)))   // full batch of one: no pad
    // sorting is what keeps overhead low: the worst pairing (1,5) would
    // waste 4 of 10 slots; every sorted batch here wastes ≤ 1 of 4
    assert(out.values.map(_._4).max <= 250L)
    intercept[IllegalArgumentException](
      Curation.lengthBatches(df, "text", "doc_id", 0, 2))
    intercept[IllegalArgumentException](
      Curation.lengthBatches(df, "text", "doc_id", 1, 0))
  }

  test("heavyHitters: exact > n/k set, boundary excluded, partition-proof") {
    // 26 + 25 + 24 + 25×1 = 100 items; k=4 → threshold 25 (strict >)
    val rows = Seq.fill(26)("hot") ++ Seq.fill(25)("edge") ++
      Seq.fill(24)("cold") ++ ('a' to 'y').map(_.toString)
    val df = rows.toDF("w")
    def got(d: org.apache.spark.sql.DataFrame) =
      Curation.heavyHitters(d, "w", k = 4)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // only 'hot' clears the strict > n/k bar; 'edge' sits exactly ON it
    assert(got(df) == Set(("hot", 26L)))
    // the answer is exact regardless of where MG's decrements land
    assert(got(df.repartition(13)) == Set(("hot", 26L)))
    assert(got(df.coalesce(1)) == Set(("hot", 26L)))
    // a generous k returns the full exact > n/k set
    val all = Curation.heavyHitters(df, "w", k = 100)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(all == Set(("hot", 26L), ("edge", 25L), ("cold", 24L)))
    // nulls are absence, not a value
    val withNull = (rows.map(Option(_)) ++ Seq.fill(50)(
      Option.empty[String])).toDF("w")
    assert(got(withNull) == Set(("hot", 26L)))
    intercept[IllegalArgumentException](Curation.heavyHitters(df, "w", 1))
  }

  test("mixSchedule: stride keys give weight-proportional prefixes") {
    val df = (1L to 300L).map(i => (i, s"s${i % 3}")).toDF("id", "src")
    val w = Map("s0" -> 1L, "s1" -> 2L, "s2" -> 3L) // lcm 6
    val out = Curation.mixSchedule(df, "src", Seq("id"), w)
      .select("src", "id", "mix_rank", "sched_key").collect()
    assert(out.length == 300)
    val strides = Map("s0" -> 6L, "s1" -> 3L, "s2" -> 2L)
    // each group's i-th row is scheduled at exactly (i+1) * stride …
    out.foreach { r =>
      assert(r.getAs[Long]("sched_key") ==
        (r.getAs[Long]("mix_rank") + 1) * strides(r.getAs[String]("src")))
    }
    // … so any prefix of the sched_key order holds min(n_g, K/stride_g)
    // rows of group g — proportional to the weights throughout
    Seq(6L, 60L, 120L, 300L).foreach { k =>
      strides.foreach { case (g, st) =>
        val inPrefix = out.count(r => r.getAs[String]("src") == g &&
          r.getAs[Long]("sched_key") <= k)
        assert(inPrefix == math.min(100L, k / st), s"prefix $k group $g")
      }
    }
    // unweighted groups are dropped, not scheduled
    val partial = Curation.mixSchedule(df, "src", Seq("id"),
      Map("s0" -> 1L))
    assert(partial.select("src").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("s0"))
  }

  test("kmvOverlap: unsaturated sketches collapse to exact set algebra") {
    def ks(r: Range) = r.map(i => s"v$i").toDF("k")
    // below k=256 distinct values the estimator IS the exact count
    val out = Curation.kmvOverlap(ks(1 to 100), "k", ks(51 to 150), "k")
      .collect().head
    assert(out.getAs[Long]("est_a") == 100L)
    assert(out.getAs[Long]("est_b") == 100L)
    assert(out.getAs[Long]("est_union") == 150L)
    assert(out.getAs[Long]("est_intersection") == 50L)
    assert(out.getAs[Long]("jaccard_permille") == 50L * 1000 / 150)
    // disjoint sets: zero intersection, zero jaccard
    val dis = Curation.kmvOverlap(ks(1 to 40), "k", ks(100 to 140), "k")
      .collect().head
    assert(dis.getAs[Long]("est_intersection") == 0L)
    assert(dis.getAs[Long]("jaccard_permille") == 0L)
    // both sides empty: all zeros, no division blowup
    val empty = Curation.kmvOverlap(ks(1 to 0), "k", ks(1 to 0), "k")
      .collect().head
    assert((0 until 5).forall(i => empty.getLong(i) == 0L))
    // saturated sketches stay within the 1/sqrt(k) error envelope
    val big = Curation.kmvOverlap(ks(1 to 3000), "k", ks(1501 to 4500), "k",
      k = 256).collect().head
    assert(math.abs(big.getAs[Long]("est_intersection") - 1500L) < 450)
    assert(math.abs(big.getAs[Long]("est_union") - 4500L) < 900)
  }

  test("kmeans assigns duplicate vectors to the same cluster and converges") {
    val base = Array.tabulate(8)(c => Array.tabulate(4)(d =>
      if (d == c % 4) 1.0f else 0.01f * c))
    val rows = (0 until 8).map(i => (i.toLong, base(i).toSeq)) ++
      (8 until 24).map(i => (i.toLong, base(i % 8).toSeq)) // exact copies
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.kmeans(df, "vec_id", "embedding", k = 8, iters = 2,
      dim = 4).collect()
    assert(out.length == 24)
    val byCluster = out.map(r =>
      r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    // every copy lands with its original
    (8 until 24).foreach(i => assert(byCluster(i.toLong) == byCluster(i % 8L)))
    // cos_sim to the assigned centroid is near 1 for pure one-hot dims
    out.foreach(r => assert(r.getAs[Double]("cos_sim") > 0.2))
  }

  test("rakePhrases: stopword/punctuation splits, case, empties") {
    import org.apache.spark.sql.functions.col
    val ph = Seq("Deep Learning of large models, and data-driven work is key")
      .toDF("t").select(Curation.rakePhrases(col("t")))
      .collect().head.getSeq[String](0)
    // 'of'/'and'/'is' + ','/'-' all delimit; case folds; no empties
    assert(ph == Seq("deep learning", "large models", "data",
      "driven work", "key"))
    // a stopword never survives inside a phrase, nor as one
    assert(!ph.exists(p => p.split(" ").exists(Curation.rakeStopwords.contains)))
    // 'that' in 'thatch' must NOT delimit (\b anchoring)
    val keep = Seq("thatch roof").toDF("t")
      .select(Curation.rakePhrases(col("t")))
      .collect().head.getSeq[String](0)
    assert(keep == Seq("thatch roof"))
  }

  test("rakePhrases: native single pass ≡ two-regex chain, adversarial") {
    import org.apache.spark.sql.functions.col
    // hand-picked traps: underscores (word chars the punct class eats,
    // shifting \b), digits fused to stopwords, unicode, punct runs,
    // stopwords at edges, empty/whitespace-only
    val traps = Seq(
      "the_data is key", "a1 the9 of data", "café the résumé",
      "deep--learning,,of;;models", "the", " the ", "", "   ",
      "THE Deep OF Learning", "x_the_y", "9the the9 the",
      "data_driven and model-driven")
    val rnd = new scala.util.Random(11)
    val alphabet = "abt hedofz019_-.,!éΔ "
    val fuzz = (1 to 300).map(_ => (1 to (1 + rnd.nextInt(40)))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    val rows = (traps ++ fuzz).toDF("t")
      .select(Curation.rakePhrases(col("t")).as("fast"),
        Curation.rakePhrasesChain(col("t")).as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"native ${r.getSeq[String](0)} vs chain ${r.getSeq[String](1)}")
    }
    // and the native pass stays inside whole-stage codegen
    val plan = TestSpark.spark.range(1)
      .select(Curation.rakePhrases(col("id").cast("string")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), plan)
  }

  test("rakeKeywords: multiword phrases outrank frequent singletons") {
    val df = Seq(
      (1L, "deep learning models and deep learning pipelines. noise"),
      (2L, "deep learning models for the web. other noise"),
      (3L, "noise alone")).toDF("doc_id", "text")
    val out = Curation.rakeKeywords(df, "text", "doc_id", k = 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("phrase"))
      .toMap
    // the 3-word run beats 'noise' (deg rewards co-occurrence length)
    assert(out(1L) == "deep learning models")
    assert(out(2L) == "deep learning models")
    assert(out(3L) == "noise alone")
    // scores are identical for identical phrases (corpus-level stats)
    val scores = Curation.rakeKeywords(df, "text", "doc_id", k = 1)
      .collect().map(r => r.getAs[String]("phrase") -> r.getAs[Long]("score"))
    assert(scores.filter(_._1 == "deep learning models").map(_._2)
      .distinct.length == 1)
  }

  test("hll sketch: byte path ≡ hex-string spec, merge is max, estimate sane") {
    import org.apache.spark.sql.graft.HllSketch
    // the md5-byte fast path must agree with the strpos-hex form the
    // SQL oracle computes, value for value
    (0 until 500).foreach { i =>
      val v = s"value-$i"
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(HllSketch.regRho(v) == HllSketch.regRhoHex(hex), v)
    }
    // distributed registers = per-value max, regardless of partitioning
    val n = 2000
    val df = spark.range(n).select(concat(lit("u"), col("id")).as("v"))
      .repartition(13)
    val regs = Curation.hllRegisters(df, "v")
      .collect().map(r => r.getAs[Long]("register") -> r.getAs[Long]("rho"))
      .toMap
    val expected = (0 until n).map(i => HllSketch.regRho(s"u$i"))
      .groupBy(_._1).map { case (k, v) => k.toLong -> v.map(_._2).max.toLong }
    assert(regs == expected)
    // raw estimator lands near the truth (m=256 → ~6% stderr; allow 4σ)
    val est = Curation.hllEstimates(df.withColumn("k", lit("all")), "k", "v")
      .head()
    val e = est.getAs[Long]("est_distinct")
    assert(math.abs(e - n) < n / 4, s"estimate $e for true $n")
    assert(est.getAs[Long]("n_zero") == 256 - expected.size)
  }

  test("f2Sketch one-pass aggregate ≡ the k-way explode formulation") {
    // the r12 formulation, restated: explode k ways, sign from the md5
    // first-nibble parity, groupBy(j) — the typed aggregate must produce
    // the SAME Z_j bit for bit (same hash convention, no row blow-up)
    val rows = (1L to 500L).flatMap(u =>
      Seq.fill(if (u % 7 == 0) 3 else 1)(u)).toDF("user_id")
      .repartition(7) // sums must be partitioning-independent
    val k = 8
    val explodeZ = rows
      .select(col("user_id").cast("string").as("v"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select(col("j"),
        when(expr("CAST(conv(substr(md5(concat(j, ':', v)), 1, 1), 16, 10)" +
          " AS INT) % 2 = 0"), lit(1L)).otherwise(lit(-1L)).as("s"))
      .groupBy(col("j")).agg(sum(col("s")).cast("long").as("z"))
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val aggZ = Curation.f2Sketch(rows, "user_id", k)
      .collect().map(r => r.getAs[Long]("j") -> r.getAs[Long]("z")).toMap
    assert(aggZ == explodeZ)
    // nulls are SKIPPED (equi-join semantics): adding null rows must not
    // move any Z_j — the r12 explode mapped them to a constant −1
    val withNulls = rows.unionAll(
      spark.range(50).select(lit(null).cast("long").as("user_id")))
    val nullZ = Curation.f2Sketch(withNulls, "user_id", k)
      .collect().map(r => r.getAs[Long]("j") -> r.getAs[Long]("z")).toMap
    assert(nullZ == aggZ)
  }

  test("f2Sketch median tracks exact F2; cmJoinSize never undercounts") {
    // skewed frequencies: a few hot users dominate F2
    val rows = (1L to 400L).flatMap(u =>
      Seq.fill(if (u <= 5) 40 else 1)(u)).toDF("user_id")
    val exact = rows.groupBy("user_id").count()
      .agg(sum(expr("count * count"))).head().getLong(0)
    val ests = Curation.f2Sketch(rows, "user_id", k = 8)
      .collect().map(_.getAs[Long]("f2_est")).sorted
    val median = ests(ests.length / 2)
    // AMS stderr at k=8 is ~50% — assert the right order of magnitude
    assert(median > exact / 4 && median < exact * 4,
      s"median $median vs exact $exact")

    val a = (1L to 300L).toDF("user_id")
    val b = (200L to 500L).flatMap(u => Seq.fill(2)(u)).toDF("user_id")
    val est = Curation.cmJoinSize(a, "user_id", b, "user_id")
      .head().getAs[Long]("est_join_size")
    val exactJoin = a.join(b, "user_id").count()
    assert(exactJoin == 202L) // 200..300 shared, ×2 copies on b
    // CM inner product never undercounts (collision terms only add)
    assert(est >= exactJoin, s"est $est under exact $exactJoin")
    assert(est < exactJoin * 3, s"est $est implausibly high")
  }

  test("relativeFilter: null keys are their own stratum, never vanished") {
    val df = Seq(
      (1L, Some("a"), 10L), (2L, Some("a"), 20L), (3L, Some("a"), 30L),
      (4L, None, 5L), (5L, None, 50L))
      .toDF("doc_id", "source", "score")
    val kept = Curation.relativeFilter(df, "source", "score")
      .select("doc_id").as[Long].collect().toSet
    // 'a' median = 20 → keep 2, 3; null median = 27.5 → keep 5
    assert(kept == Set(2L, 3L, 5L))
  }

  test("lmScoresLoaded: unseen bigrams score under add-one smoothing") {
    val train = Seq((1L, "a b a b"), (2L, "b c")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-lm").toString
    Curation.writeLm(train, "text", tmp)
    // training corpus scores IDENTICALLY to the in-memory form
    val mem = Curation.lmScores(train, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("lm_score")).toMap
    val loaded = Curation.lmScoresLoaded(spark, tmp, train, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("lm_score")).toMap
    assert(mem == loaded)
    // NEW doc with one seen bigram (a b: c2=2, c1(a)=2, V=3 →
    // 3e9 div 5) and one unseen (b z: c2=0, c1(b)=3 → 1e9 div 6)
    val fresh = Seq((9L, "a b z")).toDF("doc_id", "text")
    val row = Curation.lmScoresLoaded(spark, tmp, fresh, "text", "doc_id")
      .head()
    assert(row.getAs[Long]("n_bigrams") == 2L)
    assert(row.getAs[Long]("lm_score") ==
      3000000000L / 5 + 1000000000L / 6)
  }

  test("LM merge: half+half ≡ full train, crash recovery, exactly-once") {
    val d = Seq((1L, "a b a"), (2L, "b c d"), (3L, "a b c"), (4L, "d d a"))
      .toDF("doc_id", "text")
    def scores(path: String): Map[Long, Long] =
      Curation.lmScoresLoaded(spark, path, d, "text", "doc_id")
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("lm_score")).toMap
    val full = java.nio.file.Files.createTempDirectory("graft-lm-f").toString
    Curation.writeLm(d, "text", full)
    val expected = scores(full)
    // crash AFTER the manifest → recovery completes the merge
    val p = java.nio.file.Files.createTempDirectory("graft-lm-c").toString
    Curation.writeLm(d.filter(col("doc_id") <= 2), "text", p)
    val staging = Curation.stageLmMerge(spark, p,
      d.filter(col("doc_id") > 2), "text")
    assert(new java.io.File(s"$staging/_manifest.json").exists())
    Curation.recoverLm(spark, p)
    assert(scores(p) == expected)
    assert(!new java.io.File(staging).exists())
    // exactly-once: a replayed batch id must not double the counts
    val q = java.nio.file.Files.createTempDirectory("graft-lm-e").toString
    Curation.writeLm(d.filter(col("doc_id") <= 2), "text", q)
    Curation.mergeLm(spark, q, d.filter(col("doc_id") > 2), "text",
      batchId = Some(3L))
    Curation.mergeLm(spark, q, d.filter(col("doc_id") > 2), "text",
      batchId = Some(3L)) // replay
    assert(scores(q) == expected)
    // FIRST-batch replay: the build records its batch id atomically
    // with the meta (its last write), so a redelivered first batch that
    // takes the merge path is a no-op, never a double-count
    val fb = java.nio.file.Files.createTempDirectory("graft-lm-fb").toString
    Curation.writeLm(d, "text", fb, batchId = Some(0L))
    Curation.mergeLm(spark, fb, d, "text", batchId = Some(0L)) // replay
    assert(scores(fb) == expected)
  }

  test("LM delete: subtraction ≡ never-trained, over-delete refused") {
    val d = Seq((1L, "a b a"), (2L, "b c d"), (3L, "a b c"), (4L, "d d a"))
      .toDF("doc_id", "text")
    val keep = d.filter(col("doc_id") <= 2)
    def scores(path: String): Map[Long, Long] =
      Curation.lmScoresLoaded(spark, path, keep, "text", "doc_id")
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("lm_score")).toMap
    // truth: a model that never saw docs 3 and 4
    val t = java.nio.file.Files.createTempDirectory("graft-lm-dt").toString
    Curation.writeLm(keep, "text", t)
    val expected = scores(t)
    // train on everything, subtract 3 and 4 → identical tables
    val p = java.nio.file.Files.createTempDirectory("graft-lm-dd").toString
    Curation.writeLm(d, "text", p)
    Curation.deleteFromLm(spark, p, d.filter(col("doc_id") > 2), "text")
    assert(scores(p) == expected)
    def table(path: String, sub: String): Map[Seq[Any], Long] =
      spark.read.parquet(s"$path/$sub").collect()
        .map(r => r.toSeq.init -> r.getLong(r.length - 1)).toMap
    assert(table(p, "bigrams") == table(t, "bigrams"))
    assert(table(p, "unigrams") == table(t, "unigrams"))
    // deleting text never trained on: refused, nothing committed
    val before = scores(p)
    intercept[IllegalArgumentException] {
      Curation.deleteFromLm(spark, p,
        Seq((9L, "zz qq zz")).toDF("doc_id", "text"), "text")
    }
    assert(scores(p) == before)
    assert(!new java.io.File(s"$p").listFiles()
      .exists(_.getName.startsWith("_staging_")))
  }

  test("goodTuring: hand-checked frequency-of-frequencies and r*") {
    // counts: a×3, b×2, c×2, d,e,f ×1  →  N_1=3, N_2=2, N_3=1
    val df = Seq("a a a b b", "c c d e f").toDF("text")
    val rows = Curation.goodTuring(df, "text").collect()
      .map(r => r.getAs[Long]("r") ->
        (r.getAs[Long]("n_r"), r.getAs[Long]("r_star_ppm"),
          r.getAs[Long]("p_unseen_ppb"))).toMap
    // r* (ppm): r=1 → 2·N_2/N_1 = 2·2/3; r=2 → 3·N_3/N_2 = 3/2; r=3 → 0
    assert(rows(1L) == ((3L, 1333333L, 300000000L))) // 3/10 tokens unseen mass
    assert(rows(2L) == ((2L, 1500000L, 300000000L)))
    assert(rows(3L) == ((1L, 0L, 300000000L)))
  }

  test("ngramNovelty: novel vs reference-covered grams, short docs") {
    val ref = Seq((10L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the quick brown fox jumps"), // fully covered → 0 novel
      (2L, "the quick brown cat sits"),  // shares 1 of 3 grams
      (3L, "hi"))                        // < n tokens → whole-text gram
      .toDF("doc_id", "text")
    val out = Curation.ngramNovelty(docs, ref, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Long]("novelty_pct"))).toMap
    assert(out(1L) == ((3L, 0L, 0L)))
    assert(out(2L) == ((3L, 2L, 66L)))
    assert(out(3L) == ((1L, 1L, 100L)))
  }

  test("exactQuantiles: rank selection hits the exact order statistics") {
    val spark2 = TestSpark.spark
    import spark2.implicits._
    // values 10..1000 step 10 (n=100): p50 = rank 50 = 500; p1 = rank 1
    // = 10; p99 = rank 99 = 990; p100 = rank 100 = 1000
    val df = (1 to 100).map(i => (i.toLong * 10, i.toLong)).toDF("v", "id")
    val out = Curation.exactQuantiles(df, "v", "id", Seq(1, 50, 99, 100))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out == Map(1L -> ((10L, 1L)), 50L -> ((500L, 50L)),
      99L -> ((990L, 99L)), 100L -> ((1000L, 100L))))
    // empty input → empty result, no division mishaps
    assert(Curation.exactQuantiles(df.limit(0), "v", "id", Seq(50))
      .collect().isEmpty)
    intercept[IllegalArgumentException](
      Curation.exactQuantiles(df, "v", "id", Seq(0)))
    intercept[IllegalArgumentException](
      Curation.exactQuantiles(df, "v", "id", Seq(50, 50)))
  }

  test("dupRateByGroup / sourceOverlap: hand-checked provenance audits") {
    val df = Seq(("s1", "a"), ("s1", "a"), ("s1", "b"), ("s2", "a"),
      ("s2", "c"), ("s3", "z")).toDF("src", "t")
    val dup = Curation.dupRateByGroup(df, "t", "src").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(dup("s1") == ((3L, 2L, 1L, 333L)))
    assert(dup("s2") == ((2L, 2L, 0L, 0L)))
    assert(dup("s3") == ((1L, 1L, 0L, 0L)))
    val ov = Curation.sourceOverlap(df, "t", "src")
      .select("g_a", "g_b", "n_common", "n_a", "n_b",
        "jaccard_permille")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // s1 ∩ s2 = {a}: |s1|=2, |s2|=2 → jaccard 1000/3 = 333‰
    assert(ov(("s1", "s2")) == ((1L, 2L, 2L, 333L)))
    assert(ov.size == 1) // zero-overlap pairs absent by construction
  }

  test("withGroupRank ≡ per-group window truth; rankNormalize edges") {
    import graft.operators.DistributedOrder
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map(i =>
      (s"g${i % 7}", rnd.nextInt(40).toLong, i.toLong))
    val df = rows.toDF("g", "v", "id").repartition(13)
    val got = DistributedOrder.withGroupRank(df, "r", Seq("g"),
        col("v").asc, col("id").asc)
      .select(col("g"), col("id"), col("r")).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
    val truth = df.withColumn("r", row_number().over(
        Window.partitionBy(col("g")).orderBy(col("v").asc, col("id").asc))
        .cast("long"))
      .select(col("g"), col("id"), col("r")).collect()
      .map(x => (x.getString(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(got == truth)
    // rankNormalize: min → 0‰, max → 1000‰, singleton group → NULL
    val rn = Curation.rankNormalize(
      Seq(("a", 5L, 1L), ("a", 9L, 2L), ("a", 7L, 3L), ("b", 4L, 4L))
        .toDF("g", "v", "id"),
      "rnk", "pm", Seq("g"), col("v").asc, col("id").asc)
      .collect().map(x => x.getAs[Long]("id") ->
        (x.getAs[Long]("rnk"), if (x.isNullAt(x.fieldIndex("pm"))) -1L
          else x.getAs[Long]("pm"))).toMap
    assert(rn(1L) == ((1L, 0L)) && rn(3L) == ((2L, 500L)) &&
      rn(2L) == ((3L, 1000L)))
    assert(rn(4L) == ((1L, -1L))) // singleton: NULL out loud
    // engine passes are leak-free (output = input + the new column),
    // so they compose — prCurve nests two exclusive sums
    val clean = DistributedOrder.withGlobalRank(
      df.select(col("v"), col("id")), "r", col("v").asc, col("id").asc)
    assert(clean.columns.toSeq == Seq("v", "id", "r"), clean.columns.toSeq)
  }

  test("prCurve: threshold sweep, confusion counts, exclusions") {
    val df = Seq(
      ("1", 9L), ("0", 9L),  // top tie group
      ("1", 7L),
      ("yes", 7L),           // non-binary label → excluded at t=7
      ("0", 5L), ("1", 5L)
    ).toDF("y", "s")
    val r = Curation.prCurve(df, "y", "s").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6),
        x.getLong(7), x.getLong(8))).toMap
    // P = 3. (n_predicted, tp, fp, fn, n_excl, prec, rec, f1)
    assert(r(9L) == ((2L, 1L, 1L, 2L, 0L, 500L, 333L, 400L)))
    assert(r(7L) == ((3L, 2L, 1L, 1L, 1L, 666L, 666L, 666L)))
    assert(r(5L) == ((5L, 3L, 2L, 0L, 0L, 600L, 1000L, 750L)))
  }

  test("quantileNormalize: pooled mapping, identity, singleton median") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),
      ("b", 4L, 100L), ("b", 5L, 300L)
    ).toDF("src", "id", "v")
    // N = 5, pooled sorted: 10 20 30 100 300
    // a (n=3): r1→pos0→10, r2→(1·4)div2=2→30, r3→4→300
    // b (n=2): r1→0→10, r2→4→300
    val r = Curation.quantileNormalize(df, "src", "v", "id")
      .collect().map(x => x.getAs[Long]("id") ->
        x.getAs[Long]("norm_score")).toMap
    assert(r == Map(1L -> 10L, 2L -> 30L, 3L -> 300L,
      4L -> 10L, 5L -> 300L))
    // one group: the position arithmetic collapses to the identity
    val one = Seq(("s", 1L, 5L), ("s", 2L, 7L), ("s", 3L, 6L))
      .toDF("src", "id", "v")
    val ri = Curation.quantileNormalize(one, "src", "v", "id")
      .collect().map(x => x.getAs[Long]("id") ->
        x.getAs[Long]("norm_score")).toMap
    assert(ri == Map(1L -> 5L, 2L -> 7L, 3L -> 6L))
    // singleton group → pooled median position: N=4, (N−1) div 2 = 1
    // → rank 2 of sorted (1 2 3 999) → 2
    val sg = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L),
      ("x", 9L, 999L)).toDF("src", "id", "v")
    val rs = Curation.quantileNormalize(sg, "src", "v", "id")
      .filter(col("id") === 9L).head.getAs[Long]("norm_score")
    assert(rs == 2L)
  }

  test("majorityVote: plurality, abstentions, ties out loud") {
    val df = Seq(
      (1L, "a", "a", "b"),      // a wins 2-1, margin 1
      (2L, "a", "b", null),     // 1-1 tie → winner NULL
      (3L, "x", "x", "x"),      // unanimous, margin 3 (no runner-up)
      (4L, null, null, "z")     // single vote wins
    ).toDF("id", "l1", "l2", "l3")
    val out = Curation.majorityVote(df, "id", Seq("l1", "l2", "l3"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.getString(2)), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) == ((3L, Some("a"), 2L, 1L, 0L)))
    assert(out(2L) == ((2L, None, 1L, 0L, 1L)))
    assert(out(3L) == ((3L, Some("x"), 3L, 3L, 0L)))
    assert(out(4L) == ((1L, Some("z"), 1L, 1L, 0L)))
    intercept[IllegalArgumentException](
      Curation.majorityVote(df, "id", Seq("l1")))
  }

  test("confusionMatrix: cells, row permille, nulls dropped") {
    val df = Seq(("en", "en"), ("en", "en"), ("en", "fr"), ("fr", "fr"),
      (null, "en"), ("es", null)).toDF("y", "p")
    val out = Curation.confusionMatrix(df, "y", "p").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(("en", "en")) == ((2L, 666L, 1L)))
    assert(out(("en", "fr")) == ((1L, 333L, 0L)))
    assert(out(("fr", "fr")) == ((1L, 1000L, 1L)))
    assert(out.size == 3) // null-bearing rows dropped entirely
  }

  test("kAnonymityLadder: per-level census, below-k row mass") {
    val df = Seq(
      ("en", "a", 1L), ("en", "a", 1L), ("en", "a", 2L),
      ("en", "b", 9L),
      ("fr", "a", 5L)).toDF("lang", "source", "n")
    val out = Curation.kAnonymityLadder(df, Seq(
        "exact" -> Seq(col("lang"), col("source"), col("n")),
        "langonly" -> Seq(col("lang"))), k = 2L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // exact: classes sized 2,1,1,1 → 3 rows re-identifiable at k=2
    assert(out("exact") == ((5L, 4L, 1L, 3L, 2L)))
    // lang only: en=4, fr=1 → only fr's single row below k
    assert(out("langonly") == ((5L, 2L, 1L, 1L, 2L)))
    intercept[IllegalArgumentException](
      Curation.kAnonymityLadder(df, Seq(), 2L))
    intercept[IllegalArgumentException](
      Curation.kAnonymityLadder(df, Seq(
        "a" -> Seq(col("lang")), "a" -> Seq(col("source"))), 2L))
    intercept[IllegalArgumentException](
      Curation.kAnonymityLadder(df, Seq("a" -> Seq()), 2L))
  }

  test("associationRules: hand-checked ratios, basket cap, prune") {
    // baskets: 1{x,y,z} 2{x,y} 3{x,z} 4{y} 5{w}; basket 6 has 4 items
    // (over the cap of 3) and is dropped ENTIRELY — without the drop
    // (x,y) would count 3, so the n_ab assertion proves it
    val df = (Seq(
      (1L, "x"), (1L, "y"), (1L, "z"),
      (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"),
      (4L, "y"), (4L, "y"), // duplicate incidence collapses
      (5L, "w"),
      (6L, "x"), (6L, "y"), (6L, "c"), (6L, "d"))).toDF("b", "i")
    val out = Curation.associationRules(df, "b", "i",
        maxBasketSize = 3, minPairCount = 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7))).toMap
    // 5 surviving baskets; x in 3, y in 3, z in 2
    // (x,y): n_ab=2 → support 400‰, conf 666‰, lift 2·5·1000/(3·3)=1111
    assert(out(("x", "y")) == ((3L, 3L, 2L, 400L, 666L, 1111L)))
    assert(out(("y", "x")) == ((3L, 3L, 2L, 400L, 666L, 1111L)))
    // (x,z): lift 2·5·1000/(3·2)=1666; (z,x) conf 2·1000/2=1000
    assert(out(("x", "z")) == ((3L, 2L, 2L, 400L, 666L, 1666L)))
    assert(out(("z", "x")) == ((2L, 3L, 2L, 400L, 1000L, 1666L)))
    // (y,z) count 1 < minPairCount → pruned
    assert(out.size == 4)
    intercept[IllegalArgumentException](
      Curation.associationRules(df, "b", "i", maxBasketSize = 1))
    intercept[IllegalArgumentException](
      Curation.associationRules(df, "b", "i", minPairCount = 0L))
  }
}
