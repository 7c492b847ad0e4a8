package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Retrieval}

/** BM25 retrieval, exact repeated-substring span dedup, and Bloom
  * membership — semantic properties the DuckDB gate can't express
  * (ranking sanity, layout equivalence, the no-false-negative guarantee). */
class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "spark shuffle join join join plan"),
    (2L, "join once in a very long document about other things entirely ok"),
    (3L, "merge sort merge sort merge"),
    (4L, "nothing relevant here at all"),
    (5L, "join merge join merge short")).toDF("doc_id", "text")

  test("bm25 ranks the doc matching more query terms with higher tf first") {
    val top = Retrieval.bm25TopK(corpus, "text", "doc_id",
      Seq("join", "merge"), k = 5).collect()
    // doc 5 matches both terms twice in a short doc — must win
    assert(top.head.getAs[Long]("doc_id") == 5L)
    assert(top.head.getAs[Long]("n_matched") == 2L)
    // doc 4 matches nothing — must be absent
    assert(!top.map(_.getAs[Long]("doc_id")).contains(4L))
    // higher-tf same-length beats lower-tf longer (1 over 2)
    val ids = top.map(_.getAs[Long]("doc_id")).toSeq
    assert(ids.indexOf(1L) < ids.indexOf(2L))
  }

  test("phraseSearch: consecutive-word matches only, overlaps counted") {
    def run(phrase: String*): Map[Long, Long] =
      Retrieval.phraseSearch(corpus, "text", "doc_id", phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // "merge sort" appears twice in doc 3 and nowhere else; the words
    // in the other order only once
    assert(run("merge", "sort") == Map(3L -> 2L))
    assert(run("sort", "merge") == Map(3L -> 2L)) // sort merge sort merge
    // "join merge" is consecutive only in doc 5 (twice); doc 1's words
    // are never adjacent in that order
    assert(run("join", "merge") == Map(5L -> 2L))
    // single-word phrase degenerates to term occurrence counts
    assert(run("merge") == Map(3L -> 3L, 5L -> 2L))
    // no match → empty, not an error; empty phrase rejected
    assert(run("quantum", "sort").isEmpty)
    intercept[IllegalArgumentException](run())
    // OVERLAPPING occurrences all count (every anchor position)
    val rep = Seq((9L, "a a a")).toDF("doc_id", "text")
    assert(Retrieval.phraseSearch(rep, "text", "doc_id", Seq("a", "a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
      Map(9L -> 2L))
  }

  test("persisted index path is bit-identical to the in-memory path") {
    val tmp = Files.createTempDirectory("graft-bm25-spec").toString
    Retrieval.writeIndex(corpus, "text", "doc_id", tmp, nBuckets = 4)
    val mem = Retrieval.bm25TopK(corpus, "text", "doc_id",
      Seq("join", "merge"), k = 5).collect().toSeq
    val idx = Retrieval.indexTopK(spark, tmp, Seq("join", "merge"), k = 5)
      .collect().toSeq
    assert(mem == idx)
  }

  test("mergeIndex: half-indexed + half-merged equals indexed-at-once") {
    val whole = Files.createTempDirectory("graft-bm25w").toString
    val delta = Files.createTempDirectory("graft-bm25d").toString
    Retrieval.writeIndex(corpus, "text", "doc_id", whole, nBuckets = 4)
    Retrieval.writeIndex(corpus.filter(col("doc_id") <= 2), "text",
      "doc_id", delta, nBuckets = 4)
    Retrieval.mergeIndex(spark, delta, corpus.filter(col("doc_id") > 2),
      "text", "doc_id")
    def run(path: String) =
      Retrieval.indexTopK(spark, path, Seq("join", "merge"), k = 5)
        .collect().map(_.toSeq).toSeq
    assert(run(delta) == run(whole))
    // merged stats accumulated exactly
    val st = spark.read.parquet(s"$delta/stats").head
    assert(st.getAs[Long]("n_docs") == 5L)
    assert(st.getAs[Long]("sum_dl") ==
      corpus.agg(sum(size(split(col("text"), " ")))).head.getLong(0))
    assert(st.getAs[Long]("n_buckets") == 4L)
    // empty batches are rejected, not silently no-ops
    intercept[IllegalArgumentException](
      Retrieval.mergeIndex(spark, delta, corpus.filter(col("doc_id") > 99),
        "text", "doc_id"))
  }

  test("staged index merge: a crash at any point fully applies or discards") {
    def freshIndex(): String = {
      val dir = Files.createTempDirectory("graft-bm25-crash").toString
      Retrieval.writeIndex(corpus.filter(col("doc_id") <= 2), "text",
        "doc_id", dir, nBuckets = 4)
      dir
    }
    val batch = corpus.filter(col("doc_id") > 2)
    def snapshot(path: String): (Seq[Seq[Any]], Seq[Any], Option[Long]) = (
      Retrieval.indexTopK(spark, path, Seq("join", "merge"), k = 5)
        .collect().map(_.toSeq).toSeq,
      spark.read.parquet(s"$path/stats").head.toSeq,
      Retrieval.readIndexEpoch(spark, path))

    // control: the uninterrupted merge (writeIndex gen 1, merge gen 2)
    val control = freshIndex()
    Retrieval.mergeIndex(spark, control, batch, "text", "doc_id")
    val expected = snapshot(control)
    assert(expected._3.contains(2L))

    // crash BEFORE the manifest: a reader leaves the manifest-less
    // staging (it may be a live writer mid-stage) and scores against the
    // untouched index; the next merge discards it and re-runs cleanly
    val pre = freshIndex()
    val junk = new java.io.File(s"$pre/_staging_2/postings/term_bucket=0")
    assert(junk.mkdirs())
    val untouched = snapshot(pre) // indexTopK recovers reader-safe
    assert(untouched._3.contains(1L))
    assert(new java.io.File(s"$pre/_staging_2").exists())
    Retrieval.mergeIndex(spark, pre, batch, "text", "doc_id")
    assert(snapshot(pre) == expected)
    assert(!new java.io.File(s"$pre/_staging_2").exists())

    // crash AFTER the manifest, before any swap: recovery replays all
    // three tables and commits the generation exactly once
    val post = freshIndex()
    Retrieval.stageIndexMerge(spark, post, batch, "text", "doc_id")
    assert(new java.io.File(s"$post/_staging_2/_manifest.json").exists())
    Retrieval.recoverIndexMerge(spark, post)
    assert(snapshot(post) == expected)
    assert(!new java.io.File(s"$post/_staging_2").exists())

    // crash MID-SWAP: postings buckets already renamed, terms/stats still
    // staged — the exact torn state that silently mis-scores without the
    // manifest; a plain reader self-heals it
    val mid = freshIndex()
    val staging = Retrieval.stageIndexMerge(spark, mid, batch,
      "text", "doc_id")
    def rmRec(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rmRec)
      f.delete(): Unit
    }
    new java.io.File(s"$staging/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("term_bucket="))
      .foreach { src =>
        val dest = new java.io.File(s"$mid/postings/${src.getName}")
        if (dest.exists()) rmRec(dest)
        assert(src.renameTo(dest))
      }
    assert(snapshot(mid) == expected) // indexTopK recovers committed merge
    assert(!new java.io.File(staging).exists())

    // COMMITTED merge whose staged terms table was lost with no applied
    // copy either: recovery must fail loudly, never commit postings
    // without their matching df
    val lost = freshIndex()
    val lostStaging = Retrieval.stageIndexMerge(spark, lost, batch,
      "text", "doc_id")
    rmRec(new java.io.File(s"$lostStaging/terms"))
    rmRec(new java.io.File(s"$lost/terms"))
    intercept[java.io.IOException] {
      Retrieval.recoverIndexMerge(spark, lost)
    }
  }

  test("bm25 tombstones: mask adjusts statistics, vacuum folds, guards") {
    def snapshot(path: String): (Seq[Seq[Any]], Seq[Any]) = (
      Retrieval.indexTopK(spark, path, Seq("join", "merge"), k = 5)
        .collect().map(_.toSeq).toSeq,
      spark.read.parquet(s"$path/stats").head.toSeq)
    // truth: an index never containing docs 2 and 5
    val without = Files.createTempDirectory("graft-bm25-del-t").toString
    Retrieval.writeIndex(corpus.filter(!col("doc_id").isin(2L, 5L)),
      "text", "doc_id", without, nBuckets = 4)
    val expected = snapshot(without)
    // full index, delete 2 and 5 (5 twice — dedupe by id), masked query
    // must equal the truth INCLUDING the score statistics
    val dir = Files.createTempDirectory("graft-bm25-del").toString
    Retrieval.writeIndex(corpus, "text", "doc_id", dir, nBuckets = 4)
    Retrieval.deleteFromIndex(spark, dir,
      corpus.filter(col("doc_id").isin(2L, 5L))
        .unionAll(corpus.filter(col("doc_id") === 5L)), "text", "doc_id")
    assert(snapshot(dir)._1 == expected._1)
    // vacuum: one staged generation; results, stats and df now equal
    // the never-contained index; tombstones folded away; replay no-ops
    assert(Retrieval.vacuumIndex(spark, dir) > 0L)
    assert(snapshot(dir) == expected)
    assert(!new java.io.File(s"$dir/_tombstones").exists())
    assert(Retrieval.vacuumIndex(spark, dir) == 0L)
    val dfLive = spark.read.parquet(s"$dir/terms")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dfTruth = spark.read.parquet(s"$without/terms")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dfLive == dfTruth)
    // a second delete after vacuum works (append into the emptied table)
    Retrieval.deleteFromIndex(spark, dir,
      corpus.filter(col("doc_id") === 4L), "text", "doc_id")
    assert(Retrieval.vacuumIndex(spark, dir) > 0L)
    // deleting a never-indexed id: vacuum refuses LOUDLY (a silent
    // apply would skew n_docs/sum_dl/df forever)
    Retrieval.deleteFromIndex(spark, dir,
      Seq((99L, "ghost words")).toDF("doc_id", "text"), "text", "doc_id")
    intercept[IllegalArgumentException] {
      Retrieval.vacuumIndex(spark, dir)
    }
    // rebuild clears deletion state (bad tombstones included)
    Retrieval.writeIndex(corpus, "text", "doc_id", dir, nBuckets = 4)
    assert(!new java.io.File(s"$dir/_tombstones").exists())
  }

  test("bm25 tombstones: zero-token doc deletes without wedging vacuum") {
    // a legitimately indexed TOKENLESS document (null text — explode
    // emits no postings for it) is counted in n_docs yet owns no
    // postings rows — deleting it must not trip vacuum's
    // never-indexed-id guard (its tombstone carries a null/0 dl and
    // legitimately matches zero postings)
    val withEmpty = corpus.unionAll(
      Seq((6L, Option.empty[String])).toDF("doc_id", "text"))
    val truth = Files.createTempDirectory("graft-bm25-zt-t").toString
    Retrieval.writeIndex(corpus, "text", "doc_id", truth, nBuckets = 4)
    val dir = Files.createTempDirectory("graft-bm25-zt").toString
    Retrieval.writeIndex(withEmpty, "text", "doc_id", dir, nBuckets = 4)
    assert(spark.read.parquet(s"$dir/stats").head
      .getAs[Long]("n_docs") == 6L)
    Retrieval.deleteFromIndex(spark, dir,
      withEmpty.filter(col("doc_id") === 6L), "text", "doc_id")
    def top(path: String): Seq[Seq[Any]] =
      Retrieval.indexTopK(spark, path, Seq("join", "merge"), k = 5)
        .collect().map(_.toSeq).toSeq
    // masked query already equals the never-contained index (the
    // zero-token doc affects scores only through n_docs/avgdl)
    assert(top(dir) == top(truth))
    // vacuum folds the stats (0 postings removed — the doc owned none)
    assert(Retrieval.vacuumIndex(spark, dir) == 0L)
    assert(spark.read.parquet(s"$dir/stats").head.toSeq ==
      spark.read.parquet(s"$truth/stats").head.toSeq)
    assert(!new java.io.File(s"$dir/_tombstones").exists())
    assert(top(dir) == top(truth))
  }

  test("failed rebuild preserves tombstones (deletions not resurrected)") {
    val empty = corpus.filter(col("doc_id") < 0L)
    // BM25: delete a doc, then attempt a rebuild that fails validation —
    // the old index must stay live WITH its deletion still masking
    val dir = Files.createTempDirectory("graft-bm25-failrb").toString
    Retrieval.writeIndex(corpus, "text", "doc_id", dir, nBuckets = 4)
    Retrieval.deleteFromIndex(spark, dir,
      corpus.filter(col("doc_id") === 5L), "text", "doc_id")
    intercept[IllegalArgumentException] {
      Retrieval.writeIndex(empty, "text", "doc_id", dir, nBuckets = 4)
    }
    assert(new java.io.File(s"$dir/_tombstones").exists())
    assert(!Retrieval.indexTopK(spark, dir, Seq("join", "merge"), k = 5)
      .collect().map(_.getAs[Long]("doc_id")).contains(5L))
    // positional: same contract
    val pdir = Files.createTempDirectory("graft-pos-failrb").toString
    Retrieval.writePositionalIndex(corpus, "text", "doc_id", pdir,
      nBuckets = 4)
    Retrieval.deleteFromPositionalIndex(spark, pdir, Seq(5L))
    intercept[IllegalArgumentException] {
      Retrieval.writePositionalIndex(empty, "text", "doc_id", pdir,
        nBuckets = 4)
    }
    assert(new java.io.File(s"$pdir/_tombstones").exists())
    assert(!Retrieval.indexPhraseSearch(spark, pdir, Seq("join", "merge"))
      .collect().map(_.getLong(0)).contains(5L))
  }

  test("forgetDocuments: one call fans out; retry clean except LM's refusal") {
    import graft.operators.{Forget, ForgetTargets, Curation}
    val base = Files.createTempDirectory("graft-forget").toString
    Retrieval.writeIndex(corpus, "text", "doc_id", s"$base/bm25",
      nBuckets = 4)
    Retrieval.writePositionalIndex(corpus, "text", "doc_id", s"$base/pos",
      nBuckets = 4)
    Curation.writeLm(corpus, "text", s"$base/lm")
    val targets = ForgetTargets(bm25 = Seq(s"$base/bm25"),
      positional = Seq(s"$base/pos"), ngramLm = Seq(s"$base/lm"))
    val gone = corpus.filter(col("doc_id") === 5L)
    val applied = Forget.forgetDocuments(spark, gone, "text", "doc_id",
      targets)
    assert(applied == Seq(s"bm25:$base/bm25", s"positional:$base/pos",
      s"lm:$base/lm"))
    // every artifact answers as if doc 5 never existed
    assert(!Retrieval.indexTopK(spark, s"$base/bm25",
        Seq("join", "merge"), k = 5)
      .collect().map(_.getAs[Long]("doc_id")).contains(5L))
    assert(!Retrieval.indexPhraseSearch(spark, s"$base/pos",
        Seq("join", "merge"))
      .collect().map(_.getLong(0)).contains(5L))
    // a full replay refuses LOUDLY at the LM (delete-once), leaving the
    // idempotent tombstone artifacts untouched by the double-append
    intercept[IllegalArgumentException] {
      Forget.forgetDocuments(spark, gone, "text", "doc_id", targets)
    }
    // a retry WITHOUT the already-landed LM is clean (the documented
    // crash-recovery move), and vacuum folds everything tombstoned
    Forget.forgetDocuments(spark, gone, "text", "doc_id",
      targets.copy(ngramLm = Nil))
    val removed = Forget.vacuumForgotten(spark, targets)
    assert(removed.values.forall(_ > 0L), removed)
    assert(!Retrieval.indexTopK(spark, s"$base/bm25",
        Seq("join", "merge"), k = 5)
      .collect().map(_.getAs[Long]("doc_id")).contains(5L))
  }

  test("positional tombstones: mask, vacuum, full-delete stays readable") {
    val dir = Files.createTempDirectory("graft-pos-del").toString
    Retrieval.writePositionalIndex(corpus, "text", "doc_id", dir,
      nBuckets = 4)
    def hits(): Map[Long, Long] =
      Retrieval.indexPhraseSearch(spark, dir, Seq("join", "merge"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = hits()
    assert(before.contains(5L)) // "join merge join merge short"
    // delete doc 5 (twice — dedupe): masked immediately
    Retrieval.deleteFromPositionalIndex(spark, dir, Seq(5L, 5L))
    val masked = hits()
    assert(masked == before - 5L)
    // vacuum folds; view unchanged; tombstones folded away; replay
    // no-ops
    assert(Retrieval.vacuumPositionalIndex(spark, dir) > 0L)
    assert(hits() == masked)
    assert(!new java.io.File(s"$dir/_tombstones").exists())
    assert(Retrieval.vacuumPositionalIndex(spark, dir) == 0L)
    assert(!new java.io.File(s"$dir/_tombstones").exists())
    // delete every remaining doc: index stays readable and empty, no
    // root-level parquet file lands next to the partition directories
    Retrieval.deleteFromPositionalIndex(spark, dir,
      corpus.select(col("doc_id")))
    assert(Retrieval.vacuumPositionalIndex(spark, dir) > 0L)
    assert(hits().isEmpty)
    val posRoot = new java.io.File(s"$dir/positions")
    assert(!posRoot.listFiles().exists(f =>
      f.isFile && f.getName.endsWith(".parquet")),
      posRoot.listFiles().map(_.getName).toSeq)
    // rebuild clears deletion state
    Retrieval.writePositionalIndex(corpus, "text", "doc_id", dir,
      nBuckets = 4)
    assert(hits() == before)
  }

  test("rrfFuse: consensus outranks single-source; exact integer scores") {
    def lst(pairs: (Long, Int)*) =
      pairs.toSeq.toDF("id", "rnk")
    // doc 7 is rank 2 in BOTH lists; docs 1 and 9 are rank 1 in one each
    val fused = Retrieval.rrfFuse(Seq(
      lst(1L -> 1, 7L -> 2, 3L -> 3),
      lst(9L -> 1, 7L -> 2, 4L -> 3)), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fused.head._1 == 7L) // 2/(60+2) beats 1/(60+1)
    assert(fused.head._2 == 2L * (1000000000L / 62L))
    assert(fused.head._3 == 2L) // n_sources
    // single-source rank-1 docs tie on score -> id ascending
    assert(fused(1)._1 == 1L && fused(2)._1 == 9L)
    assert(fused(1)._2 == 1000000000L / 61L)
    intercept[IllegalArgumentException](Retrieval.rrfFuse(Nil, 5))
  }

  test("index stats record the bucket count; query reads it back") {
    val tmp = Files.createTempDirectory("graft-bm25-meta").toString
    Retrieval.writeIndex(corpus, "text", "doc_id", tmp, nBuckets = 7)
    val st = spark.read.parquet(s"$tmp/stats").head
    assert(st.getAs[Long]("n_buckets") == 7L)
    // still correct through an unusual bucket count
    val top = Retrieval.indexTopK(spark, tmp, Seq("join"), k = 1).collect()
    assert(top.head.getAs[Long]("doc_id") == 1L)
  }

  test("duplicateSpans removes planted repeats and leaves unique docs alone") {
    val rep = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"
    val docs = Seq(
      (1L, s"alpha unique words here one $rep tail1 t1 t2 t3"),
      (2L, s"totally different beginning here two $rep tail2 u1 u2 u3"),
      (3L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10 n11 n12")).toDF("doc_id", "text")
    val out = Curation.duplicateSpans(docs, "text", "doc_id", n = 10)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_dup_words"), r.getAs[String]("clean_text"))).toMap
    assert(out(3L)._1 == 0L)
    assert(out(3L)._2 == "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10 n11 n12")
    // the shared 10-gram is removed from both carriers, the rest kept
    assert(out(1L)._1 == 10L)
    assert(out(1L)._2 == "alpha unique words here one tail1 t1 t2 t3")
    assert(out(2L)._1 == 10L)
    assert(out(2L)._2 == "totally different beginning here two tail2 u1 u2 u3")
  }

  test("duplicateSpans: doc shorter than the gram width passes through") {
    val docs = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val out = Curation.duplicateSpans(docs, "text", "doc_id", n = 10)
      .collect()
    assert(out.forall(_.getAs[Long]("n_dup_words") == 0L))
    assert(out.forall(_.getAs[String]("clean_text") == "a b c"))
  }

  test("bloom probe has no false negatives and flags bits deterministically") {
    val members = (1L to 300L).map(i => s"key-$i").toDF("v")
    val bloom = Curation.bloomBuild(members, "v", mBits = 4096, k = 2)
    val probe = (1L to 600L).map(i => s"key-$i").toDF("v")
    val out = Curation.bloomProbe(probe, "v", bloom, mBits = 4096, k = 2)
      .collect().map(r => r.getAs[String]("v") ->
        r.getAs[Long]("maybe_member")).toMap
    // every member must be flagged — the Bloom guarantee
    (1L to 300L).foreach(i => assert(out(s"key-$i") == 1L, s"key-$i"))
    // filter is not saturated: most non-members pass
    val fp = (301L to 600L).count(i => out(s"key-$i") == 1L)
    assert(fp < 60, s"false positives: $fp of 300")
    // deterministic: rebuilding gives the same filter bits
    val again = Curation.bloomBuild(members, "v", mBits = 4096, k = 2)
    assert(bloom.collect().toSet == again.collect().toSet)
  }

  test("bloom parameters are validated") {
    val df = Seq("a").toDF("v")
    intercept[IllegalArgumentException] {
      Curation.bloomBuild(df, "v", mBits = 100, k = 2)
    }
    intercept[IllegalArgumentException] {
      Curation.bloomBuild(df, "v", mBits = 4096, k = 9)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(df.withColumn("id", lit(1L)), "v", "id", Nil, 3)
    }
  }

  test("nearSearch: window boundary pairs, bin-edge pairs, no dupes") {
    val docs = Seq(
      // data@1, data@5; table@4, table@7 → |1-4|=3 in, |1-7|=6 out,
      // |5-4|=1 in, |5-7|=2 in (window boundary |Δ|=3 INCLUDED)
      (1L, "x data y z table data q table"),
      // straddles the bin edge at p=2/3 (bins of width 3): |2-3|=1
      (2L, "a b data table c"),
      (3L, "data only here"),       // other term absent → no row
      (4L, "table far away x y z w q data") // |1-7|... table@0, data@7 → 7 out
    ).toDF("doc_id", "text")
    val out = Retrieval.nearSearch(docs, "text", "doc_id",
        "data", "table", window = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("min_distance"))).toMap
    assert(out == Map(1L -> ((3L, 1L)), 2L -> ((1L, 1L))))
    intercept[IllegalArgumentException] {
      Retrieval.nearSearch(docs, "text", "doc_id", "data", "data", 3)
    }
    intercept[IllegalArgumentException] {
      Retrieval.nearSearch(docs, "text", "doc_id", "data", "table", 0)
    }
  }

  test("indexPhraseSearch ≡ phraseSearch; bucket prune + word pushdown") {
    val docs = Seq(
      (1L, "left hash join and hash join again"),
      (2L, "hash only"), (3L, "join hash reversed"),
      (4L, "hash join once")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-pos").toString
    Retrieval.writePositionalIndex(docs, "text", "doc_id", tmp,
      nBuckets = 8)
    val mem = Retrieval.phraseSearch(docs, "text", "doc_id",
      Seq("hash", "join")).as[(Long, Long)].collect().toMap
    val idx = Retrieval.indexPhraseSearch(spark, tmp, Seq("hash", "join"))
    assert(idx.as[(Long, Long)].collect().toMap == mem)
    assert(mem == Map(1L -> 2L, 4L -> 1L))
    // the layout's point: term buckets prune as partition filters and
    // the word equality reaches the parquet scan
    val plan = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out)) {
        idx.explain("formatted")
      }
      out.toString
    }
    assert(plan.contains("word_bucket"), plan)
    assert(plan.contains("PushedFilters") && plan.contains("word"), plan)
  }

  test("positional merge: half+half ≡ full build, crash recovery, exactly-once") {
    val d = (0L until 20L).map(i =>
      (i, if (i % 3 == 0) "hash join here" else "no phrase here"))
      .toDF("doc_id", "text")
    def results(path: String): Map[Long, Long] =
      Retrieval.indexPhraseSearch(spark, path, Seq("hash", "join"))
        .as[(Long, Long)].collect().toMap
    val full = java.nio.file.Files.createTempDirectory("graft-pm-f").toString
    Retrieval.writePositionalIndex(d, "text", "doc_id", full, nBuckets = 4)
    val expected = results(full)
    assert(expected.nonEmpty)
    // crash AFTER the manifest, before any swap → recovery completes it
    val p = java.nio.file.Files.createTempDirectory("graft-pm-c").toString
    Retrieval.writePositionalIndex(d.filter(col("doc_id") < 10), "text",
      "doc_id", p, nBuckets = 4)
    val staging = Retrieval.stagePositionalMerge(spark, p,
      d.filter(col("doc_id") >= 10), "text", "doc_id")
    assert(new java.io.File(s"$staging/_manifest.json").exists())
    Retrieval.recoverPositionalIndex(spark, p)
    assert(results(p) == expected)
    assert(!new java.io.File(staging).exists())
    // exactly-once: replaying an already-committed batch id is a no-op
    val q = java.nio.file.Files.createTempDirectory("graft-pm-e").toString
    Retrieval.writePositionalIndex(d.filter(col("doc_id") < 10), "text",
      "doc_id", q, nBuckets = 4)
    Retrieval.mergePositionalIndex(spark, q, d.filter(col("doc_id") >= 10),
      "text", "doc_id", batchId = Some(7L))
    Retrieval.mergePositionalIndex(spark, q, d.filter(col("doc_id") >= 10),
      "text", "doc_id", batchId = Some(7L)) // replay
    assert(results(q) == expected) // double-merge would double n_occurrences
  }

  test("rankingEval: reciprocal ranks, hits@k, and whiffed queries emit") {
    // q1: relevant doc 20 at rank 2 → rr 500000, hits 2 (docs 20, 30)
    // q2: nothing relevant ranked → best_rank 0, rr 0 — the row must
    //     still appear (silent drop would overstate MRR)
    // q3: present only in RESULTS (zero relevance judgments) — must
    //     emit an n_rel=0 row, not vanish: a caller averaging rr_ppm
    //     over output rows would otherwise overstate MRR, the
    //     mirror-image of the q2 bug
    val results = Seq(
      ("q1", 10L, 1L), ("q1", 20L, 2L), ("q1", 30L, 3L),
      ("q2", 10L, 1L), ("q3", 40L, 1L)).toDF("query_id", "doc_id", "rank")
    val qrels = Seq(
      ("q1", 20L), ("q1", 30L), ("q1", 99L),
      ("q2", 77L)).toDF("query_id", "doc_id")
    val out = Retrieval.rankingEval(results, qrels, k = 2)
      .collect().map(r => r.getAs[String]("query_id") ->
        (r.getAs[Long]("n_rel"), r.getAs[Long]("best_rank"),
          r.getAs[Long]("rr_ppm"), r.getAs[Long]("hits_at_k"))).toMap
    assert(out.size == 3)
    assert(out("q1") == ((3L, 2L, 500000L, 1L))) // doc 30 at rank 3 > k
    assert(out("q2") == ((1L, 0L, 0L, 0L)))
    assert(out("q3") == ((0L, 0L, 0L, 0L)))
  }

  test("hardNegatives: per-query relevance excluded, dense rank, k cut") {
    val results = Seq(
      ("q1", 1L, 1L), ("q1", 2L, 2L), ("q1", 3L, 3L), ("q1", 4L, 4L),
      ("q2", 9L, 1L), ("q2", 2L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val qrels = Seq(("q1", 2L), ("q2", 9L), ("q2", 5L))
      .toDF("query_id", "doc_id")
    val out = Retrieval.hardNegatives(results, qrels, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // q1: rel doc 2 excluded → negatives (1, 3); doc 4 cut by k=2.
    // q2: rel doc 9 excluded; doc 2 IS a negative here though it is
    // relevant for q1 — relevance is per query, not global.
    assert(out == Set(("q1", 1L, 1L, 1L), ("q1", 3L, 3L, 2L),
      ("q2", 2L, 2L, 1L)))
    // qrels covering everything → no negatives at all, not a crash
    assert(Retrieval.hardNegatives(results,
      results.select("query_id", "doc_id"), 2).collect().isEmpty)
    intercept[IllegalArgumentException](
      Retrieval.hardNegatives(results, qrels, 0))
  }

  test("ndcgEval: hand-checked graded nDCG, perfect=1000, edge queries") {
    // discounts k=3: 1000000, 630929, 500000
    assert(Retrieval.ndcgDiscountsMicro(3) ==
      Seq(1000000L, 630929L, 500000L))
    val results = Seq(
      ("q", 10L, 1L), ("q", 20L, 2L), ("q", 30L, 3L),   // 10 unrated
      ("p", 20L, 1L), ("p", 30L, 2L))                   // ideal order
      .toDF("query_id", "doc_id", "rank")
    val qrels = Seq(
      ("q", 20L, 2L), ("q", 30L, 1L),
      ("p", 20L, 2L), ("p", 30L, 1L),
      ("z", 40L, 0L),          // no positive rel → undefined nDCG
      ("r", 50L, 1L))          // relevant but never retrieved
      .toDF("query_id", "doc_id", "rel")
    val out = Retrieval.ndcgEval(results, qrels, k = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    // q: DCG = 2·630929 + 1·500000 = 1761858;
    //    IDCG = 2·1000000 + 1·630929 = 2630929 → 669‰
    assert(out("q") == ((1761858L, 2630929L, Some(669L))))
    assert(out("p") == ((2630929L, 2630929L, Some(1000L))))
    // z has neither results nor positive qrels → not a scorable query
    assert(!out.contains("z"))
    // r: relevant but never retrieved → 0‰, idcg = 1·1000000
    assert(out("r") == ((0L, 1000000L, Some(0L))))
    intercept[IllegalArgumentException](
      Retrieval.ndcgEval(results, qrels, k = 0))
  }

  test("searchSnippets: clamped windows, exact positions, misses drop") {
    val docs = Seq(
      (1L, "needle at the very start of this document body"),
      (2L, "some leading context before the needle and trailing after"),
      (3L, "no match here at all"))
      .toDF("doc_id", "text")
    val out = Retrieval.searchSnippets(docs, "doc_id", "text", "needle",
        window = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    // doc 1: match at pos 1 → window clamps at doc start
    assert(out(1L) == ((1L, "needle at the ve")))
    // doc 2: pos 33 → 10 chars each side around the 6-char phrase
    assert(out(2L) == ((33L, "efore the needle and trail")))
    assert(!out.contains(3L))
    intercept[IllegalArgumentException](
      Retrieval.searchSnippets(docs, "doc_id", "text", ""))
  }

  test("trigramSearch: index answers equal contains, fp verified away") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      // trigram false positive for "abcdef": posts abc,bcd,cde,def via
      // "abcd"+"cdef" but never the contiguous substring — candidate
      // generation admits it, verification must kill it
      (2L, "abcd cdef"),
      (3L, "xabcdefx"),
      (4L, "ab"), // shorter than a trigram: no postings at all
      (5L, "quick"))
      .toDF("doc_id", "text")
    val out = Retrieval.trigramSearch(docs, "text", "doc_id",
        Seq("quick", "abcdef"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("quick", 1L), ("quick", 5L), ("abcdef", 3L)))
    intercept[IllegalArgumentException](
      Retrieval.trigramSearch(docs, "text", "doc_id", Seq("ab")))
    intercept[IllegalArgumentException](
      Retrieval.trigramSearch(docs, "text", "doc_id", Seq.empty))
    intercept[IllegalArgumentException](
      Retrieval.trigramSearch(docs, "text", "doc_id",
        Seq("abc", "abc")))
  }

  test("charTrigrams: distinct, short-text empty") {
    val r = Seq(("aaaa"), ("ab"), ("abc"))
      .toDF("t")
      .select(Retrieval.charTrigrams(org.apache.spark.sql.functions
        .col("t")).as("g"))
      .collect().map(_.getSeq[String](0).toList)
    assert(r(0) == List("aaa"))
    assert(r(1) == Nil)
    assert(r(2) == List("abc"))
  }
}
