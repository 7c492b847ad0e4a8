package graft

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** One crash-point matrix over every staged-commit family: each family
  * is built, then its next generation is interrupted at four points —
  *
  *  (a) staging without a manifest: a reader leaves it, the next writer
  *      discards it, and the result equals an uninterrupted run;
  *  (b) manifest written, nothing renamed: the reader path replays it
  *      and the epoch advances exactly once;
  *  (c) swap half done (the first listed piece already renamed): the
  *      reader path heals it;
  *  (d) a listed piece missing from both staging and live: recovery
  *      throws `IOException` and the epoch stays where it was. */
class StagedCommitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A family under test, every operation over the artifact path:
    * `build` the base generation, `stage` the next one without applying
    * it (returns the staging dir), `mutate` = the same change run
    * uninterrupted, `read` = open through the reader path, `tables` =
    * its data directories. `list` names the manifest list field whose
    * first piece the half-swap and lost-piece points act on, and the
    * directory its pieces live under ("" = the root). */
  private case class Family(name: String, build: String => Unit,
      stage: String => String, mutate: String => Unit,
      read: String => Unit, epoch: String => Option[Long],
      tables: Seq[String], list: (String, String))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def docs(ids: Seq[Long]): DataFrame = {
    val words = Seq("hash", "join", "merge", "sort", "scan", "plan",
      "shuffle", "spill", "probe", "build")
    ids.map(i => (i, (0 until 6).map(k =>
      words(((i * 7 + k * 3) % words.size).toInt)).mkString(" ")))
      .toDF("doc_id", "text")
  }

  private def vectors(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, (0 until 8).map(d =>
      (((i * 31 + d * 17) % 13) - 6).toFloat / 3f)))
      .toDF("vec_id", "embedding")

  private def observations(rows: Seq[(String, String, Long)]): DataFrame =
    rows.map { case (n, d, c) =>
      (n, "s1", "A", d, c, Timestamp.valueOf("2021-01-01 00:00:00"))
    }.toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")

  private val storeBase = observations(
    (0 until 12).map(i => (s"h$i.example", s"10.0.0.$i", 1L)))
  private val storeBatch = observations(Seq(("h1.example", "10.0.0.1", 4L),
    ("new.example", "10.9.9.9", 2L), ("h7.example", "10.0.0.7", 1L)))
  private val vocab1 = Seq(("t", "h", 5L), ("h", "e", 3L))
  private val vocab2 = Seq(("t", "h", 5L), ("th", "e", 4L), ("a", "b", 1L))

  private val families = Seq(
    Family("store",
      p => ObservationStore.writeDual(ObservationStore.aggregate(storeBase),
        p, numBuckets = 4),
      p => ObservationStore.stageMerge(spark, p, storeBatch, 4),
      p => ObservationStore.mergeBatch(spark, p, storeBatch, 4),
      p => ObservationStore.recoverMerge(spark, p),
      p => ObservationStore.readEpoch(spark, p),
      Seq("by_rrname", "by_rdata"), ("staged_by_rrname", "by_rrname")),
    Family("bm25",
      p => Retrieval.writeIndex(docs(0L to 9L), "text", "doc_id", p, 4),
      p => Retrieval.stageIndexMerge(spark, p, docs(10L to 14L), "text",
        "doc_id"),
      p => Retrieval.mergeIndex(spark, p, docs(10L to 14L), "text",
        "doc_id"),
      p => Retrieval.recoverIndexMerge(spark, p),
      p => Retrieval.readIndexEpoch(spark, p),
      Seq("postings", "terms", "stats"), ("staged_postings", "postings")),
    Family("positional",
      p => Retrieval.writePositionalIndex(docs(0L to 9L), "text", "doc_id",
        p, 4),
      p => Retrieval.stagePositionalMerge(spark, p, docs(10L to 14L),
        "text", "doc_id"),
      p => Retrieval.mergePositionalIndex(spark, p, docs(10L to 14L),
        "text", "doc_id"),
      p => Retrieval.recoverPositionalIndex(spark, p),
      p => Retrieval.readIndexEpoch(spark, p),
      Seq("positions", "stats"), ("staged_positions", "positions")),
    Family("ivfpq",
      p => Similarity.writeIvfPqIndex(vectors(0L to 9L), "vec_id",
        "embedding", Seq(0L, 1L), p, m = 2, ks = 4, iters = 1, dim = 8),
      p => Similarity.stageIvfPqMerge(spark, p, vectors(10L to 15L),
        "vec_id", "embedding"),
      p => Similarity.mergeIvfPqIndex(spark, p, vectors(10L to 15L),
        "vec_id", "embedding"),
      p => Similarity.recoverIvfPqMerge(spark, p),
      p => Retrieval.readIndexEpoch(spark, p),
      Seq("vectors", "centroids", "codebooks"), ("staged_vectors", "vectors")),
    Family("lm",
      p => Curation.writeLm(docs(0L to 9L), "text", p),
      p => Curation.stageLmMerge(spark, p, docs(10L to 14L), "text"),
      p => Curation.mergeLm(spark, p, docs(10L to 14L), "text"),
      p => Curation.recoverLm(spark, p),
      p => Retrieval.readIndexEpoch(spark, p),
      Seq("bigrams", "unigrams", "stats"), ("staged_tables", "")),
    Family("band",
      p => Dedup.writeBandIndex(docs(0L to 9L), "text", "doc_id", p),
      p => Dedup.stageBandMerge(spark, p, docs(10L to 14L), "text",
        "doc_id", 1L)._1.get,
      p => Dedup.mergeBandIndex(spark, p, docs(10L to 14L), "text",
        "doc_id", 1L): Unit,
      p => Dedup.loadBandIndex(spark, p): Unit,
      p => Dedup.readBandEpoch(spark, p),
      Seq(""), ("staged_bands", "")),
    Family("bpe",
      p => BpeVocab.write(spark, vocab1, p),
      p => BpeVocab.stage(spark, vocab2, p),
      p => BpeVocab.write(spark, vocab2, p),
      p => BpeVocab.load(spark, p): Unit,
      p => BpeVocab.readEpoch(spark, p),
      Seq("merges"), ("staged_tables", "")))

  private def fresh(fam: Family): String = {
    val p = java.nio.file.Files.createTempDirectory(s"graft-sc-${fam.name}")
      .toString + "/a"
    fam.build(p)
    p
  }

  private def snapshot(fam: Family, p: String): (Option[Long], Seq[Seq[String]]) =
    (fam.epoch(p), fam.tables.map(t => rows(spark.read.parquet(s"$p/$t"))))

  private val controls = scala.collection.mutable.Map.empty[String,
    (Option[Long], Seq[Seq[String]])]

  /** The uninterrupted run's result, once per family. */
  private def control(fam: Family) = controls.getOrElseUpdate(fam.name, {
    val p = fresh(fam)
    fam.mutate(p)
    snapshot(fam, p)
  })

  /** The first piece the manifest lists under `fam.list`, relative to
    * both the staging dir and the live root. */
  private def firstPiece(fam: Family, staging: String): String = {
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$staging/_manifest.json")), "UTF-8")
    val (field, dir) = fam.list
    val name = (""""""" + field + """"\s*:\s*"([^",]+)""").r
      .findFirstMatchIn(manifest).getOrElse(
        fail(s"${fam.name}: no $field piece in $manifest")).group(1)
    if (dir.isEmpty) name else s"$dir/$name"
  }

  private def rm(f: File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
    f.delete(): Unit
  }

  families.foreach { fam =>
    test(s"${fam.name}: (a) staging without a manifest waits for the writer") {
      val p = fresh(fam)
      val before = fam.epoch(p)
      val junk = new File(s"$p/_staging_${before.get + 1}/" +
        (if (fam.list._2.isEmpty) "leftover" else s"${fam.list._2}/leftover"))
      assert(junk.mkdirs())
      fam.read(p)
      assert(junk.exists())
      assert(fam.epoch(p) == before)
      fam.mutate(p)
      assert(snapshot(fam, p) == control(fam))
      assert(!junk.getParentFile.exists())
    }

    test(s"${fam.name}: (b) a committed manifest replays on the reader path, once") {
      val p = fresh(fam)
      val before = fam.epoch(p)
      val staging = fam.stage(p)
      assert(new File(s"$staging/_manifest.json").exists())
      assert(fam.epoch(p) == before)
      fam.read(p)
      assert(!new File(staging).exists())
      assert(snapshot(fam, p) == control(fam))
      assert(fam.epoch(p) == before.map(_ + 1))
      fam.read(p) // nothing left to replay
      assert(fam.epoch(p) == before.map(_ + 1))
    }

    test(s"${fam.name}: (c) a half-done swap heals on the reader path") {
      val p = fresh(fam)
      val staging = fam.stage(p)
      val piece = firstPiece(fam, staging)
      val dest = new File(s"$p/$piece")
      if (dest.exists()) rm(dest)
      dest.getParentFile.mkdirs()
      assert(new File(s"$staging/$piece").renameTo(dest))
      fam.read(p)
      assert(!new File(staging).exists())
      assert(snapshot(fam, p) == control(fam))
    }

    test(s"${fam.name}: (d) a listed piece lost from staging and live fails loudly") {
      val p = fresh(fam)
      val before = fam.epoch(p)
      val staging = fam.stage(p)
      val piece = firstPiece(fam, staging)
      rm(new File(s"$staging/$piece"))
      val dest = new File(s"$p/$piece")
      if (dest.exists()) rm(dest)
      intercept[java.io.IOException](fam.read(p))
      assert(fam.epoch(p) == before)
    }
  }
}
