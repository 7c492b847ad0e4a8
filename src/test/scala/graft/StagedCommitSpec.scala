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
  *      throws `IOException` and the epoch stays where it was.
  *
  * Every family's REBUILD commits the same way (a crash before its
  * manifest is discarded by the next writer; a committed one replays on
  * the reader path, once, and drops the old tombstones), and a manifest's
  * `removed` list heals from a half-applied state. A rebuild or vacuum
  * removes only the tombstone parts it read: a delete appended between
  * its manifest and the replay still masks afterwards. */
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

  // The store's first build commits through the same whole-copy staged
  // swap: a crash before its manifest leaves only a staging dir, and one
  // after it replays — never copies without a meta.
  private def storeTables(p: String): Seq[Seq[String]] =
    Seq("by_rrname", "by_rdata").map(t => rows(spark.read.parquet(s"$p/$t")))

  private lazy val oneBuild = {
    val p = java.nio.file.Files.createTempDirectory("graft-sc-build")
      .toString + "/a"
    ObservationStore.mergeBatch(spark, p, storeBase, 4, Some(0L))
    storeTables(p)
  }

  private def stagedFirstBuild(): (String, String) = {
    val p = java.nio.file.Files.createTempDirectory("graft-sc-build")
      .toString + "/a"
    val staging = ObservationStore.stageBuild(
      ObservationStore.aggregate(storeBase), p, 4, Some(0L))._1.get
    (p, staging)
  }

  test("store first build: (a) staging without a manifest is rebuilt by the next writer") {
    val (p, staging) = stagedFirstBuild()
    assert(new File(s"$staging/_manifest.json").delete())
    ObservationStore.recoverMerge(spark, p)
    assert(new File(staging).exists())
    assert(!new File(s"$p/by_rrname").exists())
    ObservationStore.mergeBatch(spark, p, storeBase, 4, Some(0L))
    assert(!new File(staging).exists())
    assert(storeTables(p) == oneBuild)
    assert(ObservationStore.readEpoch(spark, p).contains(1L))
  }

  test("store first build: (b) a committed manifest replays on the reader path; its batch is then skipped") {
    val (p, staging) = stagedFirstBuild()
    assert(ObservationStore.readEpoch(spark, p).isEmpty)
    ObservationStore.load(spark, p)
    assert(!new File(staging).exists())
    assert(ObservationStore.readEpoch(spark, p).contains(1L))
    assert(ObservationStore.readBatchId(spark, p).contains(0L))
    assert(storeTables(p) == oneBuild)
    // the stream redelivers batch 0: skipped, not summed in twice
    ObservationStore.mergeBatch(spark, p, storeBase, 4, Some(0L))
    assert(ObservationStore.readEpoch(spark, p).contains(1L))
    assert(storeTables(p) == oneBuild)
  }

  /** A rebuild over a family's built artifact: `stage` it without
    * applying (returns the staging dir), `run` it uninterrupted;
    * `delete` records a deletion (tombstoned families) the rebuild drops.
    * Band rebuilds with fewer bands, so its stale band dirs go too. */
  private case class Rebuild(stage: String => String, run: String => Unit,
      delete: Option[String => Unit])

  private val rebuilds = Seq(
    "bm25" -> Rebuild(
      p => Retrieval.stageIndexBuild(docs(20L to 29L), "text", "doc_id", p, 4),
      p => Retrieval.writeIndex(docs(20L to 29L), "text", "doc_id", p, 4),
      Some(p => Retrieval.deleteFromIndex(spark, p, docs(Seq(3L)), "text",
        "doc_id"))),
    "positional" -> Rebuild(
      p => Retrieval.stagePositionalBuild(docs(20L to 29L), "text",
        "doc_id", p, 4),
      p => Retrieval.writePositionalIndex(docs(20L to 29L), "text",
        "doc_id", p, 4),
      Some(p => Retrieval.deleteFromPositionalIndex(spark, p, Seq(3L)))),
    "ivfpq" -> Rebuild(
      // codebooks seed from ids 0 until ks
      p => Similarity.stageIvfPqBuild(vectors((0L to 3L) ++ (20L to 29L)),
        "vec_id", "embedding", Seq(20L, 21L), p, 2, 4, 1, 8),
      p => Similarity.writeIvfPqIndex(vectors((0L to 3L) ++ (20L to 29L)),
        "vec_id", "embedding", Seq(20L, 21L), p, m = 2, ks = 4, iters = 1,
        dim = 8),
      Some(p => Similarity.deleteFromIvfIndex(spark, p, Seq(3L)))),
    "lm" -> Rebuild(
      p => Curation.stageLmBuild(docs(20L to 29L), "text", p),
      p => Curation.writeLm(docs(20L to 29L), "text", p), None),
    "band" -> Rebuild(
      p => Dedup.stageBandBuild(docs(20L to 29L), "text", "doc_id", p, 16, 2),
      p => Dedup.writeBandIndex(docs(20L to 29L), "text", "doc_id", p,
        bands = 2),
      Some(p => Dedup.deleteFromBandIndex(spark, p, Seq(3L)))),
    "bpe" -> Rebuild(p => BpeVocab.stage(spark, vocab2, p),
      p => BpeVocab.write(spark, vocab2, p), None))

  private def family(name: String): Family = families.find(_.name == name).get

  /** The built artifact with its deletion recorded. */
  private def deleted(fam: Family, rb: Rebuild): String = {
    val p = fresh(fam)
    rb.delete.foreach(_(p))
    p
  }

  private val rebuildControls = scala.collection.mutable.Map.empty[String,
    (Option[Long], Seq[Seq[String]])]

  private def rebuildControl(fam: Family, rb: Rebuild) =
    rebuildControls.getOrElseUpdate(fam.name, {
      val p = deleted(fam, rb)
      rb.run(p)
      snapshot(fam, p)
    })

  rebuilds.foreach { case (name, rb) =>
    val fam = family(name)
    test(s"$name rebuild: (a) staging without a manifest is discarded by the next writer") {
      val p = deleted(fam, rb)
      val before = fam.epoch(p)
      val staging = rb.stage(p)
      assert(new File(s"$staging/_manifest.json").delete())
      fam.read(p)
      assert(new File(staging).exists())
      assert(fam.epoch(p) == before)
      rb.run(p)
      assert(!new File(staging).exists())
      assert(!new File(s"$p/_tombstones").exists())
      assert(snapshot(fam, p) == rebuildControl(fam, rb))
    }

    test(s"$name rebuild: (b) a committed manifest replays on the reader path, once") {
      val p = deleted(fam, rb)
      val before = fam.epoch(p)
      val staging = rb.stage(p)
      assert(fam.epoch(p) == before)
      assert(rb.delete.isEmpty || new File(s"$p/_tombstones").exists())
      fam.read(p)
      assert(!new File(staging).exists())
      assert(!new File(s"$p/_tombstones").exists())
      assert(snapshot(fam, p) == rebuildControl(fam, rb))
      assert(fam.epoch(p) == before.map(_ + 1))
      fam.read(p)
      assert(fam.epoch(p) == before.map(_ + 1))
    }

    rb.delete.foreach { del =>
      test(s"$name rebuild: (d) a delete appended after the manifest survives the replay") {
        val p = deleted(fam, rb)
        rb.stage(p)
        del(p) // id 3 again, after the rebuild listed its tombstones
        fam.read(p)
        assert(spark.read.parquet(s"$p/_tombstones").collect()
          .map(_.getLong(0)).toSeq == Seq(3L))
        assert(snapshot(fam, p) == rebuildControl(fam, rb))
      }
    }
  }

  /** A vacuum whose manifest removes whole leaves: `delete` kills every
    * row of some leaves (never all), `stage` stops the vacuum after its
    * manifest, `run` vacuums uninterrupted; `deleteIds` tombstones ids of
    * the `key` column of the table at `dir` ("" = the root). */
  private case class Vacuum(delete: String => Unit, stage: String => String,
      run: String => Unit, deleteIds: (String, Seq[Long]) => Unit,
      dir: String, key: String)

  private val vacuums = Seq(
    "ivfpq" -> Vacuum(
      p => Similarity.deleteFromIvfIndex(spark, p,
        spark.read.parquet(s"$p/vectors").filter($"cluster" === 0)
          .select($"id")),
      p => Similarity.stageIvfVacuum(spark, p)._1.get,
      p => Similarity.vacuumIvfIndex(spark, p): Unit,
      Similarity.deleteFromIvfIndex(spark, _, _), "vectors", "id"),
    "band" -> Vacuum(
      p => {
        Dedup.mergeBandIndex(spark, p, docs(10L to 14L), "text", "doc_id",
          1L)
        Dedup.deleteFromBandIndex(spark, p, 10L to 14L)
      },
      p => Dedup.stageBandVacuum(spark, p)._1.get,
      p => Dedup.vacuumBandIndex(spark, p): Unit,
      Dedup.deleteFromBandIndex(spark, _, _), "", "corpus_id"))

  private val vacuumControls = scala.collection.mutable.Map.empty[String,
    (Option[Long], Seq[Seq[String]])]

  vacuums.foreach { case (name, v) =>
    val fam = family(name)
    test(s"$name vacuum: (c) a half-applied removal list heals on the reader path") {
      def deletedLeaves(): String = { val p = fresh(fam); v.delete(p); p }
      val control = vacuumControls.getOrElseUpdate(name, {
        val p = deletedLeaves()
        v.run(p)
        snapshot(fam, p)
      })
      val p = deletedLeaves()
      val before = fam.epoch(p)
      val staging = v.stage(p)
      val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$staging/_manifest.json")), "UTF-8")
      val removed = """"removed"\s*:\s*"([^"]*)"""".r
        .findFirstMatchIn(manifest).get.group(1).split(",").toSeq
      assert(removed.size >= 2 && removed.last.startsWith("_tombstones/"),
        removed)
      // the first removal already moved aside, as an interrupted apply
      // leaves it
      val aside = new File(s"$staging/_replaced/${removed.head}")
      aside.getParentFile.mkdirs()
      assert(new File(s"$p/${removed.head}").renameTo(aside))
      fam.read(p)
      assert(!new File(staging).exists())
      assert(removed.forall(r => !new File(s"$p/$r").exists()))
      assert(!new File(s"$p/_tombstones").exists())
      assert(snapshot(fam, p) == control)
      assert(fam.epoch(p) == before.map(_ + 1))
    }

    test(s"$name vacuum: (e) a delete appended after the manifest stays masked") {
      val p = fresh(fam)
      v.delete(p)
      def visible(): Set[Long] = TombstoneMask.antiJoin(spark,
          spark.read.parquet(if (v.dir.isEmpty) p else s"$p/${v.dir}"), p,
          v.key, v.key)
        .select(v.key).collect().map(_.getLong(0)).toSet
      val before = visible()
      val late = before.min
      v.stage(p)
      v.deleteIds(p, Seq(late))
      fam.read(p)
      assert(visible() == before - late)
      assert(spark.read.parquet(s"$p/_tombstones").collect()
        .map(_.getLong(0)).toSeq == Seq(late))
    }
  }
}
