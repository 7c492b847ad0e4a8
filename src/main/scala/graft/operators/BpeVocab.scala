package graft.operators

import org.apache.spark.sql.SparkSession

/** Persisted BPE merge-table artifact — the bridge between training
  * ([[TextAnalysis.bpeTrain]] / [[Curation.bpeTrain]], which return a
  * driver-sized learned table) and every consumer that tokenizes under
  * it ([[TextAnalysis.bpeSegment]]/`bpeTokenCount`, sequence packing,
  * context budgeting): ONE on-disk vocabulary (`(rank, a, b, n)`
  * parquet, rank = 1-based learned order) that tokenization jobs load
  * instead of re-training or hard-coding.
  *
  * Lifecycle is the store/index house pattern ([[StagedCommit]]): a
  * rewrite stages the new table under `_staging_<epoch>`, commits by
  * manifest, swaps in by idempotent rename and bumps the epoch LAST —
  * readers never see a half-written vocabulary, a crash anywhere
  * replays or discards cleanly, and the epoch lets caches (and
  * provenance records) tell two vocabularies apart.
  *
  * Scale: a merge table is k-entries (the tokenizer's merge count) —
  * driver-sized by construction, the same class as IVF centroids. The
  * parquet coalesces to one file; `load` collects it whole. */
object BpeVocab {

  /** Write `merges` (learned order, as returned by the trainers) as the
    * vocabulary at `path`, replacing any previous table atomically
    * ([[StagedCommit.mutate]] resolves committed leftovers first: a stale
    * committed staging must not replay over the new table). */
  def write(spark: SparkSession, merges: Seq[(String, String, Long)],
      path: String): Unit = {
    require(merges.nonEmpty, "BpeVocab.write: empty merge table")
    StagedCommit.mutate(spark, path, Vocab)(
      Some(stage(spark, merges, path)) -> ()): Unit
  }

  /** Stage `merges` as the next generation's table and commit the
    * manifest; package-visible so crash tests can stop here. */
  private[graft] def stage(spark: SparkSession,
      merges: Seq[(String, String, Long)], path: String): String =
    StagedCommit.stage(spark, path, None) { stg =>
      import spark.implicits._
      merges.zipWithIndex
        .map { case ((a, b, n), i) => (i + 1L, a, b, n) }
        .toDF("rank", "a", "b", "n")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"${stg.dir}/merges")
      Some(StagedCommit.Manifest(Seq("staged_tables" -> Seq("merges")))) -> ()
    }._1.get

  /** The vocabulary's commit shape: one whole table per generation. */
  private val Vocab = StagedCommit.Family(Seq(
    StagedCommit.PieceList("staged_tables")))

  /** Load the vocabulary back in learned order, `(a, b, n)` — the exact
    * shape the trainers return, so `write(load(...))` is identity and
    * [[loadMerges]] feeds the segmenters directly. Resolves any
    * committed-but-unapplied staging first (reader path). */
  def load(spark: SparkSession, path: String): Seq[(String, String, Long)] = {
    recover(spark, path, deleteUncommitted = false)
    spark.read.parquet(s"$path/merges")
      .orderBy("rank")
      .collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
        r.getAs[Long]("n")))
      .toIndexedSeq
  }

  /** The `(a, b)` pair list [[TextAnalysis.bpeSegment]] and friends
    * take. */
  def loadMerges(spark: SparkSession, path: String): Seq[(String, String)] =
    load(spark, path).map { case (a, b, _) => (a, b) }

  /** Vocabulary generation: advanced once per committed [[write]]. */
  def readEpoch(spark: SparkSession, path: String): Option[Long] =
    StagedCommit.metaField(spark, path, "epoch")

  private def recover(spark: SparkSession, path: String,
      deleteUncommitted: Boolean): Unit =
    StagedCommit.recover(spark, path, Vocab, deleteUncommitted)
}
