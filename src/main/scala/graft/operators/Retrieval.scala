package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ranked text retrieval over an inverted token index — the operator that
  * makes the engine a *search* engine over documents, not only an exact
  * key-value store (the reference's whole query surface is exact/prefix
  * key lookup; `/root/reference/query/query_graphql.go` has no scoring).
  *
  * Two layers, mirroring [[ObservationStore]]'s split between an
  * aggregation and a persisted layout:
  *
  *  - [[tokenIndex]]: postings `(term, doc_id, tf, dl)` — ONE shuffle
  *    (map-side-combined count on (doc, term)); `dl` is denormalized onto
  *    the posting so scoring never joins a doc-length table.
  *  - [[writeIndex]] / [[indexTopK]]: postings persisted partitioned by
  *    `term_bucket = pmod(xxhash64(term), nBuckets)` with a
  *    vocabulary-sized `terms` (document-frequency) table and a 1-row
  *    `stats` table beside them. A query's terms fold to bucket literals →
  *    directory-level partition pruning, and the `term IN (...)` residual
  *    pushes into the Parquet scan — a k-term query reads k/nBuckets of
  *    the index, never the corpus (the access-path story of
  *    `ObservationStore.entries`, transplanted to text).
  *
  * Scoring is BM25 (k1 = 1.2, b = 0.75) with the Robertson–Spärck-Jones
  * idf RATIO `(N − df + 0.5)/(df + 0.5)` kept un-logged: per-term weights
  * are monotone in true BM25 idf, and every arithmetic step is a single
  * correctly-rounded IEEE-754 double op on exact-integer inputs (+, ×, ÷
  * are bit-identical across engines; only libm log/exp are not — the
  * [[Curation.tfidfKeywords]] determinism rationale). The per-document sum
  * runs in FIXED query-term order via one conditional-sum column per term
  * (each sums exactly one posting row, so no float-order nondeterminism),
  * making top-k hash-stable across engines and partitionings.
  *
  * Scale shape: scoring touches only postings of the query's terms
  * (candidate docs), the df side is vocabulary-sized and broadcast, the
  * per-doc aggregation is map-side partial, and the final top-k is
  * TakeOrderedAndProject — no global sort, no corpus scan.
  */
object Retrieval {

  /** Tokenizer for the whole BM25 family: split on WHITESPACE RUNS, so
    * consecutive spaces/tabs/newlines never mint empty-string terms (and
    * never inflate `dl`). Stricter than the single-space [[Curation]]
    * convention because a search index meets rawer text than a curation
    * pipeline. Remaining convention (mirrored by the oracle): a LEADING
    * whitespace run yields one empty token (both engines agree); callers
    * should trim if their corpus can start with whitespace. */
  private def tokens(c: Column): Column = split(c, "\\s+")

  /** Inverted postings: one row per (term, doc) with term frequency and
    * document length. One shuffle. */
  def tokenIndex(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("w"))
      .select(col("doc_id"), size(col("w")).as("dl"), explode(col("w")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** Exact PHRASE search over positional postings: documents containing
    * the words of `phrase` consecutively, with the occurrence count —
    * the capability a bag-of-words index ([[tokenIndex]]/BM25) cannot
    * express, done the way positional indexes do it (Lucene's
    * PhraseQuery): one (doc, position) posting list per phrase term,
    * intersected by equi-joining on `(doc_id, position − term_offset)`.
    *
    * Scale shape: per term one narrow filtered projection of the
    * positions table (the `word = t` filter pushes to the scan when
    * positions are persisted) and one shuffle equi-join on the composite
    * key — cost proportional to the PHRASE TERMS' posting sizes, never
    * to the corpus. Anchoring on the first term means rare-first
    * phrasing prunes hardest (callers can reorder for selectivity; the
    * result is order-restored by construction). Tokenization is the
    * index's `\s+` convention. */
  def phraseSearch(df: DataFrame, textCol: String, idCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch: empty phrase")
    require(phrase.forall(_.nonEmpty), "phraseSearch: empty term")
    val pos = df.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("p", "word")))
      .localCheckpoint(false) // one scan feeds every term's posting list
    phraseFold(pos, phrase)
  }

  /** The positional intersection itself — shared by the in-memory and
    * persisted paths (the bag-of-words `score` rule: one definition, so
    * the layout can never change results). `pos` = (doc_id, p, word). */
  private def phraseFold(pos: DataFrame, phrase: Seq[String]): DataFrame = {
    val anchor = pos.filter(col("word") === phrase.head)
      .select(col("doc_id"), col("p"))
    phrase.zipWithIndex.drop(1)
      .foldLeft(anchor) { case (acc, (w, i)) =>
        acc.join(pos.filter(col("word") === w)
            .select(col("doc_id"), (col("p") - i).as("p")),
          Seq("doc_id", "p"))
      }
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_occurrences"))
  }

  /** Persisted POSITIONAL index — the layout [[phraseSearch]]'s scaladoc
    * promises ("the `word = t` filter pushes to the scan when positions
    * are persisted"), made real: (doc_id, p, word) postings partitioned
    * by `word_bucket = xxhash64(word) % n` and sorted by word within
    * each bucket file, so a phrase query prunes to its terms' bucket
    * directories and the word-equality filters push into the parquet
    * scan with row-group stats doing the rest. Same meta/epoch
    * convention as the bag-of-words index: a (re)build is one staged
    * generation, and a `batchId` the index already committed is
    * skipped ([[mergePositionalIndex]] folds later batches in). */
  def writePositionalIndex(df: DataFrame, textCol: String, idCol: String,
      path: String, nBuckets: Int = 64,
      batchId: Option[Long] = None): Unit =
    StagedCommit.mutate(df.sparkSession, path, Positional, batchId)(Some(
      stagePositionalBuild(df, textCol, idCol, path, nBuckets, batchId)) ->
      ()): Unit

  /** [[writePositionalIndex]]'s stage step: both tables staged whole,
    * the tombstone parts it saw removed (a rebuild starts a fresh corpus;
    * a delete appended later stays), the manifest committed under
    * `batchId`. Package-visible so crash tests
    * can stop here. */
  private[graft] def stagePositionalBuild(df: DataFrame, textCol: String,
      idCol: String, path: String, nBuckets: Int,
      batchId: Option[Long] = None): String = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(!df.isEmpty, "writePositionalIndex: corpus is empty")
    val spark = df.sparkSession
    StagedCommit.stage(spark, path, batchId) { stg =>
      bucketedPostings(df, textCol, idCol, nBuckets.toLong)
        .repartition(col("word_bucket"))
        .sortWithinPartitions(col("word"), col("doc_id"), col("p"))
        .write.partitionBy("word_bucket").mode("overwrite")
        .parquet(s"${stg.dir}/positions")
      spark.range(1).select(lit(nBuckets.toLong).as("n_buckets"))
        .write.mode("overwrite").parquet(s"${stg.dir}/stats")
      Some(StagedCommit.Manifest(Seq("staged_tables" ->
        Seq("positions", "stats"), "staged_positions" -> Nil),
        removed = TombstoneMask.parts(spark, path))) -> ()
    }._1.get
  }

  /** Bucketed (doc_id, p, word) postings — ONE definition shared by the
    * rebuild and merge paths, so a tokenization change can never make
    * the two artifact lifecycles diverge (the phraseFold rule). */
  private def bucketedPostings(df: DataFrame, textCol: String,
      idCol: String, nBuckets: Long): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("p", "word")))
      .withColumn("word_bucket",
        pmod(xxhash64(col("word")), lit(nBuckets)))

  /** The positional index's commit shape: staged position buckets;
    * builds swap whole tables, merges and vacuums none. */
  private val Positional = StagedCommit.Family(Seq(
    StagedCommit.PieceList("staged_positions", "positions"),
    StagedCommit.PieceList("staged_tables", ifAbsent = Some((_, _) => Nil))))

  /** Incremental positional-index maintenance: postings are
    * PER-DOCUMENT (positions are offsets within each doc), so a batch of
    * NEW documents folds in by rewriting only its terms' touched
    * buckets — the [[mergeIndex]] shape minus the df/stats arithmetic
    * (the positional layout keeps only `n_buckets`, which never
    * changes). Staged + manifest + idempotent swap + generation bump
    * LAST; `batchId` gives stream replays exactly-once. Batches must
    * carry previously-unseen doc ids (the append-only contract every
    * incremental artifact here shares). */
  def mergePositionalIndex(spark: SparkSession, path: String,
      batch: DataFrame, textCol: String, idCol: String,
      batchId: Option[Long] = None): Unit =
    StagedCommit.mutate(spark, path, Positional, batchId)(Some(
      stagePositionalMerge(spark, path, batch, textCol, idCol, batchId)) ->
      ()): Unit

  /** Stage the touched positional buckets and commit the manifest;
    * package-visible so crash tests can stop here. */
  private[graft] def stagePositionalMerge(spark: SparkSession,
      path: String, batch: DataFrame, textCol: String, idCol: String,
      batchId: Option[Long] = None): String = {
    require(!batch.isEmpty, "mergePositionalIndex: batch is empty")
    StagedCommit.stage(spark, path, batchId) { stg =>
      val nBuckets = spark.read.parquet(s"$path/stats")
        .head().getAs[Long]("n_buckets")
      val newPos = bucketedPostings(batch, textCol, idCol, nBuckets)
        .localCheckpoint(false) // feeds the touched-bucket list AND the write
      val touched = newPos.select("word_bucket").distinct()
        .collect().map(_.getLong(0))
      spark.read.parquet(s"$path/positions")
        .filter(col("word_bucket").isin(touched.toIndexedSeq: _*))
        .select(newPos.columns.toIndexedSeq.map(col): _*)
        .unionAll(newPos)
        .repartition(col("word_bucket"))
        .sortWithinPartitions(col("word"), col("doc_id"), col("p"))
        .write.mode("overwrite").partitionBy("word_bucket")
        .parquet(s"${stg.dir}/positions")
      Some(positionalManifest(spark, stg)) -> ()
    }._1.get
  }

  private def positionalManifest(spark: SparkSession,
      stg: StagedCommit.Staging): StagedCommit.Manifest =
    StagedCommit.Manifest(Seq("staged_positions" ->
      StagedCommit.stagedPartDirs(spark, s"${stg.dir}/positions",
        "word_bucket=")))

  /** Retraction on the positional index — pure VISIBILITY (phrase and
    * proximity search carry no corpus statistics, unlike BM25): deleted
    * doc ids append as tombstones, [[indexPhraseSearch]] masks with a
    * broadcast anti-join, [[vacuumPositionalIndex]] folds them in. */
  def deleteFromPositionalIndex(spark: SparkSession, path: String,
      ids: DataFrame): Unit =
    ids.select(col(ids.columns.head).cast("long").as("doc_id"))
      .write.mode("append").parquet(s"$path/_tombstones")

  def deleteFromPositionalIndex(spark: SparkSession, path: String,
      ids: Seq[Long]): Unit = {
    import spark.implicits._
    deleteFromPositionalIndex(spark, path, ids.toDF("doc_id"))
  }

  /** Fold positional tombstones into the bucket files as ONE staged
    * generation: survivors of the touched word buckets swap in
    * (fully-dead buckets stage explicit empty pieces) and the tombstone
    * parts folded are the generation's `removed` — the [[vacuumIndex]]
    * crash argument, minus the statistics (none here). A delete
    * appended meanwhile stays. Returns position rows removed. */
  def vacuumPositionalIndex(spark: SparkSession, path: String): Long =
    StagedCommit.mutate(spark, path, Positional) {
      val tombs = TombstoneMask.parts(spark, path)
      if (tombs.isEmpty) None -> 0L
      else StagedCommit.stage(spark, path, None) { stg =>
        val positions = spark.read.parquet(s"$path/positions")
        val tombIds = TombstoneMask.hinted(spark, TombstoneMask.read(spark,
            path, tombs).select(col("doc_id")).distinct()
          .localCheckpoint(false), path, tombs)
        val dead = positions.join(tombIds, Seq("doc_id"), "left_semi")
          .localCheckpoint(false)
        val removed = dead.count()
        val touched = dead.select(col("word_bucket").cast("long"))
          .distinct().collect().map(_.getLong(0)).toIndexedSeq
        if (touched.nonEmpty) {
          val survivors = positions
            .filter(col("word_bucket").isin(touched: _*))
            .join(tombIds, Seq("doc_id"), "left_anti")
            .localCheckpoint(false) // reads the files the swap replaces
          survivors
            .repartition(col("word_bucket"))
            .sortWithinPartitions(col("word"), col("doc_id"), col("p"))
            .write.mode("overwrite").partitionBy("word_bucket")
            .parquet(s"${stg.dir}/positions")
          val staying = survivors.select(col("word_bucket").cast("long"))
            .distinct().collect().map(_.getLong(0)).toSet
          StagedCommit.stageEmptyPieces(spark,
            survivors.drop("word_bucket"), touched.filterNot(staying)
              .map(b => s"${stg.dir}/positions/word_bucket=$b"))
        }
        Some(positionalManifest(spark, stg).copy(removed = tombs)) ->
          removed
      }
    }.get

  /** Resolve an interrupted [[mergePositionalIndex]] (the
    * [[recoverIndexMerge]] single-writer contract). */
  def recoverPositionalIndex(spark: SparkSession, path: String,
      deleteUncommitted: Boolean = false): Unit =
    StagedCommit.recover(spark, path, Positional, deleteUncommitted)

  /** Structured-Streaming maintenance of the positional index — the
    * [[streamIndex]] twin: first batch builds, every later micro-batch
    * folds in via [[mergePositionalIndex]] with the batch id riding the
    * generation commit, so replays are no-ops and phrase queries never
    * see a half-merged bucket set. */
  def streamPositionalIndex(spark: SparkSession, docs: DataFrame,
      textCol: String, idCol: String, path: String, checkpointDir: String,
      nBuckets: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    StagedCommit.stream(spark, docs, path, checkpointDir)(
      (batch, bid) => writePositionalIndex(batch, textCol, idCol, path,
        nBuckets, Some(bid)),
      (batch, bid) => mergePositionalIndex(spark, path, batch, textCol,
        idCol, Some(bid)))

  /** [[phraseSearch]] against a [[writePositionalIndex]] artifact:
    * bucket-directory pruning + pushed word filters instead of a corpus
    * tokenization per query — identical results by construction (the
    * fold is shared). */
  def indexPhraseSearch(spark: SparkSession, path: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "indexPhraseSearch: empty phrase")
    require(phrase.forall(_.nonEmpty), "indexPhraseSearch: empty term")
    val nBuckets = spark.read.parquet(s"$path/stats")
      .head().getAs[Long]("n_buckets")
    import spark.implicits._
    val buckets = phrase.distinct.toDF("t")
      .select(pmod(xxhash64(col("t")), lit(nBuckets)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val base = spark.read.parquet(s"$path/positions")
      .filter(col("word_bucket").isin(buckets: _*) &&
        col("word").isin(phrase.distinct: _*))
      .select(col("doc_id"), col("p"), col("word"))
    // retracted documents ([[deleteFromPositionalIndex]]) mask out via
    // an anti-join (broadcast under [[TombstoneMask]]'s driver-memory
    // bound, shuffled past it) until the next vacuum folds them in
    val pos = TombstoneMask.antiJoin(spark, base, path, "doc_id", "doc_id")
    phraseFold(pos, phrase)
  }

  /** Unordered proximity search (the Lucene SpanNear query class,
    * "slop" as a positional window): per document, the position pairs
    * of `termA` and `termB` at most `window` tokens apart — n_pairs
    * and the minimum distance. The relevance signal between exact
    * phrase (window 1, ordered) and bag-of-words BM25 (no positions).
    *
    * SCALE: joining the two posting lists on doc_id alone generates
    * tf_A × tf_B candidate pairs per document BEFORE the distance
    * filter — quadratic for a frequent term in a long document. Here
    * positions bin at `window` width and the A side replicates to
    * bin ± 1 (the [[Events.rangeJoin]] bounded-fan-out trick): the join
    * is an equi-join on (doc, bin) whose per-key fan-out is bounded by
    * positions-per-window, and the exact |Δ| ≤ window test runs on
    * those candidates only. A pair lands in exactly one (B-bin)
    * bucket, so nothing double-counts. Terms must differ (a repeated-
    * term window is a different operator with p≠p bookkeeping). */
  def nearSearch(df: DataFrame, textCol: String, idCol: String,
      termA: String, termB: String, window: Int): DataFrame = {
    require(window >= 1, s"nearSearch: window >= 1, got $window")
    require(termA.nonEmpty && termB.nonEmpty, "nearSearch: empty term")
    require(termA != termB, "nearSearch: terms must differ")
    val pos = df.select(col(idCol).as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("p", "word")))
      .localCheckpoint(false) // one scan feeds both posting lists
    val a = pos.filter(col("word") === termA)
      .select(col("doc_id"), col("p").as("pa"))
      .withColumn("bin0", expr(s"pa div $window"))
      .select(col("doc_id"), col("pa"),
        explode(array(col("bin0") - 1, col("bin0"), col("bin0") + 1))
          .as("bin"))
    val b = pos.filter(col("word") === termB)
      .select(col("doc_id"), col("p").as("pb"))
      .withColumn("bin", expr(s"pb div $window"))
    a.join(b, Seq("doc_id", "bin"))
      .filter(abs(col("pa") - col("pb")) <= window)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("pa") - col("pb"))).cast("long").as("min_distance"))
  }

  /** One BM25 term weight; see the object doc for why the idf ratio is
    * log-free and why the expression tree shape is load-bearing (the
    * oracle mirrors it parenthesis-for-parenthesis). */
  private def bm25Term(tf: Column, dfr: Column, dl: Column,
      nDocs: Long, sumDl: Long): Column = {
    val n = lit(nDocs.toDouble)
    val idf = (n - dfr.cast("double") + lit(0.5)) / (dfr.cast("double") + lit(0.5))
    val num = tf.cast("double") * lit(2.2)
    val den = tf.cast("double") +
      lit(1.2) * (lit(0.25) + lit(0.75) * (dl.cast("double") * n / lit(sumDl.toDouble)))
    idf * num / den
  }

  /** Score pre-filtered postings (only the query's terms) against a
    * document-frequency table; shared by the in-memory and persisted
    * paths so the layout can never change results. */
  private def score(idx: DataFrame, dfreq: DataFrame, terms: Seq[String],
      k: Int, nDocs: Long, sumDl: Long): DataFrame = {
    require(terms.nonEmpty && terms.size <= 8,
      s"bm25: 1..8 query terms, got ${terms.size}")
    // a duplicated term would silently score (and count in n_matched)
    // twice — reject instead of guessing whether the caller meant a
    // term weight
    require(terms.distinct.size == terms.size,
      s"bm25: query terms must be distinct, got $terms")
    val scored = idx.join(broadcast(dfreq), "term")
      .withColumn("s", bm25Term(col("tf"), col("df"), col("dl"), nDocs, sumDl))
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("s"))).as(s"s_$i")
    }
    val perDoc = scored.groupBy(col("doc_id")).agg(perTerm.head, perTerm.tail: _*)
    val total = terms.indices.map(i => coalesce(col(s"s_$i"), lit(0.0)))
      .reduceLeft(_ + _)
    val matched = terms.indices.map(i => col(s"s_$i").isNotNull.cast("long"))
      .reduceLeft(_ + _)
    perDoc.select(col("doc_id"), total.as("score"), matched.as("n_matched"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** In-memory BM25-monotone top-k: builds the postings for the query's
    * terms on the fly (corpus stats from one aggregation — the same two
    * scalars any idf needs).
    *
    * SCORING NOTE: the score is the RSJ idf *ratio* form, not log-idf
    * BM25 — per-term monotone in true BM25 idf (so single-term rankings
    * are identical), but a multi-term sum can order differently: a term
    * with df > N/2 keeps a positive weight where log-idf would go
    * negative, and rare-term weights are exponentially inflated relative
    * to the log form. The trade is deliberate — every arithmetic step is
    * a correctly-rounded IEEE-754 op, so rankings are bit-stable across
    * engines, which libm `log` does not guarantee. Requires a non-empty
    * corpus (idf is undefined over zero documents). */
  def bm25TopK(df: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    val st = df.agg(count(lit(1)).as("n"),
      sum(size(tokens(col(textCol)))).as("sum_dl")).head()
    require(st.getLong(0) > 0, "bm25TopK: corpus is empty")
    val (nDocs, sumDl) = (st.getLong(0), st.getLong(1))
    val idx = tokenIndex(df, textCol, idCol).filter(col("term").isin(terms: _*))
    val dfreq = idx.groupBy(col("term")).agg(count(lit(1)).as("df"))
    score(idx, dfreq, terms, k, nDocs, sumDl)
  }

  /** Persist the index: bucketed postings + df table + corpus stats.
    * `n_buckets` is recorded in `stats` and read back at query time —
    * never trusted from the caller (the `_graft_meta.json` lesson: a
    * layout parameter that can drift from the written layout silently
    * drops rows). A (re)build is one staged generation; a `batchId` the
    * index already committed is skipped. */
  def writeIndex(df: DataFrame, textCol: String, idCol: String,
      path: String, nBuckets: Int = 64,
      batchId: Option[Long] = None): Unit =
    StagedCommit.mutate(df.sparkSession, path, Bm25, batchId)(Some(
      stageIndexBuild(df, textCol, idCol, path, nBuckets, batchId)) -> ()): Unit

  /** [[writeIndex]]'s stage step: the three tables staged whole, the
    * tombstone parts it saw removed (they would mask, and statistically
    * mis-adjust, the new corpus; a delete appended later stays), the
    * manifest committed under `batchId`.
    * Package-visible so crash tests can stop here. */
  private[graft] def stageIndexBuild(df: DataFrame, textCol: String,
      idCol: String, path: String, nBuckets: Int,
      batchId: Option[Long] = None): String = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    // an empty corpus would persist n_docs=0 with a NULL sum_dl that
    // indexTopK reads back as 0 — refuse to write a degenerate index
    require(!df.isEmpty, "writeIndex: corpus is empty")
    StagedCommit.stage(df.sparkSession, path, batchId) { stg =>
      val idx = tokenIndex(df, textCol, idCol).localCheckpoint(false)
      // materialize the checkpoint once, then overlap the three table
      // writes — they are independent jobs over the cached index (and
      // the corpus, for stats) into disjoint directories, and each alone
      // is narrower than the cluster (the writeDual/stageMerge move)
      idx.count(): Unit
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence(Seq(
        Future(idx.withColumn("term_bucket",
            pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
          .write.partitionBy("term_bucket").mode("overwrite")
          .parquet(s"${stg.dir}/postings")),
        Future(idx.groupBy(col("term")).agg(count(lit(1)).as("df"))
          .write.mode("overwrite").parquet(s"${stg.dir}/terms")),
        Future(df.agg(count(lit(1)).as("n_docs"),
            sum(size(tokens(col(textCol)))).as("sum_dl"),
            lit(nBuckets.toLong).as("n_buckets"))
          .write.mode("overwrite").parquet(s"${stg.dir}/stats")))),
        scala.concurrent.duration.Duration.Inf): Unit
      Some(StagedCommit.Manifest(Seq("staged_postings" -> Nil,
        "staged_tables" -> Seq("postings", "terms", "stats")),
        removed = TombstoneMask.parts(df.sparkSession, path))) -> ()
    }._1.get
  }

  /** Index generation: advanced once per committed write/merge — of
    * every family sharing this meta shape (BM25, positional, IVF-PQ,
    * n-gram LM). */
  def readIndexEpoch(spark: SparkSession, path: String): Option[Long] =
    StagedCommit.metaField(spark, path, "epoch")

  /** Highest streaming batch id already merged into the index. */
  def readIndexBatchId(spark: SparkSession, path: String): Option[Long] =
    StagedCommit.metaField(spark, path, "last_batch_id")

  /** The BM25 index's commit shape: staged postings buckets plus whole
    * tables (terms and stats; a build stages postings whole too). */
  private val Bm25 = StagedCommit.Family(Seq(
    StagedCommit.PieceList("staged_postings", "postings"),
    StagedCommit.PieceList("staged_tables")))

  /** Incrementally merge a batch of NEW documents into a persisted
    * index — the text-index twin of `ObservationStore.mergeBatch`: a
    * continuously-ingesting corpus stays searchable without rebuilding.
    *
    * Batch doc ids must be disjoint from the indexed corpus (re-indexing
    * an existing document would duplicate its postings; enforcing that
    * globally would cost a full-index anti-join per batch, so it is the
    * caller's contract, like every append-only ingest).
    *
    * Cost scales with the BATCH, not the index: only the buckets the
    * batch's terms hash into are rewritten (existing postings in those
    * buckets are unioned back, new postings appended); the
    * document-frequency table is vocabulary-sized and merged by one
    * aggregation; stats is three scalars.
    *
    * CRASH SAFETY (staged commit, the `ObservationStore.mergeBatch`
    * machinery transplanted): postings buckets, the merged terms table
    * and the new stats are all written under `_staging_<generation>`
    * first; a manifest listing the staged pieces is the commit point;
    * applying is a sequence of idempotent renames that
    * [[recoverIndexMerge]] can replay after a crash at ANY point. Either
    * all three tables advance together (manifest written) or none did —
    * postings can no longer be merged while df/stats stay stale, which
    * would silently mis-score every subsequent query. */
  def mergeIndex(spark: SparkSession, path: String, batch: DataFrame,
      textCol: String, idCol: String,
      batchId: Option[Long] = None): Unit =
    // exactly-once under stream replays, the mergeBatch contract: a
    // batch the index already committed (marker rides the generation
    // write) is skipped, not double-merged
    StagedCommit.mutate(spark, path, Bm25, batchId)(Some(
      stageIndexMerge(spark, path, batch, textCol, idCol, batchId)) -> ()): Unit

  /** Stage merged postings/terms/stats under `_staging_<gen>` and commit
    * the manifest. Package-visible so crash tests can stop here. */
  private[graft] def stageIndexMerge(spark: SparkSession, path: String,
      batch: DataFrame, textCol: String, idCol: String,
      batchId: Option[Long] = None): String = {
    require(!batch.isEmpty, "mergeIndex: batch is empty")
    StagedCommit.stage(spark, path, batchId) { stg =>
      val st = spark.read.parquet(s"$path/stats").head()
      val (nDocs, sumDl, nBuckets) =
        (st.getAs[Long]("n_docs"), st.getAs[Long]("sum_dl"),
          st.getAs[Long]("n_buckets"))
      val newIdx = tokenIndex(batch, textCol, idCol)
        .withColumn("term_bucket", pmod(xxhash64(col("term")), lit(nBuckets)))
        .localCheckpoint(false) // feeds buckets, postings, df and stats once
      val touched = newIdx.select("term_bucket").distinct()
        .collect().map(_.getLong(0))
      // staging reads the live tables and writes ELSEWHERE, so none of the
      // lineage cuts the old in-place dynamic overwrite needed remain.
      // The three staged tables are independent jobs over the (already
      // materialized by the touched-probe) checkpointed batch index into
      // disjoint directories — overlap them, the writeDual/stageMerge move
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence(Seq(
        Future(spark.read.parquet(s"$path/postings")
          .filter(col("term_bucket").isin(touched.toIndexedSeq: _*))
          .select(newIdx.columns.toIndexedSeq.map(col): _*)
          .unionAll(newIdx)
          .repartition(col("term_bucket"))
          .sortWithinPartitions(col("term_bucket"), col("term"))
          .write.mode("overwrite").partitionBy("term_bucket")
          .parquet(s"${stg.dir}/postings")),
        // vocabulary-sized: merge document frequencies in one aggregation
        Future(spark.read.parquet(s"$path/terms")
          .unionAll(newIdx.groupBy(col("term")).agg(count(lit(1)).as("df")))
          .groupBy(col("term")).agg(sum(col("df")).cast("long").as("df"))
          .write.mode("overwrite").parquet(s"${stg.dir}/terms")),
        Future {
          val batchStats = batch.agg(count(lit(1)).as("n"),
            sum(size(tokens(col(textCol)))).as("dl")).head()
          spark.range(1).select(
              lit(nDocs + batchStats.getLong(0)).as("n_docs"),
              lit(sumDl + batchStats.getLong(1)).as("sum_dl"),
              lit(nBuckets).as("n_buckets"))
            .write.mode("overwrite").parquet(s"${stg.dir}/stats")
        })),
        scala.concurrent.duration.Duration.Inf): Unit
      // the manifest lists the staged pieces so apply can tell "already
      // swapped" from "staged data lost" (the latter must fail loudly,
      // not skip — a skip would commit postings without their matching
      // df)
      Some(bm25Manifest(spark, stg, "terms", "stats")) -> ()
    }._1.get
  }

  private def bm25Manifest(spark: SparkSession, stg: StagedCommit.Staging,
      tables: String*): StagedCommit.Manifest =
    StagedCommit.Manifest(Seq(
      "staged_postings" -> StagedCommit.stagedPartDirs(spark,
        s"${stg.dir}/postings", "term_bucket="),
      "staged_tables" -> tables))

  /** Structured-Streaming maintenance of the persisted index: each
    * micro-batch of NEW documents folds in with [[mergeIndex]] (the first
    * batch builds the index), so a continuously-ingesting corpus stays
    * searchable without rebuilds — the text-index twin of
    * `IngestPipeline.start`. [[mergeIndex]]'s staged commit gives one
    * index generation per micro-batch: a query between or during batches
    * never scores against postings and df/stats from different
    * generations. Batches must carry previously-unseen doc ids (the
    * [[mergeIndex]] append-only contract). */
  def streamIndex(spark: SparkSession, docs: DataFrame, textCol: String,
      idCol: String, path: String, checkpointDir: String,
      nBuckets: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    StagedCommit.stream(spark, docs, path, checkpointDir)(
      (batch, bid) =>
        writeIndex(batch, textCol, idCol, path, nBuckets, Some(bid)),
      (batch, bid) =>
        mergeIndex(spark, path, batch, textCol, idCol, Some(bid)))

  /** Resolve any interrupted [[mergeIndex]]: a staging dir WITH a manifest
    * is committed — finish its swaps and generation bump. One WITHOUT a
    * manifest may be a crash leftover OR a merge a live writer is staging
    * right now — only the writer path (`deleteUncommitted = true`) may
    * discard it; readers ([[indexTopK]]) leave it alone (the
    * `ObservationStore.recoverMerge` single-writer contract). */
  def recoverIndexMerge(spark: SparkSession, path: String,
      deleteUncommitted: Boolean = false): Unit =
    StagedCommit.recover(spark, path, Bm25, deleteUncommitted)

  /** Reciprocal-rank fusion of ranked candidate lists — the standard
    * hybrid-retrieval combiner (lexical BM25 ∪ vector ANN for RAG-style
    * search). Each input carries (id, rnk) with rnk 1-based; the fused
    * score is `Σ scale div (k0 + rnk)` — the RRF formula with the
    * division done in scaled EXACT integers (1e9/(60+r) keeps 7
    * significant digits at any plausible rank), so fusion is bit-stable
    * and oracle-checkable where float 1/(k+r) sums would depend on
    * addition order. Ties break by id. The inputs are top-N lists (tiny
    * by construction), so fusion costs one union + one aggregation over
    * ≤ Σ N rows. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, k0: Int = 60,
      scale: Long = 1000000000L): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    require(k0 >= 0, s"rrfFuse: k0 must be >= 0, got $k0")
    rankings.map(_.select(col("id"), col("rnk")))
      .reduce(_ unionAll _)
      .groupBy(col("id"))
      .agg(sum(expr(s"$scale div ($k0 + rnk)")).as("rrf_score"),
        count(lit(1)).as("n_sources"))
      .orderBy(col("rrf_score").desc, col("id").asc)
      .limit(k)
  }

  /** Hybrid search: BM25 over the text ∪ exact-cosine ANN over the
    * embeddings, RRF-fused. `kCand` candidates are drawn per modality
    * (each already a TakeOrdered top-N — no full ranking is ever
    * materialized), then fused driver-free. Documents and embeddings
    * join implicitly by sharing the id space. */
  def hybridTopK(docs: DataFrame, embeddings: DataFrame, textCol: String,
      idCol: String, embIdCol: String, embCol: String,
      terms: Seq[String], queryId: Long, k: Int,
      kCand: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // single-partition windows are fine here: the inputs are the top-N
    // candidate lists (≤ kCand rows), not the corpus
    def ranked(df: DataFrame, order: Column): DataFrame =
      df.withColumn("rnk",
          row_number().over(Window.orderBy(order, col("id").asc)))
        .select(col("id"), col("rnk"))
    val text = ranked(
      bm25TopK(docs, textCol, idCol, terms, kCand)
        .select(col("doc_id").as("id"), col("score")),
      col("score").desc)
    val vec = ranked(
      Similarity.topK(embeddings, embIdCol, embCol, queryId, kCand),
      col("cos_sim").desc)
    rrfFuse(Seq(text, vec), k)
  }

  /** BM25-monotone top-k through the persisted index: terms → bucket
    * literals → partition pruning; `term IN` pushes into the postings
    * scan; df comes from the stored vocabulary table. Bit-identical to
    * [[bm25TopK]] on the same corpus by construction (including its
    * ratio-idf scoring note). */
  def indexTopK(spark: SparkSession, path: String, terms: Seq[String],
      k: Int): DataFrame = {
    // finish any committed-but-unapplied merge first, so a reader never
    // scores against postings/df/stats from different generations
    recoverIndexMerge(spark, path)
    val st = spark.read.parquet(s"$path/stats").head()
    val (nDocs, sumDl, nBuckets) =
      (st.getAs[Long]("n_docs"), st.getAs[Long]("sum_dl"),
        st.getAs[Long]("n_buckets"))
    import spark.implicits._
    val buckets = terms.toDF("t")
      .select(pmod(xxhash64(col("t")), lit(nBuckets)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val idx = spark.read.parquet(s"$path/postings")
      .filter(col("term_bucket").isin(buckets: _*) &&
        col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val dfreq = spark.read.parquet(s"$path/terms")
      .filter(col("term").isin(terms: _*))
    // retracted documents ([[deleteFromIndex]]) mask out AND the
    // score inputs adjust — BM25 depends on n_docs/sum_dl/df, so
    // masking postings alone would still score against the pre-delete
    // statistics. Every adjustment is computable from the tombstones
    // (which carry dl) plus the already-read query-term postings, so
    // the query never scans beyond its term buckets.
    val tombs = TombstoneMask.parts(spark, path)
    if (tombs.isEmpty) score(idx, dfreq, terms, k, nDocs, sumDl)
    else {
      val tomb = TombstoneMask.read(spark, path, tombs)
        .groupBy(col("doc_id")).agg(max(col("dl")).as("t_dl"))
        .localCheckpoint(false)
      val ts = tomb.agg(count(lit(1)).as("n"), sum(col("t_dl")).as("dl"))
        .head()
      // sum(dl) is SQL NULL when every tombstoned doc was tokenless
      // (null text → null dl) — those docs shrink n_docs but not sum_dl
      val dlTomb = if (ts.isNullAt(1)) 0L else ts.getLong(1)
      if (ts.getLong(0) == 0L) score(idx, dfreq, terms, k, nDocs, sumDl)
      else {
        val tombIds = TombstoneMask.hinted(spark,
          tomb.select(col("doc_id")), path, tombs)
        val deadDf = idx.join(tombIds, Seq("doc_id"), "left_semi")
          .groupBy(col("term")).agg(count(lit(1)).as("dead_df"))
        val dfreqAdj = dfreq.join(deadDf, Seq("term"), "left")
          .select(col("term"),
            (col("df") - coalesce(col("dead_df"), lit(0L))).as("df"))
          .filter(col("df") > 0)
        score(idx.join(tombIds, Seq("doc_id"), "left_anti"), dfreqAdj,
          terms, k, nDocs - ts.getLong(0), sumDl - dlTomb)
      }
    }
  }

  /** Retraction on the persisted BM25 index — the takedown/GDPR path
    * (the [[Dedup.deleteFromBandIndex]] / IVF-tombstone twin): the
    * DOCUMENTS being deleted append as (doc_id, dl) tombstones (dl
    * recomputed by the index's own tokenizer — BM25's statistics need
    * it, and requiring the document makes "delete something never
    * indexed" structurally harder). [[indexTopK]] masks postings AND
    * adjusts n_docs/sum_dl/df from the tombstones until [[vacuumIndex]]
    * folds them in. Contract: only previously-indexed, not-yet-deleted
    * documents (re-deleting dedupes by id; deleting an absent id would
    * corrupt the statistics — vacuum verifies and refuses). Vacuum
    * cadence: the query-time mask broadcast is tombstone-sized — vacuum
    * before the un-vacuumed set gets broadcast-uncomfortable (~10⁷
    * ids), the discipline shared by every tombstoned index here. */
  def deleteFromIndex(spark: SparkSession, path: String, docs: DataFrame,
      textCol: String, idCol: String): Unit =
    docs.select(col(idCol).cast("long").as("doc_id"),
        size(tokens(col(textCol))).cast("long").as("dl"))
      .write.mode("append").parquet(s"$path/_tombstones")

  /** Fold BM25 tombstones into the index as ONE staged generation —
    * postings (touched term buckets only), terms (df decremented, empty
    * terms dropped) and stats (n_docs/sum_dl decremented) swap, and the
    * tombstone parts folded are removed, atomically under the merge
    * manifest, so a crash at any point either leaves the tombstones
    * masking (and a recovery replay re-applies) or the fully-vacuumed
    * index — never a state that double-subtracts. A delete appended
    * meanwhile stays. Touched buckets whose every posting
    * died stage an explicit empty piece (a pieced swap would otherwise
    * leave the dead files live). Verifies every tombstoned id actually holds
    * postings before staging — an id never indexed would silently skew
    * df/n_docs/sum_dl forever. Returns postings rows removed. */
  def vacuumIndex(spark: SparkSession, path: String): Long =
    StagedCommit.mutate(spark, path, Bm25) {
      val tombs = TombstoneMask.parts(spark, path)
      if (tombs.isEmpty) None -> 0L
      else StagedCommit.stage(spark, path, None) { stg =>
        val tomb = TombstoneMask.read(spark, path, tombs)
          .groupBy(col("doc_id")).agg(max(col("dl")).as("t_dl"))
          .localCheckpoint(false)
        val ts =
          tomb.agg(count(lit(1)).as("n"), sum(col("t_dl")).as("dl")).head()
        val (nTomb, dlTomb) =
          (ts.getLong(0), if (ts.isNullAt(1)) 0L else ts.getLong(1))
        if (nTomb == 0L)
          Some(bm25Manifest(spark, stg).copy(removed = tombs)) -> 0L
        else {
          val st = spark.read.parquet(s"$path/stats").head()
          val (nDocs, sumDl, nBuckets) =
            (st.getAs[Long]("n_docs"), st.getAs[Long]("sum_dl"),
              st.getAs[Long]("n_buckets"))
          val postings = spark.read.parquet(s"$path/postings")
          val tombIds = TombstoneMask.hinted(spark, tomb.select(col("doc_id")),
            path, tombs)
          val dead = postings.join(tombIds, Seq("doc_id"), "left_semi")
            .localCheckpoint(false) // feeds the per-term counts, touched set,
                                    // row count and the id check once
          // a legitimately indexed ZERO-TOKEN document is counted in
          // n_docs/sum_dl yet owns no postings rows — its tombstone records
          // dl=0 and must match zero postings, or deleting it would wedge
          // vacuum forever. Only dl>0 tombstones must hold postings; a dl=0
          // tombstone on a doc that DOES hold postings (a mis-recorded dl)
          // still trips the require, because matchedIds then exceeds the
          // dl>0 tombstone count.
          val matchedIds = dead.select(col("doc_id")).distinct().count()
          val nTombTokened = tomb.filter(col("t_dl") > 0).count()
          require(matchedIds == nTombTokened,
            s"vacuumIndex: $nTombTokened tombstoned ids carry tokens but " +
              s"$matchedIds hold postings — deleting a never-indexed id " +
              "would corrupt the index statistics; remove the bad " +
              "tombstones first")
          val removed = dead.count()
          val touched = dead.select(col("term_bucket").cast("long"))
            .distinct().collect().map(_.getLong(0)).toIndexedSeq
          val survivors = postings
            .filter(col("term_bucket").isin(touched: _*))
            .join(tombIds, Seq("doc_id"), "left_anti")
            .localCheckpoint(false) // reads the files the swap replaces
          // the three staged tables are independent jobs into disjoint
          // directories — overlap them (the writeIndex move); the manifest
          // below is still the only commit point
          import scala.concurrent.{Await, Future}
          import scala.concurrent.ExecutionContext.Implicits.global
          Await.result(Future.sequence(Seq(
            Future {
              survivors
                .repartition(col("term_bucket"))
                .sortWithinPartitions(col("term_bucket"), col("term"))
                .write.mode("overwrite").partitionBy("term_bucket")
                .parquet(s"${stg.dir}/postings")
              // fully-dead buckets wrote nothing above — stage explicit empty
              // pieces so the swap replaces (not strands) their live files
              val staying = survivors.select(col("term_bucket").cast("long"))
                .distinct().collect().map(_.getLong(0)).toSet
              StagedCommit.stageEmptyPieces(spark,
                survivors.drop("term_bucket"),
                touched.filterNot(staying)
                  .map(b => s"${stg.dir}/postings/term_bucket=$b"))
            },
            Future {
              val deadDf = dead.groupBy(col("term"))
                .agg(count(lit(1)).as("dead_df"))
              spark.read.parquet(s"$path/terms")
                .join(deadDf, Seq("term"), "left")
                .select(col("term"),
                  (col("df") - coalesce(col("dead_df"), lit(0L))).as("df"))
                .filter(col("df") > 0)
                .write.mode("overwrite").parquet(s"${stg.dir}/terms")
            },
            Future(spark.range(1).select(
                lit(nDocs - nTomb).as("n_docs"),
                lit(sumDl - dlTomb).as("sum_dl"),
                lit(nBuckets).as("n_buckets"))
              .write.mode("overwrite").parquet(s"${stg.dir}/stats")))),
            scala.concurrent.duration.Duration.Inf): Unit
          // the folded tombstones go WITH the adjusted tables: any other
          // ordering double-subtracts on one side of a crash
          Some(bm25Manifest(spark, stg, "terms", "stats")
            .copy(removed = tombs)) -> removed
        }
      }
    }.get

  /** Ranked-retrieval EVALUATION — the recall-gate discipline the ANN
    * stack already has (`lsh_recall`, `pq_recall`, …) applied to text
    * retrieval: per query, reciprocal rank of the best-ranked relevant
    * document and hits@k against a relevance set, as exact integers
    * (`rr_ppm = 10⁶ div best_rank`; 0 when nothing relevant ranks —
    * never a float MRR that won't hash-compare across engines).
    *
    * `results`: (query_id, doc_id, rank) with rank 1-based within each
    * query — the shape any of [[bm25TopK]]/[[indexTopK]]/[[hybridTopK]]
    * produces after a deterministic (score desc, doc_id asc) ordering.
    * `qrels`: (query_id, doc_id) relevance pairs. Queries present only
    * in `qrels` (retrieval whiffed completely) still emit a row — a
    * silent drop would overstate MRR, the classic eval bug — and so do
    * queries present only in `results` (no relevance judgments: the
    * mirror-image drop, which a caller averaging rr_ppm over OUTPUT
    * rows would read as inflated MRR); those emit `n_rel = 0` rows
    * with `best_rank`/`rr_ppm`/`hits_at_k` all 0, since nothing in an
    * unjudged query can be relevant.
    *
    * Shape: one equi-join on (query_id, doc_id) + two query-count-sized
    * aggregations — queries are few, documents are not; nothing here
    * touches the corpus. */
  def rankingEval(results: DataFrame, qrels: DataFrame,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"rankingEval: k must be >= 1, got $k")
    val rel = qrels.select(col("query_id"), col("doc_id"))
      .withColumn("_rel", lit(1L))
    val perQuery = results
      .join(rel, Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id"))
      .agg(min(when(col("_rel").isNotNull, col("rank"))).as("best_rank"),
        sum(when(col("_rel").isNotNull && col("rank") <= k, 1L)
          .otherwise(0L)).as("hits_at_k"))
    val nRel = rel.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    nRel.join(perQuery, Seq("query_id"), "full_outer")
      .select(col("query_id"), coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("best_rank"), lit(0L)).as("best_rank"),
        coalesce(expr("1000000 div best_rank"), lit(0L)).as("rr_ppm"),
        coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"))
  }

  /** Hard-negative mining — the step between a retrieval run and a
    * contrastive/reranker training set: for each query, the top `k`
    * retrieved candidates that are NOT relevant (the model scored them
    * high and the judgments say they're wrong — exactly the negatives
    * worth training on, vs. random negatives the model already
    * separates).
    *
    * `results`: (query_id, doc_id, rank) as produced by any of the
    * top-k retrievals (rank 1-based per query); `qrels`: (query_id,
    * doc_id) relevance pairs. Output: the surviving candidates with
    * their original `rank` plus a dense per-query `neg_rank` 1..k.
    *
    * Shape: one anti-join on (query_id, doc_id) — broadcast when qrels
    * are judgment-sized, never corpus-wide — then a per-query window
    * over candidate lists already bounded by the RETRIEVAL's k (the
    * window's partition is ≤ pool-sized by construction, so the
    * stableRank scale concern does not apply). */
  def hardNegatives(results: DataFrame, qrels: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"hardNegatives: k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    results
      .join(qrels.select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rank").asc, col("doc_id").asc)).cast("long"))
      .filter(col("neg_rank") <= k)
  }

  /** The nDCG@k integer discount table: `floor(10⁶ / log₂(r+1))` for
    * ranks 1..k. ONE definition shared by [[ndcgEval]] and the gate's
    * oracle text (interpolated as literals), so the two cannot drift —
    * the table IS the determinism anchor: once the discounts are fixed
    * integers, DCG is a plain integer dot product any engine computes
    * identically. */
  def ndcgDiscountsMicro(k: Int): Seq[Long] =
    (1 to k).map(r =>
      math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0))).toLong)

  /** Graded-relevance nDCG@k — the ranking-quality eval beside
    * [[rankingEval]]'s binary MRR/hits: position-discounted gain
    * against the ideal ordering, `ndcg_permille = 1000·DCG div IDCG`.
    * Gains are graded integer `rel` from qrels (missing pair = 0);
    * discounts come from [[ndcgDiscountsMicro]]'s fixed integer table,
    * so the whole metric is exact integer arithmetic end to end.
    *
    * Semantics: `results` rows beyond rank k are ignored; the ideal
    * ordering is the query's qrels sorted (rel desc, doc_id asc)
    * truncated to k; IDCG = 0 (positive qrels exist nowhere) → null
    * nDCG. A query appears in the output iff it has ranked results or
    * positive qrels (full outer of the two sides — a query with only
    * zero-grade qrels and no results is not scorable).
    *
    * Scale shape: one equi-join at result size, two query-keyed
    * aggregations, one qrel-sized window — everything past the join is
    * query-count-sized. */
  def ndcgEval(results: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 100, s"k in [1, 100], got $k")
    import org.apache.spark.sql.expressions.Window
    val wArr = array(ndcgDiscountsMicro(k).map(lit): _*)
    val dcg = results.filter(col("rank").between(1L, k.toLong))
      .join(qrels.select(col("query_id"), col("doc_id"),
        col("rel").cast("long").as("_rel")),
        Seq("query_id", "doc_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("_rel"), lit(0L)) *
        element_at(wArr, col("rank").cast("int"))).as("dcg_micro"))
    val idcg = qrels.filter(col("rel") > 0L)
      .withColumn("_rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("rel").desc, col("doc_id").asc)))
      .filter(col("_rn") <= k)
      .groupBy(col("query_id"))
      .agg(sum(col("rel").cast("long") * element_at(wArr, col("_rn")))
        .as("idcg_micro"))
    dcg.join(idcg, Seq("query_id"), "full_outer")
      .select(col("query_id"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        coalesce(col("idcg_micro"), lit(0L)).as("idcg_micro"),
        when(coalesce(col("idcg_micro"), lit(0L)) > 0L,
          expr("coalesce(dcg_micro, 0) * 1000 div idcg_micro"))
          .as("ndcg_permille"))
  }

  /** Keyword-in-context snippets — what a search RESULT PAGE shows
    * (the index answers WHICH docs; this answers what the user sees):
    * for each doc containing `phrase` as a literal substring, the
    * 1-based match position and a window of `window` characters of
    * context on each side, clamped at the document start. Pure
    * character arithmetic (`instr`/`substr`, 1-based in every engine),
    * narrow, zero shuffle; non-matching docs drop. Output:
    * `(idCol, pos, snippet)`. */
  def searchSnippets(docs: DataFrame, idCol: String, textCol: String,
      phrase: String, window: Int = 50): DataFrame = {
    require(phrase.nonEmpty, "searchSnippets: empty phrase")
    require(window >= 0, s"window must be >= 0, got $window")
    docs
      .withColumn("pos", instr(col(textCol), phrase).cast("long"))
      .filter(col("pos") > 0L)
      .withColumn("_start", greatest(lit(1L), col("pos") - window))
      .select(col(idCol), col("pos"),
        col(textCol).substr(col("_start"),
          (col("pos") - col("_start")) + lit((phrase.length + window).toLong))
          .as("snippet"))
  }

  /** Character trigrams of a text column as a DISTINCT array — the
    * indexing unit of trigram substring search (the pg_trgm / Lucene
    * n-gram-filter design): every substring of length ≥ 3 is fully
    * determined by the set of trigrams it contains, so an inverted
    * trigram index can answer arbitrary `contains`/wildcard queries
    * without a corpus scan. Texts shorter than 3 chars have none. */
  def charTrigrams(text: Column): Column = {
    val t = when(length(text) >= 3,
      transform(sequence(lit(1), length(text) - 2),
        i => text.substr(i, lit(3))))
      .otherwise(expr("cast(array() as array<string>)"))
    array_distinct(t)
  }

  /** Index-accelerated substring search — `contains(text, q)` for a
    * batch of queries WITHOUT scanning the corpus per query, the way
    * every wildcard/substring-capable engine does it (PostgreSQL
    * pg_trgm, Lucene n-gram filters): docs post their distinct
    * [[charTrigrams]] once; a query's trigrams are ANDed over the
    * posting lists (a doc is a candidate iff it posts EVERY query
    * trigram — trigram containment is necessary, not sufficient), and
    * only candidates are verified with the real `contains`. False
    * positives die at verification; false negatives cannot exist.
    *
    * Scale shape: the query side (a handful of trigram rows) BROADCASTS
    * into a semi-join against the postings — only postings of queried
    * trigrams survive to the one candidate-counting shuffle, which
    * carries (query, doc) pairs for matching trigrams only, never the
    * corpus. Verification joins the candidate set (small by
    * construction — docs sharing every query trigram) back to the docs
    * as a BROADCAST, so the corpus is read narrow, once, and never
    * shuffled. At 100 TB the postings persist partitioned by
    * `pmod(xxhash64(trigram), nBuckets)` exactly like [[writeIndex]]'s
    * term buckets (directory pruning on the query's trigrams); the
    * in-memory form here shares every downstream step with that layout.
    * Queries must be ≥ 3 chars (shorter can't be trigram-pruned).
    * Output: `(query, idCol)` — every (query, matching doc) pair. */
  def trigramSearch(df: DataFrame, textCol: String, idCol: String,
      queries: Seq[String]): DataFrame = {
    require(queries.nonEmpty, "trigramSearch: no queries")
    require(queries.forall(_.length >= 3),
      s"trigramSearch: queries must be >= 3 chars, got $queries")
    require(queries.distinct.size == queries.size,
      s"trigramSearch: duplicate queries in $queries")
    val spark = df.sparkSession
    import spark.implicits._
    val postings = df.select(col(idCol).as("_id"),
      explode(charTrigrams(col(textCol))).as("_tri"))
    val qside = queries.map(q => (q, q.sliding(3).toSeq.distinct))
      .toDF("query", "_qtris")
      .select(col("query"), size(col("_qtris")).as("_need"),
        explode(col("_qtris")).as("_tri"))
    val candidates = postings.join(broadcast(qside), "_tri")
      .groupBy(col("query"), col("_id"), col("_need"))
      .agg(count(lit(1)).as("_got"))
      .filter(col("_got") === col("_need").cast("long"))
      .select(col("query"), col("_id"))
    df.select(col(idCol).as("_id"), col(textCol).as("_text"))
      .join(broadcast(candidates), "_id")
      .filter(contains(col("_text"), col("query")))
      .select(col("query"), col("_id").as(idCol))
  }
}
