package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale document deduplication operators (project north star:
  * training-data pipeline ops beyond the reference's surface).
  *
  * All hashing is content-derived (md5) — no RNG — so results are
  * deterministic across runs, engines, and cluster sizes, and every
  * operator is expressible as an identical DuckDB oracle.
  *
  * Scale design:
  *  - exact dedup: one shuffle on the content hash (map-side partial agg);
  *  - MinHash-LSH: narrow per-row signature compute, then one shuffle on
  *    (band_idx, band_hash) whose buckets are tiny by construction — the
  *    candidate self-join is bucket-local, never an all-pairs product;
  *  - n-gram Jaccard: inverted-index join on shingle (shuffle on shingle),
  *    group by pair — classic "similarity join via token index", linear in
  *    total postings, not quadratic in documents;
  *  - the exact-Jaccard verify joins only candidate pairs back to the
  *    (small) per-doc shingle arrays.
  */
object Dedup {

  /** Distinct 3-word shingles of a whitespace-tokenized text column. */
  def shingles(text: Column, n: Int = 3): Column = {
    val tokens = split(text, " ")
    array_distinct(
      when(size(tokens) < n, array(concat_ws(" ", tokens)))
        .otherwise(transform(
          sequence(lit(0), size(tokens) - n),
          i => concat_ws(" ", slice(tokens, i + 1, lit(n))))))
  }

  /** MinHash signature: lane j = min over shingles of the 16-hex-char
    * window at offset 2·j of the circular md5 digest —
    * `substr(md5(s)||md5(s), 2*j+1, 16)` in SQL, so ONE digest per
    * shingle serves all k ≤ 16 lanes (the digest dominates the cost; the
    * per-lane work is a 16-char compare). Hex windows compare
    * lexicographically — a uniform order portable to any engine with md5
    * and substr. Computed by the native one-pass
    * [[org.apache.spark.sql.graft.MinHashSig]] expression. */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    org.apache.spark.sql.GraftShims.column(
      org.apache.spark.sql.graft.MinHashSig(
        org.apache.spark.sql.GraftShims.expression(shinglesCol),
        org.apache.spark.sql.GraftShims.expression(lit(numHashes))))

  /** LSH band keys: band j = md5(concat of its rows of the signature). */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws("|", slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)))))

  /** Validated rows-per-band: `bands` must divide `numHashes` exactly.
    * Truncating division would be silently catastrophic in BOTH
    * directions — bands > numHashes gives rowsPerBand = 0, every band
    * hashes the empty slice, all documents collide in all bands and
    * candidate generation degenerates to the full O(n²) product; a
    * non-divisor quietly ignores trailing signature lanes, weakening
    * the advertised recall. */
  private def bandRows(numHashes: Int, bands: Int): Int = {
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) with at least " +
        "one signature lane per band")
    numHashes / bands
  }

  /** Exact duplicates by full-content hash: one row per distinct content
    * with the surviving (minimum) id and the duplicate count. */
  def exactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash+LSH near-duplicate pairs, verified by exact Jaccard ≥
    * `threshold`. Output: (id_a < id_b, jaccard). Deterministic: md5-based
    * signatures mean the candidate set is a pure function of the data. */
  def minhashNearDuplicates(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 4, threshold: Double = 0.8): DataFrame = {
    val rowsPerBand = bandRows(numHashes, bands)
    // the (id, shingles, signature) projection is referenced by the band
    // index AND both sides of the verify join: materialize it once
    // (similarity-join systems store the tokenized form for the same
    // reason) instead of re-shingling per reference
    val docs = df.select(col(idCol).as("id"), shingles(col(textCol)).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes))
      .localCheckpoint(false)
    val bandsDf = docs.select(col("id"),
        posexplode(lshBands(col("sig"), bands, rowsPerBand))
          .as(Seq("band_idx", "band_hash")))
    val a = bandsDf.as("a")
    val b = bandsDf.as("b")
    val candidates = a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    jaccardVerify(candidates, docs, threshold)
  }

  /** Cross-corpus (delta) near-duplicate detection: which documents of an
    * incoming BATCH near-duplicate something already in the CORPUS. The
    * asymmetric counterpart of [[minhashNearDuplicates]] — a continuously
    * growing corpus never re-deduplicates itself against itself; each
    * increment joins only `batch × corpus` through the LSH band index:
    * shuffle batch bands (small) against corpus bands (large, and at
    * scale PRE-COMPUTED and stored partitioned by (band_idx, band_hash),
    * so the increment only reads matching buckets). Exact-Jaccard verify
    * on candidates only. Output: (batch_id, corpus_id, jaccard). */
  def crossCorpusNearDuplicates(
      corpus: DataFrame, batch: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val rowsPerBand = bandRows(numHashes, bands)
    def prep(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"), shingles(col(textCol)).as("sh"))
        .withColumn("sig", minhashSignature(col("sh"), numHashes))
        .localCheckpoint(false)
    def bandsOf(docs: DataFrame): DataFrame =
      docs.select(col("id"),
        posexplode(lshBands(col("sig"), bands, rowsPerBand))
          .as(Seq("band_idx", "band_hash")))
    val corpusDocs = prep(corpus)
    val batchDocs = prep(batch)
    // id inequality: a document is not a duplicate of ITSELF. Matters
    // under replay — a foreachBatch retry after a partial completion
    // sees its own docs already in the corpus under the same ids, and
    // without this guard every one would self-match and be rejected
    // (wiping the batch's corpus partition on the idempotent rewrite).
    val candidates = bandsOf(batchDocs).as("b")
      .join(bandsOf(corpusDocs).as("c"),
        col("b.band_idx") === col("c.band_idx") &&
          col("b.band_hash") === col("c.band_hash") &&
          col("b.id") =!= col("c.id"))
      .select(col("b.id").as("batch_id"), col("c.id").as("corpus_id"))
      .distinct()
    candidates
      .join(batchDocs.select(col("id").as("batch_id"), col("sh").as("sh_b")),
        "batch_id")
      .join(corpusDocs.select(col("id").as("corpus_id"), col("sh").as("sh_c")),
        "corpus_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh_b"), col("sh_c"))).cast("double") /
          size(array_union(col("sh_b"), col("sh_c"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  /** The corpus MinHash band index as a DataFrame: one row per
    * (document, band) carrying the document's shingle set — the shingles
    * are duplicated `bands`× in exchange for verify needing NO join back
    * to a docs table (the standard LSH-index storage trade). */
  def buildBandIndex(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val rowsPerBand = bandRows(numHashes, bands)
    df.select(col(idCol).as("corpus_id"), shingles(col(textCol)).as("sh_c"))
      .withColumn("sig", minhashSignature(col("sh_c"), numHashes))
      .select(col("corpus_id"), col("sh_c"),
        posexplode(lshBands(col("sig"), bands, rowsPerBand))
          .as(Seq("band_idx", "band_hash")))
  }

  /** Build AND persist the band index partitioned by `(band_idx,
    * batch)`, sorted by `band_hash` within files — partition pruning on
    * the band, row-group min/max skipping on the hash. The `batch` level
    * is the increment unit: [[mergeBandIndex]] folds each new batch of
    * documents in as its own `batch=<id>` partition under every band
    * (staged commit — the signature compute is paid ONCE per document
    * ever, not once per delta batch), and partition discovery gives
    * readers the union. The initial build lands as `batch=0`.
    *
    * Takes the DOCUMENTS, not a prebuilt index DataFrame: the recorded
    * `(numHashes, bands)` metadata that every later [[mergeBandIndex]] /
    * [[deltaDedupAgainstIndex]] trusts is therefore by construction the
    * parameters the signatures were computed under — a caller can no
    * longer build with one set and record another (the store's
    * num_buckets lesson: a drifting layout parameter silently corrupts).
    *
    * `batchId`: the micro-batch id when the initial build IS itself a
    * streaming batch (the curation pipeline's bootstrap) — committed with
    * the build's generation as the exactly-once high-water mark, so a
    * foreachBatch RETRY of that same batch is skipped instead of folding
    * the identical documents in twice. A rebuild without a `batchId`
    * keeps the recorded high-water mark (rebuilds change layout, not
    * merge history); one with a `batchId` the index already committed is
    * skipped. */
  def writeBandIndex(docs: DataFrame, textCol: String, idCol: String,
      path: String, numHashes: Int = 16, bands: Int = 4,
      batchId: Option[Long] = None): Unit =
    StagedCommit.mutate(docs.sparkSession, path, Band, batchId)(Some(
      stageBandBuild(docs, textCol, idCol, path, numHashes, bands,
        batchId)) -> ()): Unit

  /** [[writeBandIndex]]'s stage step: every band directory staged whole
    * (so the merged `batch=<id>` leaves under the live one go with it),
    * a band the old index had and this one lacks removed, the tombstone
    * parts it saw removed (one appended later stays). Package-visible so
    * crash tests can stop here. */
  private[graft] def stageBandBuild(docs: DataFrame, textCol: String,
      idCol: String, path: String, numHashes: Int, bands: Int,
      batchId: Option[Long] = None): String =
    StagedCommit.stage(docs.sparkSession, path, batchId) { stg =>
      buildBandIndex(docs, textCol, idCol, numHashes, bands)
        .withColumn("batch", lit(0L))
        .repartition(col("band_idx"), col("band_hash"))
        .sortWithinPartitions(col("band_hash"))
        .write.mode("overwrite").partitionBy("band_idx", "batch")
        .parquet(stg.dir)
      val staged = StagedCommit.stagedPartDirs(docs.sparkSession, stg.dir,
        "band_idx=")
      val stale = (0L until stg.meta.getOrElse("bands", 0L))
        .map(b => s"band_idx=$b").filterNot(staged.contains)
      Some(StagedCommit.Manifest(Seq("staged_bands" -> staged),
        bandFields(numHashes, bands),
        stale ++ TombstoneMask.parts(docs.sparkSession, path))) -> ()
    }._1.get

  private def bandFields(numHashes: Int, bands: Int): Seq[(String, Long)] =
    Seq("num_hashes" -> numHashes.toLong, "bands" -> bands.toLong)

  /** The band index's commit shape: staged band directories (a build)
    * or `band_idx=<i>/batch=<id>` leaves (a merge or vacuum) at the index
    * root, carrying the band parameters into the meta. */
  private val Band = StagedCommit.Family(
    Seq(StagedCommit.PieceList("staged_bands")),
    carried = Seq("num_hashes", "bands"))

  /** Load the index for querying ([[deltaDedupAgainstIndex]]): resolves
    * committed-but-unapplied merges first (reader path) and hides the
    * `batch` bookkeeping column. */
  def loadBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    StagedCommit.recover(spark, path, Band, deleteUncommitted = false)
    val base = spark.read.parquet(path).drop("batch")
    // retracted documents ([[deleteFromBandIndex]]) mask out via an
    // anti-join (broadcast under [[TombstoneMask]]'s driver-memory
    // bound, shuffled past it) until the next vacuum folds them in
    TombstoneMask.antiJoin(spark, base, path, "corpus_id", "corpus_id")
  }

  /** Fold a batch of NEW documents into a persisted band index — the
    * missing half of the "persist the index once" scale path: a
    * continuously growing corpus pays one signature pass per batch and
    * ONE staged swap, never an index rebuild. Exactly-once by batch id
    * (the store/BM25 contract: a replayed `batchId` ≤ the recorded
    * high-water mark is a no-op), crash-safe through [[StagedCommit]]
    * (the manifest lists every staged `band_idx=<i>/batch=<id>` piece;
    * the epoch commits last). Band parameters come from the index's own
    * recorded metadata — never from the caller. Returns the number of
    * band rows merged (0 on replay skip). */
  def mergeBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, textCol: String, idCol: String,
      batchId: Long): Long =
    StagedCommit.mutate(spark, path, Band, Some(batchId)) {
      stageBandMerge(spark, path, batch, textCol, idCol, batchId)
    }.getOrElse(0L)

  /** Stage the batch's band rows as `batch=<batchId>` leaves and commit
    * the manifest; package-visible so crash tests can stop here. Returns
    * the staging dir (None for an empty batch: nothing staged, marker
    * unmoved) and the band rows staged. */
  private[graft] def stageBandMerge(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, textCol: String, idCol: String,
      batchId: Long): (Option[String], Long) =
    StagedCommit.stage(spark, path, Some(batchId)) { stg =>
      val (numHashes, bands) = recordedParams(path, stg)
      buildBandIndex(batch, textCol, idCol, numHashes, bands)
        .withColumn("batch", lit(batchId))
        .repartition(col("band_idx"), col("band_hash"))
        .sortWithinPartitions(col("band_hash"))
        .write.mode("overwrite").partitionBy("band_idx", "batch")
        .parquet(stg.dir)
      val pieces = StagedCommit.stagedPartDirs(spark, stg.dir, "band_idx=")
        .map(bd => s"$bd/batch=$batchId")
      if (pieces.isEmpty) None -> 0L
      else Some(StagedCommit.Manifest(Seq("staged_bands" -> pieces),
        bandFields(numHashes, bands))) -> spark.read.parquet(stg.dir).count()
    }

  /** Index generation: advanced once per committed write/merge. */
  def readBandEpoch(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Long] =
    StagedCommit.metaField(spark, path, "epoch")

  /** Highest batch id already merged (the exactly-once high-water mark). */
  def readBandBatchId(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Long] =
    StagedCommit.metaField(spark, path, "last_batch_id")

  /** The recorded (numHashes, bands) the index was built with. */
  def readBandParams(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(Int, Int)] =
    bandParams(StagedCommit.readMeta(spark, path))

  private def bandParams(meta: Map[String, Long]): Option[(Int, Int)] =
    for {
      nh <- meta.get("num_hashes")
      nb <- meta.get("bands")
    } yield (nh.toInt, nb.toInt)

  /** The parameters a merge or vacuum carries into its manifest. */
  private def recordedParams(path: String,
      stg: StagedCommit.Staging): (Int, Int) =
    bandParams(stg.meta).getOrElse(throw new IllegalArgumentException(
      s"band index at $path has no recorded parameters; rebuild it " +
        "with writeBandIndex first"))

  /** Retraction on the persisted band index — the takedown/GDPR path a
    * long-lived dedup corpus needs (the [[Similarity.deleteFromIvfIndex]]
    * twin): deleted corpus ids append to `<path>/_tombstones` (O(deleted)
    * — no index rewrite on the request path) and [[loadBandIndex]] masks
    * them with a broadcast anti-join until [[vacuumBandIndex]] folds them
    * in. Deletion changes candidate VISIBILITY only — a retracted
    * document can no longer suppress an incoming duplicate.
    *
    * Vacuum CADENCE: the mask broadcast is tombstone-sized, so the
    * interim cost grows with un-vacuumed deletions — vacuum once the
    * set reaches broadcast-uncomfortable size (~10⁷ ids), the same
    * discipline as the IVF tombstones. */
  def deleteFromBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame): Unit =
    ids.select(col(ids.columns.head).cast("long").as("corpus_id"))
      .write.mode("append").parquet(s"$path/_tombstones")

  def deleteFromBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    deleteFromBandIndex(spark, path, ids.toDF("corpus_id"))
  }

  /** Fold band-index tombstones into the partition files as ONE staged
    * generation ([[TombstoneMask.stageFold]], the
    * [[Similarity.vacuumIvfIndex]] contract): ONLY `(band_idx, batch)`
    * leaves that hold a deleted id restage their survivors, leaves whose
    * every row died are removed, and the tombstone parts it folded go in
    * the same swap (a delete appended meanwhile stays) — a crash
    * anywhere leaves the tombstones masking queries or the fully
    * vacuumed index. Any committed merge replays first, so its rows fold
    * too. The epoch advances once, like every other vacuum.
    * Returns the number of band rows removed. */
  def vacuumBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Long =
    StagedCommit.mutate(spark, path, Band)(stageBandVacuum(spark, path)).get

  /** [[vacuumBandIndex]]'s stage step: the staging dir (None without
    * tombstones) and the band rows removed. Package-visible so tests can
    * stop here. */
  private[graft] def stageBandVacuum(spark: org.apache.spark.sql.SparkSession,
      path: String): (Option[String], Long) = {
    val tombs = TombstoneMask.parts(spark, path)
    if (tombs.isEmpty) None -> 0L
    else StagedCommit.stage(spark, path, None) { stg =>
      val (numHashes, bands) = recordedParams(path, stg)
      val (pieces, removed, n) = TombstoneMask.stageFold(spark, path, tombs,
        "", "corpus_id", Seq("band_idx", "batch"), stg)(
        _.repartition(col("band_idx"), col("band_hash"))
          .sortWithinPartitions(col("band_hash")))
      Some(StagedCommit.Manifest(Seq("staged_bands" -> pieces),
        bandFields(numHashes, bands), removed)) -> n
    }
  }

  /** Delta dedup against a PRECOMPUTED band index (built/persisted via
    * [[buildBandIndex]]/[[writeBandIndex]]): only the batch side computes
    * signatures; candidates come from the band equi-join; exact verify
    * uses the shingles carried in the index. */
  def deltaDedupAgainstIndex(bandIndex: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val rowsPerBand = bandRows(numHashes, bands)
    val batchBands = batch
      .select(col(idCol).as("batch_id"), shingles(col(textCol)).as("sh_b"))
      .withColumn("sig", minhashSignature(col("sh_b"), numHashes))
      .select(col("batch_id"), col("sh_b"),
        posexplode(lshBands(col("sig"), bands, rowsPerBand))
          .as(Seq("b_band_idx", "b_band_hash")))
    batchBands
      // corpus_id =!= batch_id: self-pairs arise only under replay (a
      // retried batch whose docs were already folded into the index) and
      // must not count as duplicates — see crossCorpusNearDuplicates
      .join(bandIndex,
        col("b_band_idx") === col("band_idx") &&
          col("b_band_hash") === col("band_hash") &&
          col("batch_id") =!= col("corpus_id"))
      // a true duplicate matches on EVERY band — dedupe candidate pairs
      // BEFORE the shingle-array verify so the intersect/union runs once
      // per pair, not once per matching band (the hottest rows are
      // exactly the ones that match all bands)
      .select(col("batch_id"), col("sh_b"), col("corpus_id"), col("sh_c"))
      .dropDuplicates("batch_id", "corpus_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh_b"), col("sh_c"))).cast("double") /
          size(array_union(col("sh_b"), col("sh_c"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  /** Exact n-gram Jaccard similarity join via shingle inverted index with
    * the full PPJoin filter stack — all three filters are exact-preserving
    * (they can only prune pairs that provably violate J ≥ t; the final
    * verify is exact), so the output equals the all-pairs truth:
    *  - PREFIX filter: for J(A,B) ≥ t the canonically sorted prefixes of
    *    length |X| − ⌈t·|X|⌉ + 1 must intersect, so only prefix shingles
    *    are indexed — posting volume drops by ~(1−t);
    *  - LENGTH filter: J ≥ t ⟹ min(|A|,|B|) ≥ t·max(|A|,|B|) — prunes
    *    most pairs meeting only on a frequent shingle;
    *  - POSITIONAL filter: a common shingle at (1-based) sorted positions
    *    (pa, pb) bounds the overlap by min(pa,pb) + min(|A|−pa, |B|−pb)
    *    (≤ min(pa,pb)−1 common before it, itself, suffix overlap), which
    *    must reach α = ⌈t/(1+t)·(|A|+|B|)⌉; for any pair with J ≥ t the
    *    FIRST common prefix shingle satisfies the (tighter, common-before
    *    = 0) bound, so at least one posting match survives and the
    *    distinct pair set is unchanged.
    * The length+positional filters are the skew guard: a shingle shared by
    * k docs no longer yields k²/2 candidates — only near-length,
    * position-compatible pairs survive the join condition. */
  def ngramJaccardPairs(
      df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8): DataFrame = {
    val docs = df.select(col(idCol).as("id"), shingles(col(textCol)).as("sh"))
      .localCheckpoint(false)
    // canonical order: lexicographic; prefix keeps the first
    // |sh| - ceil(t*|sh|) + 1 elements. The epsilon keeps the ceil from
    // overshooting the EXACT ceiling when the double product lands just
    // above an integer (0.55·100 = 55.000…01 → ceil 56 would shorten
    // the prefix below the PPJoin-safe length and silently drop
    // qualifying pairs); erring low only lengthens the prefix — more
    // candidates, verify still exact.
    val prefixLen = size(col("sh")) -
      ceil(size(col("sh")).cast("double") * threshold - 1e-9).cast("int") + 1
    // the prefix is defined on lexicographic STRING order (canonical on
    // both engines), but the join only needs key EQUALITY — hash the
    // sliced prefix shingles to 8-byte longs so the self-join shuffles
    // fixed-width keys instead of n-gram strings. A collision can only
    // ADD a candidate (the exact verify prunes it), never drop one.
    val postings = docs.select(col("id"), size(col("sh")).as("sz"),
      posexplode(transform(
        slice(array_sort(col("sh")), lit(1), prefixLen), s => xxhash64(s)))
        .as(Seq("pos", "shingle")))
    // float-safety: filters are pruning-only (verify is exact), so a tiny
    // epsilon keeps binary-representation edge cases on the KEEP side
    val eps = 1e-9
    val lenOk = least(col("a.sz"), col("b.sz")).cast("double") >=
      greatest(col("a.sz"), col("b.sz")).cast("double") * threshold - eps
    val pa = col("a.pos") + 1
    val pb = col("b.pos") + 1
    val overlapUb = least(pa, pb) +
      least(col("a.sz") - pa, col("b.sz") - pb)
    val posOk = overlapUb.cast("double") * (1.0 + threshold) >=
      (col("a.sz") + col("b.sz")).cast("double") * threshold - eps
    val candidates = postings.as("a")
      .join(postings.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id") &&
          lenOk && posOk)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    jaccardVerify(candidates, docs, threshold)
  }

  /** Join candidate (id_a, id_b) pairs back to shingle arrays and keep
    * those with exact Jaccard ≥ threshold — in two stages, because the
    * candidate set is typically ~100× the true pair set and the string
    * intersect dominates the whole similarity join (measured 5.6 s of an
    * 8 s gate):
    *  1. PRE-FILTER on 64-bit-hashed shingles: intersect counts over
    *     `xxhash64` longs cost ~3× less than over n-gram strings. A hash
    *     collision can shift the hashed count by ±1 per colliding string
    *     pair, so the filter allows ONE count of slack — a true pair is
    *     lost only if ≥ 2 simultaneous 64-bit collisions deflate one
    *     pair's intersection (~2⁻¹²⁸-scale; each single collision is
    *     already ~|sh|²/2⁶⁴).
    *  2. EXACT verify of the survivors (≈ the true pairs) on the string
    *     arrays, so every EMITTED row and its jaccard value are computed
    *     collision-free. |A ∪ B| = |A| + |B| − |A ∩ B| (the arrays are
    *     `array_distinct`-ed at shingling), so one intersect per stage —
    *     no `array_union` pass. */
  private def jaccardVerify(candidates: DataFrame, docs: DataFrame,
      threshold: Double): DataFrame = {
    val hashed = docs.select(col("id"), size(col("sh")).as("hsz"),
      transform(col("sh"), s => xxhash64(s)).as("hs"))
    val ih = size(array_intersect(col("h_a"), col("h_b")))
      .cast("double") + 1.0
    val pre = candidates
      .join(hashed.select(col("id").as("id_a"), col("hs").as("h_a"),
        col("hsz").as("sz_a")), "id_a")
      .join(hashed.select(col("id").as("id_b"), col("hs").as("h_b"),
        col("hsz").as("sz_b")), "id_b")
      .filter(ih / (col("sz_a") + col("sz_b") - ih) >= threshold - 1e-9)
      .select(col("id_a"), col("id_b"))
    val i = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    pre
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        i / (size(col("sh_a")) + size(col("sh_b")) - i))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Partial-overlap pairs via winnowing fingerprints
    * ([[TextAnalysis.winnowingFingerprints]]): documents sharing ≥
    * `minShared` selected k-gram hashes share that many distinct
    * character spans of length ≥ k+w−1 — the contamination signal
    * (copied paragraphs, boilerplate, train/test span leakage) that
    * whole-document hashing and word-shingle Jaccard both miss.
    *
    * Skew guard: fingerprints occurring in more than `maxDocFrequency`
    * documents are dropped BEFORE the self-join (the MOSS practice of
    * ignoring ubiquitous spans) — a boilerplate span in f docs would
    * otherwise contribute f²/2 join rows while carrying no overlap
    * signal. The cap is deliberately ABSOLUTE, not a corpus fraction: it
    * bounds the worst-case join fan-out per fingerprint at cap²/2
    * regardless of corpus size (a relative cap re-opens the quadratic
    * blow-up on low-diversity corpora). Corollary: a corpus whose every
    * span is ubiquitous (tiny vocabulary) correctly yields NO pairs —
    * "shares only boilerplate" is not overlap signal. One shuffle for
    * the frequency count, one for the join, one for the pair
    * aggregation. */
  def winnowOverlapPairs(df: DataFrame, textCol: String, idCol: String,
      minShared: Int = 5, maxDocFrequency: Int = 50): DataFrame = {
    val fps = df.select(col(idCol).as("id"),
      explode(TextAnalysis.winnowingFingerprints(col(textCol))).as("fp"))
      .localCheckpoint(false)
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") <= maxDocFrequency)
      .select(col("fp").as("rare_fp"))
    val pruned = fps.join(rare, col("fp") === col("rare_fp"))
      .select(col("id"), col("fp"))
    pruned.as("a").join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
  }

  /** DIRECTIONAL containment via winnowing fingerprints: C(A⊂B) =
    * |fp(A) ∩ fp(B)| / |fp(A)| — near 1 when A's character spans are
    * almost all inside B, regardless of how much bigger B is. The
    * contamination question symmetric Jaccard cannot answer: a benchmark
    * item pasted into a long training document has tiny Jaccard but
    * containment ≈ 1. Output: unordered pair + both directions as integer
    * cents.
    *
    * Same skew guard as [[winnowOverlapPairs]] (ABSOLUTE doc-frequency
    * pruning before the self-join — see there for why absolute, and for
    * the tiny-vocabulary corollary); denominators count the PRUNED
    * fingerprint sets so the ratio is internally consistent. Shuffles: frequency
    * count, pair join, pair aggregation, then joins from the (pair-graph-
    * sized) result back to the per-doc size table. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      minContainmentCents: Int = 60, minShared: Int = 3,
      maxDocFrequency: Int = 50): DataFrame = {
    val fps = df.select(col(idCol).as("id"),
      explode(TextAnalysis.winnowingFingerprints(col(textCol))).as("fp"))
      .localCheckpoint(false)
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") <= maxDocFrequency)
      .select(col("fp").as("rare_fp"))
    val pruned = fps.join(rare, col("fp") === col("rare_fp"))
      .select(col("id"), col("fp"))
      .localCheckpoint(false)
    val sizes = pruned.groupBy(col("id")).agg(count(lit(1)).as("n_fp"))
    val shared = pruned.as("a").join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
    // no broadcast hint: `sizes` is one row per document — corpus-sized
    // at scale; AQE picks broadcast when it actually fits
    shared
      .join(sizes.select(col("id").as("id_a"), col("n_fp").as("n_fp_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_fp").as("n_fp_b")), "id_b")
      .withColumn("cont_a_in_b_cents",
        round(col("shared_fps") * 100.0 / col("n_fp_a")).cast("long"))
      .withColumn("cont_b_in_a_cents",
        round(col("shared_fps") * 100.0 / col("n_fp_b")).cast("long"))
      .filter(greatest(col("cont_a_in_b_cents"), col("cont_b_in_a_cents"))
        >= minContainmentCents)
      .select(col("id_a"), col("id_b"), col("shared_fps"),
        col("n_fp_a"), col("n_fp_b"),
        col("cont_a_in_b_cents"), col("cont_b_in_a_cents"))
  }

  /** Duplicate-cluster RESOLUTION: near-dup pairs only say "a looks like
    * b"; a dedup pipeline must then pick ONE survivor per duplicate
    * cluster, where clusters are the connected components of the pair
    * graph (a≈b, b≈c ⟹ {a,b,c} even if a,c were never compared). Output:
    * (id, component) for every id, component = min id reachable — so the
    * component label IS the keep-id and `id != component` is the drop
    * list.
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min of its own and its neighbors' labels; converged when
    * the global label sum stops falling (labels only decrease, so the sum
    * is a strictly decreasing convergence measure — no row-level diff
    * join needed). Rounds = graph diameter, and duplicate clusters are
    * shallow (near-clique), so 2-3 rounds in practice; each round is one
    * shuffle-join + aggregate. For 100 TB-scale graphs with LONG CHAINS
    * (diameter beyond any sane round budget) use
    * [[connectedComponentsStar]] — the large-star/small-star contraction
    * (Kiveris et al.), O(log n) rounds regardless of diameter, same
    * labeling contract.
    *
    * `checkpointDir`: None (default) = `localCheckpoint` lineage cuts —
    * executor-block storage, no extra I/O, but an executor loss
    * mid-iteration is unrecoverable; Some(dir) = reliable `checkpoint`
    * to that directory, the cluster-scale setting (the [[Graphs.pageRank]]
    * trade, same rationale). */
  /** Default edge bound for [[connectedComponents]]' driver-side
    * union-find fast path, DERIVED from the heap actually present
    * instead of a bare constant (a caller trusting a fixed 2M default
    * on a small-heap driver would OOM; one on a 128 GiB driver would
    * leave 60× of safe fast-path headroom unused): 1/8 of
    * `Runtime.maxMemory` at a conservative ~128 bytes/edge worst case
    * (24 B specialized tuple + array slot on the collect side, plus
    * the open-addressed long→long table at ≤2 nodes/edge, 32 B/entry
    * at the 0.5-load growth point, plus copy slack) — so the fast path
    * never bets more than ~12% of the driver heap. Floored at 100k
    * edges (any JVM that can run Spark can fold that) and capped at
    * 2²⁶ (the collect also answers to spark.driver.maxResultSize;
    * past ~67M edges the distributed loop is the right tool even with
    * heap to spare). ~4 GiB heap → ≈4M edges; 128 GiB → the cap. */
  private[graft] def defaultSmallGraphMaxEdges: Long =
    math.min(1L << 26,
      math.max(100000L, Runtime.getRuntime.maxMemory() / 8L / 128L))

  def connectedComponents(ids: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20, checkpointDir: Option[String] = None,
      smallGraphMaxEdges: Long = defaultSmallGraphMaxEdges): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)
    // reliable mode must cover the REUSED INPUTS too: localCheckpoint
    // truncates lineage down to executor blocks, so a lost executor
    // holding an edges block would still kill the job even with the
    // per-round labels durably checkpointed
    def cutLazy(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(false)
      else df.localCheckpoint(false)
    // The pair join is the expensive input and is referenced THREE times
    // (sizing count + both union branches): materialize it exactly once
    // before anything else touches it.
    val p = cutLazy(pairs.select(col("id_a"), col("id_b")))
    // SMALL-GRAPH fast path: the duplicate graph is bounded by the
    // corpus's duplication rate, not its size — at any realistic rate a
    // graph under the heap-derived bound is the COMMON case, and the
    // iterative loop pays
    // ~5 scheduled jobs per round for it (scheduling-bound, not
    // data-bound: measured 13 s for a 60k-doc gate graph the driver
    // folds in <100 ms). Edges collect (≤ ~32 MB), path-compressed
    // union-find labels them with the cluster-min id, and the labeling
    // joins back distributed. Graphs above the bound take the
    // per-round-pruned label-propagation loop below — the 100 TB path.
    val longIds = p.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && p.count() <= smallGraphMaxEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      // PRIMITIVE collection end to end: Row objects (~70 B each, boxed
      // Longs) plus a boxed HashMap would put the real heap at ~10× the
      // raw-longs estimate at the heap-derived bound — specialized
      // Tuple2[Long, Long] via the tuple encoder (24 B flat objects, no
      // boxing) and an open-addressed long→long table keep the worst
      // case at ~48 MB of edges + ~130 MB of fully-grown table, inside
      // any serving driver's headroom.
      val edgesArr = p.as[(Long, Long)].collect()
      val parent = new Dedup.LongLongMap()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x
        while (parent.getOrDefault(c, c) != c) {
          val next = parent.getOrDefault(c, c)
          parent.put(c, r)
          c = next
        }
        r
      }
      edgesArr.foreach { case (u, v) =>
        val a = find(u)
        val b = find(v)
        if (a != b) parent.put(math.max(a, b), math.min(a, b))
      }
      // min-id labeling: find() already returns the smallest id of the
      // set because union always parents the larger root to the smaller
      val labeled = Seq.newBuilder[(Long, Long)]
      parent.foreachKey(x => labeled += ((x, find(x))))
      // O(E) driver-side invariant check — deliberate, reviewed, kept:
      // mathematically it cannot fire, but a silently dropped union
      // means duplicates SURVIVE dedup (this operator's worst failure
      // mode, and one a hash-gate on a small corpus can miss), and at
      // the default bound the re-walk is ~2 path-compressed lookups per
      // edge ≈ milliseconds next to the collect that preceded it
      edgesArr.foreach { case (a, b) =>
        require(find(a) == find(b),
          s"union-find invariant broken: edge ($a,$b) endpoints labeled " +
            s"${find(a)} vs ${find(b)} over ${edgesArr.length} edges")
      }
      val compDf = labeled.result().toDF("cid", "ccomp")
      return ids.select(col(idCol).as("id"))
        .join(broadcast(compDf), col("id") === col("cid"), "left")
        .select(col("id"),
          coalesce(col("ccomp"), col("id")).as("component"))
    }
    // per-round shuffle width sized to the PAIR GRAPH, not the session
    // default: duplicate-pair graphs are orders of magnitude smaller than
    // the corpus, and a driver-side iteration over a tiny graph at 32
    // shuffle partitions pays ~32× the task-scheduling cost per round for
    // nothing. ~500k edges per partition; grows with the graph, capped by
    // the session parallelism so huge graphs still spread out.
    val parallelism = pairs.sparkSession.sparkContext.defaultParallelism
    val parts = math.max(1L, math.min(parallelism.toLong,
      p.count() * 2 / 500000L + 1L)).toInt
    // AQE off + every width pinned to `parts` for the loop (the
    // Graphs.pinnedLoop contract): the checkpointed edge frame keeps
    // its (dst, parts) HashPartitioning and NEVER re-shuffles — each
    // round pays exactly one label-sized exchange (the src transpose)
    val finalLabels =
      Graphs.pinnedLoop(pairs.sparkSession, parts) {
        // cheap to rebuild from the materialized pairs, checkpointed so
        // the per-round joins don't re-shuffle it
        val edges = cutLazy(
          p.select(col("id_a").as("src"), col("id_b").as("dst"))
            .unionAll(p.select(col("id_b").as("src"), col("id_a").as("dst")))
            .repartition(parts, col("dst")))
        // propagation runs over edge-CONNECTED nodes only — isolated ids
        // (the overwhelming majority of a mostly-unique corpus) are their
        // own component by definition and join back in at the end, so
        // per-round cost scales with the pair graph, not the corpus
        var labels = cut(edges.select(col("src").as("id")).distinct()
          .withColumn("component", col("id")))
        // sum() over zero rows is NULL — a duplicate-free corpus (no
        // pairs) must yield every id as its own component, not an NPE.
        // DECIMAL(38) accumulation: hash-derived ids sit near 2⁶³, so a
        // Long sum would overflow — an ANSI ARITHMETIC_OVERFLOW crash
        // (Spark 4 default) or, with ANSI off, a wraparound that
        // corrupts the strictly-decreasing convergence measure.
        def labelSum(): BigDecimal =
          Option(labels
              .agg(sum(col("component").cast("decimal(38,0)"))).head()
              .getAs[java.math.BigDecimal](0))
            .map(BigDecimal(_)).getOrElse(BigDecimal(0))
        var prevSum = labelSum()
        var converged = labels.isEmpty
        var i = 0
        while (!converged && i < maxIter) {
          // eager cut: per-round lineage growth
          labels = cut(ccRound(edges, labels))
          val s = labelSum()
          converged = s == prevSum
          prevSum = s
          i += 1
        }
        if (!converged)
          // a cluster with diameter > maxIter would otherwise SILENTLY
          // keep several survivors; callers must know the result is
          // partial
          throw new IllegalStateException(
            s"connectedComponents did not converge in $maxIter rounds — " +
              "raise maxIter (duplicate clusters deeper than the bound)")
        labels
      }
    ids.select(col(idCol).as("id"))
      .join(finalLabels.withColumnRenamed("id", "cid"),
        col("id") === col("cid"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** One min-label propagation round over checkpointed loop state —
    * package-visible so PlanSpec can pin its shuffle budget on the
    * EXECUTED plan (the [[starRound]] discipline): one edge⋈label
    * equi-join + one map-side-combined min + the label-table left
    * join, linear in the pair graph. */
  private[graft] def ccRound(edges: DataFrame,
      labels: DataFrame): DataFrame = {
    val neighborMin = edges
      .join(labels.withColumnRenamed("id", "nid"), col("dst") === col("nid"))
      .groupBy(col("src")).agg(min("component").as("nmin"))
    labels
      .join(neighborMin, col("id") === col("src"), "left")
      .select(col("id"),
        least(col("component"), coalesce(col("nmin"), col("component")))
          .as("component"))
  }

  /** One large-star + small-star alternation over an (u, v) edge frame —
    * the [[connectedComponentsStar]] round body, package-visible so
    * PlanSpec can pin its shuffle budget. Each star is ONE shuffle: the
    * frame repartitions on the star's center u and m = min over the
    * neighborhood is a partition-local window aggregate over that same
    * partitioning — no groupBy-then-self-join, so the repartitioned
    * subtree appears ONCE in the plan (a self-join duplicates it
    * statically and invites AQE to stack a BroadcastExchange on the
    * aggregated side — the round-13 14-exchange regression this shape
    * replaces). Small-star emits each row's attachment directly: children
    * v ≠ m attach to m, and the (unique-per-u after the round-end
    * distinct) rows with v = m stand in for u's own attachment. The
    * round-end distinct re-keys through the SAME width on (u, v), so a
    * round costs exactly 3 exchanges whatever the graph size — the
    * property the 100 TB claim rests on, spec-pinned. */
  private[graft] def starRound(in: DataFrame, parts: Int): DataFrame = {
    val byU = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    // large-star: symmetrize, shuffle once on u; m = min(Γ(u) ∪ {u}) as
    // a window min (whole-partition frame, spills via the window's
    // external row buffer under skew — same distribution a groupBy
    // would need, minus the join back)
    val large = in.unionAll(in.select(col("v").as("u"), col("u").as("v")))
      .repartition(parts, col("u"))
      .withColumn("m", least(min(col("v")).over(byU), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
    // small-star: orient to (larger, smaller), shuffle once on u
    val o = large.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
      .repartition(parts, col("u"))
      .withColumn("m", min(col("v")).over(byU))
    o.select(
        when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"),
        col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .repartition(parts, col("u"), col("v"))
      .distinct()
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — the O(log n)-round path [[connectedComponents]]'
    * scaladoc promises for 100 TB graphs with LONG CHAINS, implemented:
    * min-label propagation needs diameter rounds (a 50-deep chain blows
    * its default budget), star contraction halves path lengths every
    * alternation regardless of diameter.
    *
    *  - large-star: for each node u (symmetric adjacency), attach every
    *    STRICTLY LARGER neighbor to m = min(Γ⁺(u));
    *  - small-star: orient edges to (larger, smaller), attach every
    *    smaller-or-equal neighbor AND u itself to m = min(Γ(u)).
    *
    * Both preserve connectivity and only ever lower a node's parent, so
    * the fixed point is the star forest rooted at each component's MIN
    * id — the same labeling contract as [[connectedComponents]]
    * (property-pinned to it and to the union-find fast path in spec).
    * Convergence = two consecutive rounds with an identical edge-set
    * checksum; each round is [[starRound]] (3 exchanges, plan-pinned),
    * `distinct()`-bounded so the edge set never exceeds its input. Same
    * checkpointing trade as [[connectedComponents]]. */
  def connectedComponentsStar(ids: DataFrame, idCol: String,
      pairs: DataFrame, maxRounds: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    def cut(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true)
      else df.localCheckpoint(true)
    var e = cut(pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u") =!= col("v")).distinct())
    // shuffle width sized to the PAIR GRAPH (the connectedComponents
    // rule): every exchange in the round body (both stars' repartitions
    // and the round-end distinct) runs at this width — 3 exchanges per
    // round total (starRound's pinned budget) — and a tiny graph runs
    // 1-wide instead of paying session-width task scheduling per round
    val parallelism = pairs.sparkSession.sparkContext.defaultParallelism
    val parts = math.max(1L, math.min(parallelism.toLong,
      e.count() * 2 / 500000L + 1L)).toInt

    // DECIMAL(38) accumulation: a Long sum of xxhash64 values overflows
    // (ANSI arithmetic error under Spark 4 defaults) — the labelSum rule.
    // The checksum RIDES the round's checkpoint job as observe() metrics
    // (nanoTime uniquifier per the stageExpire rule), so each round is
    // ONE Spark action, not two.
    def checksumCols = Seq(count(lit(1)).as("n"),
      sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("h"))
    def checksummed(df: DataFrame): (DataFrame, () => (Any, Any)) = {
      val obs = org.apache.spark.sql.Observation(
        s"star-${System.nanoTime()}")
      val out = df.observe(obs, checksumCols.head, checksumCols(1))
      (out, () => (obs.get("n"), obs.get("h")))
    }
    var prev = {
      val r = e.agg(checksumCols.head, checksumCols(1)).head()
      (r.get(0), r.get(1))
    }
    // ONE unchanged round proves convergence: the alternation is a
    // deterministic function of the edge set, so e == f(e) is a fixed
    // point forever — a second confirmation round would only re-prove
    // it. The (count, hash-sum) fingerprint is the cheap per-round
    // screen; a sum COLLISION between two differing consecutive rounds
    // would otherwise declare false convergence and return wrong labels
    // with no error, so a fingerprint match is CONFIRMED exactly once
    // with the real set difference — counts already match, and both
    // sides are distinct()-ed, so one-direction emptiness proves
    // equality. The exact check runs once per convergence (not per
    // round) against two already-checkpointed frames.
    var stable = false
    var rounds = 0
    // pinned (the Graphs.pinnedLoop contract): starRound's explicit
    // repartitions already run at `parts`, but the round-end distinct
    // and the convergence exceptAll would otherwise exchange at the
    // session width — aligning them keeps every per-round exchange at
    // the graph-sized width and the checkpoint partitioning usable
    Graphs.pinnedLoop(pairs.sparkSession, parts) {
      while (!stable && rounds < maxRounds) {
        val prevE = e
        val (watched, readBack) = checksummed(starRound(e, parts))
        e = cut(watched) // materializes; the observe metrics ride along
        val c = readBack()
        stable = c == prev && prevE.exceptAll(e).isEmpty
        prev = c
        rounds += 1
      }
    }
    if (!stable)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxRounds rounds")
    // the fixed point is a star forest: e = (child, root) for every
    // non-root member; roots and isolated ids label themselves
    ids.select(col(idCol).as("id"))
      .join(e.select(col("u").as("id"), col("v").as("component")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id"))
        .as("component"))
  }

  /** Leakage-safe train/val/test split: the split is keyed on the
    * NEAR-DUP CLUSTER (connected component over the supplied pair graph),
    * so two near-duplicate documents can never land in different splits —
    * the content-hash split ([[TextAnalysis.contentSplit]]) guarantees
    * this only for exact duplicates; a paraphrased copy of a training doc
    * leaking into test silently inflates eval numbers. 80/10/10 by a
    * 16-bit md5 bucket of the cluster id — deterministic, engine-portable,
    * and independent of cluster size (one extra narrow projection on top
    * of the components cost). */
  def leakageSafeSplit(ids: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame =
    splitFromComponents(connectedComponents(ids, idCol, pairs))

  /** The split mapping alone, for callers that already hold an
    * (id, component) labeling (e.g. one shared components result serving
    * several downstream policies). The split function IS
    * [[TextAnalysis.contentSplit]] applied to the cluster id (its
    * whitespace normalization is a no-op on a digit string), so the
    * exact-dup and near-dup splits share one definition of the
    * bucket-to-split mapping. */
  def splitFromComponents(comp: DataFrame): DataFrame =
    comp.select(col("id").as("doc_id"), col("component").as("cluster_id"),
      TextAnalysis.contentSplit(col("component").cast("string")).as("split"))

  /** Best-member survivor selection: production dedup keeps the BEST
    * document of each near-dup cluster (here: longest text, ties → lowest
    * id), not the arbitrary min-id member — a truncated copy must never
    * shadow its complete original. Components over the pair graph, then
    * one `max_by` aggregation per cluster and a join back; both post-CC
    * steps are linear in the corpus and the aggregation is map-side
    * partial (cluster count « doc count, so the shuffle is tiny). */
  def bestSurvivors(docs: DataFrame, textCol: String, idCol: String,
      pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(docs.select(col(idCol)), idCol, pairs)
    val stats = docs.select(col(idCol).as("sid"),
      length(col(textCol)).cast("long").as("len"))
    val withLen = comp.join(stats, col("id") === col("sid")).drop("sid")
    val surv = withLen.groupBy(col("component"))
      .agg(max_by(col("id"), struct(col("len"), -col("id")))
        .as("survivor_id"))
    withLen.join(surv, "component")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        col("len"), col("survivor_id"),
        (col("id") === col("survivor_id")).cast("long").as("is_survivor"))
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo's merge/purge):
    * sort records by a blocking key, slide a window of `window` ranks,
    * verify each in-window pair by edit distance — the classic
    * entity-resolution candidate generator for typo-grade duplicates
    * whose signatures (MinHash shingles, deletion neighborhoods) are too
    * coarse or too narrow. Output: `(a_id, b_id, edit_distance)` for
    * pairs within `window` of each other in `(key, id)` order with
    * `levenshtein ≤ maxEdits`, each unordered pair once.
    *
    * Scale shape — the two quadratic traps are both closed: (1) the
    * GLOBAL RANK is not a single-partition window: one range shuffle
    * sorts by (key, id), ranks are computed per partition and shifted by
    * broadcast partition offsets (the only driver data is one count per
    * partition); (2) the in-window PAIR JOIN is an equi-join on
    * `rank div window` bands (each left row probes its own and the next
    * band, so every pair with 0 < Δrank < window matches exactly one
    * band copy) — candidate fan-out is O(n·window), never n². The
    * verify runs on candidates only, codegen'd `levenshtein`. */
  def sortedNeighborhood(records: DataFrame, idCol: String,
      keyCol: String, compareCol: String, window: Int,
      maxEdits: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(maxEdits >= 0, s"maxEdits must be >= 0, got $maxEdits")
    val base = records.select(col(idCol).as("_id"), col(keyCol).as("_k"),
      col(compareCol).as("_c"))
    val ranked = DistributedOrder.withGlobalRank(base, "_r",
        col("_k"), col("_id"))
      .select(col("_id"), col("_c"), col("_r"))
      .localCheckpoint(false) // feeds both sides of the band join
    val lhs = ranked.withColumn("_band", explode(array(
      expr(s"_r div $window"), expr(s"_r div $window + 1"))))
    val rhs = ranked.select(col("_id").as("b_id"), col("_c").as("_cb"),
      col("_r").as("_rb"), expr(s"_r div $window").as("_band"))
    lhs.join(rhs, Seq("_band"))
      .filter(col("_rb") > col("_r") && col("_rb") < col("_r") + window)
      .withColumn("edit_distance",
        levenshtein(col("_c"), col("_cb")).cast("long"))
      .filter(col("edit_distance") <= maxEdits)
      .select(col("_id").as("a_id"), col("b_id"), col("edit_distance"))
  }

  /** Field-level survivorship — the MERGE half of entity resolution
    * that [[bestSurvivors]]' whole-record pick can't express: once
    * records are clustered, build the golden record FIELD BY FIELD by
    * majority vote with recency tie-breaks (the standard MDM
    * survivorship rule): per (cluster, field), the winning value is the
    * most frequent non-null one; ties prefer the value seen latest
    * (max ts); remaining ties take the greatest value string — a total
    * order, so the golden record is a pure function of the cluster.
    *
    * Values are compared as strings (the generic melt; callers cast
    * typed fields back). Output LONG format — one row per (cluster,
    * field) with support counts — so downstream can audit the vote,
    * not just read the winner: `(clusterCol, field, value, n_support,
    * n_distinct_values)`.
    *
    * Scale shape: one narrow melt (|fields| structs per record), one
    * map-side-combined (cluster, field, value) count, one cluster-sized
    * argmax — no joins, no pivot, nothing driver-side. */
  def fieldSurvivorship(records: DataFrame, clusterCol: String,
      tsCol: String, fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty && fields.distinct.size == fields.size,
      s"fields must be non-empty and distinct, got $fields")
    val melted = records.select(col(clusterCol).as("_cl"), col(tsCol).as("_ts"),
        explode(array(fields.map(f => struct(lit(f).as("field"),
          col(f).cast("string").as("value"))): _*)).as("_fv"))
      .select(col("_cl"), col("_ts"), col("_fv.field").as("field"),
        col("_fv.value").as("value"))
      .filter(col("value").isNotNull)
    val votes = melted.groupBy(col("_cl"), col("field"), col("value"))
      .agg(count(lit(1)).as("n"), max(col("_ts")).as("last_ts"))
    votes.groupBy(col("_cl"), col("field"))
      .agg(max_by(struct(col("value"), col("n")),
          struct(col("n"), col("last_ts"), col("value"))).as("_w"),
        count(lit(1)).as("n_distinct_values"))
      .select(col("_cl").as(clusterCol), col("field"),
        col("_w.value").as("value"), col("_w.n").as("n_support"),
        col("n_distinct_values"))
  }

  /** Fellegi–Sunter comparison-vector profile — the record-linkage
    * census between blocking ([[sortedNeighborhood]] generates the
    * pairs) and decision: every within-block candidate pair is scored
    * field by field into an agreement LEVEL ('2' agree, '1' close —
    * numeric within tolerance, '0' disagree, '-' missing on either
    * side), and the operator counts pairs per pattern string. The
    * pattern frequencies ARE the sufficient statistics the FS model's
    * EM step consumes (Fellegi & Sunter 1969; Winkler's tutorials) and
    * the audit table an ER engineer reads before setting any match
    * threshold ("how many pairs agree on key but disagree on amount").
    *
    * Blocking: pairs share ALL `blockCols` (null block keys drop);
    * blocks larger than `maxBlockSize` are dropped ENTIRELY — the
    * similarity-join stopword stance ([[Graphs.bipartiteProject]]'s
    * rationale): a mega-block's pairs are uninformative and their
    * count is quadratic. Documented semantics, oracle-mirrored.
    *
    * Scale shape: one block-sized count + LEFT SEMI prune, then the
    * pair self-join CO-LOCATES on the block key (one shuffle per side,
    * fan-out ≤ maxBlockSize² per block, never a hub's square), level
    * columns are narrow codegen, and the pattern count folds map-side
    * to ≤ 4^|fields| rows. Output: `(pattern, n_pairs)`. */
  def agreementPatterns(records: DataFrame, idCol: String,
      blockCols: Seq[String], exactCols: Seq[String],
      closeCols: Seq[(String, Long)],
      maxBlockSize: Int = 1000): DataFrame = {
    val fields = exactCols ++ closeCols.map(_._1)
    require(blockCols.nonEmpty, "agreementPatterns: no block columns")
    require(fields.nonEmpty, "agreementPatterns: no comparison fields")
    require(fields.distinct.size == fields.size &&
      fields.intersect(blockCols).isEmpty,
      s"comparison fields must be distinct and disjoint from blocks: " +
        s"$fields vs $blockCols")
    require(maxBlockSize >= 2,
      s"maxBlockSize must be >= 2, got $maxBlockSize")
    require(closeCols.forall(_._2 >= 0),
      s"close tolerances must be >= 0: $closeCols")
    val base = records
      .select(col(idCol).as("_id") +:
        (blockCols ++ fields).map(col): _*)
      .filter(blockCols.map(col(_).isNotNull).reduce(_ && _))
    val smallBlocks = base.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBlockSize.toLong)
      .select(blockCols.map(col): _*)
    val pruned = base.join(smallBlocks, blockCols, "leftsemi")
    val rhs = pruned.select(col("_id").as("_id2") +:
      (blockCols.map(col) ++
        fields.map(c => col(c).as(s"${c}__b"))): _*)
    def missing(c: String) =
      col(c).isNull || col(s"${c}__b").isNull
    val levels =
      exactCols.map(c => when(missing(c), lit("-"))
        .when(col(c) === col(s"${c}__b"), lit("2"))
        .otherwise(lit("0"))) ++
      closeCols.map { case (c, tol) => when(missing(c), lit("-"))
        .when(col(c) === col(s"${c}__b"), lit("2"))
        .when(abs(col(c) - col(s"${c}__b")) <= tol, lit("1"))
        .otherwise(lit("0")) }
    pruned.join(rhs, blockCols)
      .filter(col("_id") < col("_id2"))
      .select(concat(levels: _*).as("pattern"))
      .groupBy(col("pattern"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Content-defined chunking (CDC) — the storage-dedup primitive under
    * rsync/LBFS/restic and every dedup filesystem, applied to document
    * text: chunk boundaries are a pure function of LOCAL content (the
    * rolling hash of the last 8 chars), so an insertion early in a
    * document shifts only the chunk it lands in — fixed-size chunking
    * would shift every later boundary and destroy all downstream chunk
    * identity. Chunk hashes feed delta-sync, chunk-level dedup-ratio
    * estimation, and partial-update detection between crawl snapshots.
    *
    * Boundary rule (deliberately minimal, oracle-replayable): position
    * `i` (1-based, i ≥ 8) cuts AFTER char i when
    * `Σ_{j=0..7} ascii(char[i−j])·31^j ≡ 0 (mod divisor)` — a degree-7
    * polynomial over the trailing window, exact in a long (≤ 255·31⁷ ≈
    * 7·10¹²). Expected chunk length ≈ divisor. No min/max clamp — the
    * rule stays a pure per-position predicate both engines replay
    * bit-identically.
    *
    * Scale shape: entirely NARROW — one codegen'd array pass per
    * document (positions → boundary cuts → chunk substrings), zero
    * shuffle, zero state; the parallel axis is documents. Output:
    * `(idCol, chunk_idx, start_pos, chunk_len, chunk_md5)` — the md5
    * identities are what downstream joins/dedups on. */
  def cdcChunks(df: DataFrame, textCol: String, idCol: String,
      divisor: Int = 64): DataFrame = {
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    val t = col(textCol)
    val n = length(t).cast("long")
    def rollHash(i: Column): Column =
      (0 until 8).map(j =>
        ascii(t.substr(i - j, lit(1))).cast("long") *
          lit(math.pow(31.0, j).toLong)).reduce(_ + _)
    val cuts = filter(
      when(n >= 8L, transform(sequence(lit(8L), n),
          i => when(pmod(rollHash(i), lit(divisor.toLong)) === 0L, i)))
        .otherwise(expr("cast(array() as array<bigint>)")),
      x => x.isNotNull)
    val bounds = concat(array(lit(0L)), cuts, array(n))
    val pairs = zip_with(
      slice(bounds, lit(1), size(bounds) - 1),
      slice(bounds, lit(2), size(bounds) - 1),
      (a, b) => struct(a.as("a"), b.as("b")))
    df.select(col(idCol), t.as("_t"),
        posexplode(pairs).as(Seq("chunk_idx", "_p")))
      .filter(col("_p.b") > col("_p.a")) // only the LAST pair can be
      // empty (a cut at the final char), so dropping it never shifts
      // earlier chunk_idx values — the oracle relies on this
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("_p.a").as("start_pos"),
        (col("_p.b") - col("_p.a")).as("chunk_len"),
        md5(col("_t").substr((col("_p.a") + 1L).cast("int"),
          (col("_p.b") - col("_p.a")).cast("int"))).as("chunk_md5"))
  }

  /** SimHash near-duplicate pairs: fingerprint hamming distance ≤ maxDist.
    * Fingerprints are 64-char '0'/'1' strings from the simhash64 function.
    * Candidate generation blocks on 4 fingerprint chunks of 16 bits: by
    * pigeonhole, any pair with ≤ 3 differing bits matches exactly on at
    * least one chunk, so the blocking is EXACT for maxDist ≤ 3 — no
    * all-pairs product, one shuffle on (block_idx, block). */
  def simhashNearDuplicates(
      fingerprints: DataFrame, idCol: String, fpCol: String,
      maxDist: Int = 3): DataFrame = {
    // pigeonhole: maxDist differing bits can touch at most maxDist of
    // the `blocks` chunks, so candidates must share ≥ 1 chunk — EXACT
    // only while maxDist < blocks; a larger maxDist would silently miss
    // pairs whose diffs spread one-per-chunk
    require(maxDist >= 0 && maxDist < 4,
      s"maxDist in [0, 3] for 4-block candidate generation, got $maxDist")
    val blocks = 4
    val blockLen = 64 / blocks
    val exploded = fingerprints.select(col(idCol).as("id"), col(fpCol).as("fp"),
      posexplode(transform(sequence(lit(0), lit(blocks - 1)),
        b => col(fpCol).substr(b * blockLen + 1, lit(blockLen))))
        .as(Seq("block_idx", "block")))
    val candidates = exploded.as("a").join(exploded.as("b"),
        col("a.block_idx") === col("b.block_idx") &&
          col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.fp").as("fp_a"),
        col("b.id").as("id_b"), col("b.fp").as("fp_b"))
      .distinct()
    candidates
      .withColumn("hamming",
        expr("size(filter(zip_with(split(fp_a, ''), split(fp_b, ''), (x, y) -> x <> y), v -> v))"))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Blocking-scheme quality metrics — the eval that closes the ER
    * loop the blockers (band index, sorted neighborhood, simhash
    * pigeonholes) open: against a truth set of known duplicate pairs,
    * `pair_completeness = covered truth pairs / truth pairs` (recall
    * the blocker did NOT throw away — a missed truth pair is
    * unrecoverable downstream) and
    * `reduction_ratio = 1 − candidate pairs / all pairs` (the whole
    * point of blocking; ~0 means the scheme compares everything
    * anyway). The two trade off; this reports both exactly so a key
    * change is judged on numbers, not vibes (Christen's standard
    * blocking-evaluation pair).
    *
    * Candidate pairs are COUNTED, never materialized:
    * `Σ_k c_k·(c_k−1)/2` over block sizes in DECIMAL(38) (a mega-block
    * squares past a long). Truth pairs with either id absent from
    * `records` drop out of the denominator (inner joins — the truth
    * set is graded against what the blocker actually saw). Output one
    * row: `(n_records, n_blocks, n_candidate_pairs, n_truth_pairs,
    * n_truth_covered, pair_completeness_permille,
    * reduction_permille)`; permilles NULL on empty denominators.
    *
    * Scale shape: one map-side block-size aggregate (shuffle carries
    * block keys), two id-sized equi-joins to key the truth pairs, and
    * three 1-row folds — never a pair materialization anywhere. */
  def blockingQuality(records: DataFrame, idCol: String,
      blockKey: Column, truth: DataFrame, truthACol: String,
      truthBCol: String): DataFrame = {
    val keys = records.select(col(idCol).as("_id"), blockKey.as("_k"))
      .localCheckpoint(false) // feeds the total, the block census AND
      // both truth-join sides — one scan of the records
    val tot = keys.agg(count(lit(1)).as("n_records"))
    val blocks = keys.groupBy(col("_k")).agg(count(lit(1)).as("_c"))
      .agg(count(lit(1)).as("n_blocks"),
        coalesce(sum(expr("cast(_c as decimal(38,0)) * (_c - 1) div 2")),
          lit(0L).cast("decimal(38,0)")).as("_cand"))
    val tstats = truth
      .select(col(truthACol).as("_a"), col(truthBCol).as("_b"))
      .join(keys.select(col("_id").as("_a"), col("_k").as("_ka")),
        Seq("_a"))
      .join(keys.select(col("_id").as("_b"), col("_k").as("_kb")),
        Seq("_b"))
      .agg(count(lit(1)).as("n_truth_pairs"),
        coalesce(sum((col("_ka") === col("_kb")).cast("long")), lit(0L))
          .as("n_truth_covered"))
    tot.crossJoin(blocks).crossJoin(tstats)
      .select(col("n_records"), col("n_blocks"),
        expr("cast(_cand as bigint)").as("n_candidate_pairs"),
        col("n_truth_pairs"), col("n_truth_covered"),
        expr("case when n_truth_pairs > 0 then" +
          " n_truth_covered * 1000 div n_truth_pairs end")
          .as("pair_completeness_permille"),
        expr("case when n_records > 1 then cast(1000 - _cand * 1000" +
          " div (cast(n_records as decimal(38,0)) * (n_records - 1)" +
          " div 2) as bigint) end").as("reduction_permille"))
  }

  /** Open-addressed long→long hash table for the union-find fast path:
    * flat primitive arrays (no boxing, no Entry objects), linear
    * probing, doubling growth from 64 Ki slots. At the 2 M-edge
    * collect bound the worst case (~4 M entries) tops out around
    * 130 MB of arrays — versus ~1 GB+ for the boxed
    * `mutable.HashMap[Long, Long]` it replaces. A `used` bitmap-free
    * sentinel would steal one key value; real ids include 0 and
    * hash-derived values near ±2⁶³, so occupancy is a parallel
    * boolean array instead. */
  private[operators] final class LongLongMap(initialCapacity: Int = 1 << 16) {
    private var cap = Integer.highestOneBit(
      math.max(16, initialCapacity - 1)) << 1
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var n = 0

    private def slot(k: Long): Int = {
      // splitmix64-style finalizer: linear probing needs well-mixed
      // low bits or sequential ids cluster into long probe chains
      var h = k
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      var i = ((h ^ (h >>> 31)).toInt) & (cap - 1)
      while (used(i) && keys(i) != k) i = (i + 1) & (cap - 1)
      i
    }

    def getOrDefault(k: Long, default: Long): Long = {
      val i = slot(k)
      if (used(i)) vals(i) else default
    }

    def put(k: Long, v: Long): Unit = {
      val i = slot(k)
      if (!used(i)) {
        used(i) = true
        keys(i) = k
        vals(i) = v
        n += 1
        if (n.toLong * 4 > cap.toLong * 3) grow()
      } else vals(i) = v
    }

    def foreachKey(f: Long => Unit): Unit = {
      var i = 0
      while (i < cap) {
        if (used(i)) f(keys(i))
        i += 1
      }
    }

    private def grow(): Unit = {
      val (ok, ov, ou, oc) = (keys, vals, used, cap)
      cap = oc << 1
      keys = new Array[Long](cap)
      vals = new Array[Long](cap)
      used = new Array[Boolean](cap)
      n = 0
      var i = 0
      while (i < oc) {
        if (ou(i)) put(ok(i), ov(i))
        i += 1
      }
    }
  }
}
