package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (ANN) over an `Array[Float]` column.
  *
  * Numeric determinism: embeddings are scaled to exact integers
  * (`round(x·1e5)` held in doubles), so dot products and norms are
  * EXACT integer arithmetic — order-independent, bit-identical across
  * partitionings and engines; the final cosine is one sqrt + one division
  * from identical integers. This is what makes a float top-k hash-stable
  * under distributed execution.
  *
  * Scale design: brute-force top-k broadcasts the (tiny) query vector and
  * is one narrow pass + a k-limit — the right baseline for one-off
  * queries. The IVF variant clusters once (argmin over C centroids — a
  * broadcast join, no shuffle beyond the final group) and probes only
  * `nprobe` clusters, cutting scanned vectors by ~C/nprobe; at 100 TB the
  * cluster assignment would be precomputed and the probe prunes partitions
  * (cluster_id as a partition column).
  */
object Similarity {

  /** Exact-integer scaled copy of an embedding (float array → double array
    * of integers). */
  def scaled(emb: Column): Column =
    transform(emb, x => round(x * 100000.0, 0))

  /** Embedding-norm histogram — the degenerate-vector audit run BEFORE
    * any cosine machinery trusts a new embedding batch (an all-zero
    * vector makes cosine undefined; a batch whose norms collapsed or
    * exploded is an upstream encoder bug that similarity scores then
    * launder into silent garbage): exact integer norm² per vector over
    * the scaled representation, folded into fixed-width buckets —
    * `(norm2_bucket, n_vectors, min_norm2, max_norm2)`; bucket 0's
    * count includes the true zeros and near-zeros a caller quarantines.
    * One narrow codegen'd dot pass + one map-side-combined groupBy on
    * ≤ range/width buckets. */
  def embeddingNorms(df: DataFrame, idCol: String, embCol: String,
      bucketWidth: Long = 100000000000L): DataFrame = {
    require(bucketWidth >= 1L, s"bucketWidth must be >= 1, got $bucketWidth")
    val v = scaled(col(embCol))
    df.select(col(idCol), dot(v, v).cast("long").as("_n2"))
      .select(expr(s"_n2 div ${bucketWidth}L").as("norm2_bucket"),
        col("_n2"))
      .groupBy(col("norm2_bucket"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("_n2")).as("min_norm2"),
        max(col("_n2")).as("max_norm2"))
  }

  /** Exact dot product of two scaled vectors — native codegen'd primitive
    * loop ([[org.apache.spark.sql.graft.DotProductD]]); values are
    * integers so any summation order gives the same result. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftShims.column(
      org.apache.spark.sql.graft.DotProductD(
        org.apache.spark.sql.GraftShims.expression(a),
        org.apache.spark.sql.GraftShims.expression(b)))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** (id, v, norm) projection: norms computed ONCE per vector, so pairwise
    * similarity does one dot + one multiply instead of three dots.
    * `sqrt(dot(v,v))` here is bit-identical to computing it per pair. */
  private def withNorm(embeddings: DataFrame, idCol: String,
      embCol: String): DataFrame =
    embeddings.select(col(idCol).as("id"), scaled(col(embCol)).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))

  /** Brute-force exact top-k by cosine against the query vector (the row
    * of `queryId`), ties broken by id — deterministic. */
  def topK(embeddings: DataFrame, idCol: String, embCol: String,
           queryId: Long, k: Int): DataFrame = {
    val s = withNorm(embeddings, idCol, embCol)
    val q = s.filter(col("id") === queryId)
      .select(col("v").as("qv"), col("norm").as("qnorm"))
    s.filter(col("id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("id"),
        (dot(col("v"), col("qv")) / (col("norm") * col("qnorm"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .limit(k)
  }

  /** IVF (inverted-file) ANN: centroids = the embeddings of
    * `centroidIds` (deterministic "training"); every vector is assigned to
    * its nearest centroid by cosine; the query probes the `nprobe` nearest
    * clusters and ranks only their members. */
  def ivfTopK(embeddings: DataFrame, idCol: String, embCol: String,
              queryId: Long, k: Int, centroidIds: Seq[Long],
              nprobe: Int): DataFrame = {
    val scaledDf = embeddings.select(col(idCol).as("id"), scaled(col(embCol)).as("v"))
    val centroids = centroidsOf(scaledDf, centroidIds)
    val assigned = nearestCentroid(scaledDf, centroids)

    val probeClusters = assigned.filter(col("id") === queryId)
      .select(col("v").as("qv"), col("cluster"))
      .crossJoin(broadcast(centroids))
      .withColumn("c_cos", cosine(col("qv"), col("c_v")))
      .orderBy(col("c_cos").desc, col("c_id").asc)
      .limit(nprobe)
      .select(col("qv"), col("c_id").as("probe_cluster"))

    assigned.filter(col("id") =!= queryId)
      .join(broadcast(probeClusters),
        col("cluster") === col("probe_cluster"))
      .select(col("id"), cosine(col("v"), col("qv")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .limit(k)
  }

  /** The centroid rows (`c_id`, `c_v`): the vectors of `centroidIds`
    * (deterministic "training"). */
  private def centroidsOf(scaledDf: DataFrame,
      centroidIds: Seq[Long]): DataFrame =
    scaledDf.filter(col("id").isin(centroidIds: _*))
      .select(col("id").as("c_id"), col("v").as("c_v"))

  /** `scaledDf`'s (id, v) rows, each with the `cluster` of its nearest
    * centroid by cosine — ONE definition for the in-memory probe, both
    * builds and the merge, so a stored vector and a merged one can
    * never be assigned differently. Argmax assignment: broadcast C
    * centroids, then ONE aggregation — max_by over the (cos, -c_id)
    * struct picks the nearest centroid with a deterministic lowest-c_id
    * tie-break (cosines are exact integers / sqrt, so ties are real
    * ties, not float noise). A ranking window here would SORT every
    * (vector × centroid) row inside each id partition — at 10⁹ vectors
    * that sort dominates; the HashAggregate does map-side partial max_by
    * instead, shrinking C rows per vector to 1 before the shuffle. */
  private def nearestCentroid(scaledDf: DataFrame,
      centroids: DataFrame): DataFrame =
    scaledDf.crossJoin(broadcast(centroids))
      .withColumn("c_cos", cosine(col("v"), col("c_v")))
      .groupBy(col("id"), col("v"))
      .agg(max_by(col("c_id"), struct(col("c_cos"), -col("c_id")))
        .as("cluster"))

  /** Persist an IVF index: every vector stored under its centroid's
    * partition directory (`cluster=<c>/`), plus the centroid vectors —
    * the "cluster id becomes a partition column" layout that turns an
    * IVF probe into PARTITION PRUNING: a query plans `nprobe` directory
    * scans, never touching the other clusters' files. Assignment is the
    * same broadcast-argmax aggregation as [[ivfTopK]]. A (re)build is
    * one staged generation of the IVF-PQ commit shape (meta, epoch and
    * all); it drops the old index's tombstones. */
  def writeIvfIndex(embeddings: DataFrame, idCol: String, embCol: String,
      centroidIds: Seq[Long], path: String): Unit = {
    val scaledDf = embeddings.select(col(idCol).as("id"),
      scaled(col(embCol)).as("v"))
    val centroids = centroidsOf(scaledDf, centroidIds)
    StagedCommit.mutate(embeddings.sparkSession, path, IvfPq)(Some(
      stageIvfBuild(path, None, nearestCentroid(scaledDf, centroids),
        "centroids" -> centroids)) -> ()): Unit
  }

  /** The one IVF build stage step ([[writeIvfIndex]],
    * [[writeIvfPqIndex]]): `vectors` (carrying `cluster`) and the other
    * `tables` staged whole, the tombstone parts it saw removed (a
    * rebuilt index has no deletions; one appended later stays), the
    * manifest committed under `batchId`. */
  private def stageIvfBuild(path: String, batchId: Option[Long],
      vectors: DataFrame, tables: (String, DataFrame)*): String =
    StagedCommit.stage(vectors.sparkSession, path, batchId) { stg =>
      vectors.write.mode("overwrite").partitionBy("cluster")
        .parquet(s"${stg.dir}/vectors")
      tables.foreach { case (name, t) =>
        t.write.mode("overwrite").parquet(s"${stg.dir}/$name")
      }
      Some(StagedCommit.Manifest(Seq(
        "staged_tables" -> ("vectors" +: tables.map(_._1)),
        "staged_vectors" -> Nil),
        removed = TombstoneMask.parts(vectors.sparkSession, path))) -> ()
    }._1.get

  /** Tombstone deletion for a persisted IVF index — retract vectors
    * (GDPR erasure, dedup corrections) WITHOUT a rebuild: ids append to
    * `<path>/_tombstones`, and [[ivfIndexTopK]] anti-joins the
    * (broadcast — deletion sets are small relative to the corpus)
    * tombstone set on every probe. The standard LSM delete/fold split:
    * [[vacuumIvfIndex]] folds grown tombstone sets back into the vector
    * partitions. Append-idempotent: duplicate ids change nothing. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame): Unit =
    ids.select(col(ids.columns.head).cast("long").as("id"))
      .write.mode("append").parquet(s"$path/_tombstones")

  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    deleteFromIvfIndex(spark, path, ids.toDF("id"))
  }

  /** Fold tombstones into the vector partitions as ONE staged
    * generation of the IVF/IVF-PQ index ([[TombstoneMask.stageFold]]):
    * ONLY cluster directories that hold a deleted id restage their
    * survivors, a cluster whose every vector died is removed, and the
    * tombstone parts it folded go in the same swap (a delete appended
    * meanwhile stays) — a crash anywhere leaves the tombstones masking
    * queries or the fully vacuumed index, and the epoch advances once. Any committed merge replays first, so its
    * vectors fold too. Returns the number of vectors removed. */
  def vacuumIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Long =
    StagedCommit.mutate(spark, path, IvfPq)(stageIvfVacuum(spark, path)).get

  /** [[vacuumIvfIndex]]'s stage step: the staging dir (None without
    * tombstones) and the vectors removed. Package-visible so tests can
    * stop here. */
  private[graft] def stageIvfVacuum(spark: org.apache.spark.sql.SparkSession,
      path: String): (Option[String], Long) = {
    val tombs = TombstoneMask.parts(spark, path)
    if (tombs.isEmpty) None -> 0L
    else StagedCommit.stage(spark, path, None) { stg =>
      val (pieces, removed, n) = TombstoneMask.stageFold(spark, path, tombs,
        "vectors", "id", Seq("cluster"), stg)(_.repartition(col("cluster")))
      Some(StagedCommit.Manifest(Seq("staged_vectors" -> pieces),
        removed = removed)) -> n
    }
  }

  /** Top-k against a persisted IVF index: centroids are collected (tiny),
    * the probe set is ranked driver-side with the same exact-integer
    * cosine, and ONLY the `nprobe` matching cluster partitions are
    * scanned (`cluster IN (...)` prunes at the directory level — assert
    * in PlanSpec). The query embedding is scaled THROUGH the same Spark
    * expression as the stored vectors, so its integers are bit-identical
    * to an indexed copy of the same embedding. */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      queryEmbedding: Seq[Float], queryId: Long, k: Int,
      nprobe: Int): DataFrame = {
    // finish any committed-but-unapplied build, merge or vacuum first
    // (reader-safe: never deletes a live writer's staging)
    recoverIvfPqMerge(spark, path)
    import spark.implicits._
    val qv: Array[Double] = Seq(queryEmbedding).toDF("e")
      .select(scaled(col("e"))).head().getSeq[Double](0).toArray
    val centroids = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getAs[Long]("c_id"), r.getSeq[Double](r.fieldIndex("c_v")).toArray))
    def dotL(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val probe = centroids
      .map { case (cid, cv) =>
        (cid, dotL(qv, cv) / (math.sqrt(dotL(qv, qv)) * math.sqrt(dotL(cv, cv))))
      }
      .sortBy { case (cid, cos) => (-cos, cid) }
      .take(nprobe).map(_._1)
    val qvCol = array(qv.map(lit(_)).toSeq: _*)
    val base = spark.read.parquet(s"$path/vectors")
      .filter(col("cluster").isin(probe.toIndexedSeq: _*) && col("id") =!= queryId)
    // deleted vectors ([[deleteFromIvfIndex]]) mask out via an
    // anti-join (broadcast under [[TombstoneMask]]'s driver-memory
    // bound, shuffled past it) until the next vacuum folds them in
    val live = TombstoneMask.antiJoin(spark, base, path, "id", "id")
    live
      .select(col("id"), cosine(col("v"), qvCol).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .limit(k)
  }

  // --------------------------------------------------- int8 quantization

  /** Symmetric per-vector int8 quantization of a scaled embedding: the
    * scale is the vector's max |component| and each component maps to
    * round-half-away(x·127/scale) ∈ [-127, 127] — a 4× memory/bandwidth
    * reduction (the byte codes are what a production index stores;
    * here they ride in doubles because the arithmetic, not the storage
    * encoding, is what the oracle checks).
    *
    * All arithmetic is EXACT integer: round-half-away is computed as
    * sign(x) · ((|x|·254 + s) floorDiv (2s)) on integer-valued doubles —
    * no float rounding, so Spark and DuckDB agree bit-for-bit. The scale
    * must be computed into its own column first ([[withInt8]]): a lambda
    * capturing the `array_max` subtree would re-evaluate it per element. */
  def quantizeInt8(v: Column, scale: Column): Column =
    transform(v, x => {
      // floor() yields BIGINT; back to double for the native dot product
      val qAbs = floor((abs(x) * 254 + scale) / (scale * 2)).cast("double")
      when(x < 0, -qAbs).otherwise(qAbs)
    })

  /** (id, v, norm, qscale, q): exact-scaled vector + its int8 codes. */
  private def withInt8(embeddings: DataFrame, idCol: String,
      embCol: String): DataFrame =
    withNorm(embeddings, idCol, embCol)
      .withColumn("qscale",
        greatest(array_max(transform(col("v"), x => abs(x))), lit(1.0)))
      .withColumn("q", quantizeInt8(col("v"), col("qscale")))

  /** Quantized ANN with exact re-rank: rank ALL vectors by the int8
    * integer dot product against the query's codes (the cheap pass — at
    * scale it reads 1/4 the bytes of the float scan and the int
    * multiply-adds vectorize), keep the top `rerank` candidates, then
    * re-score ONLY those with the exact full-precision cosine and return
    * the top k. The standard two-stage retrieval shape (quantized scan →
    * exact re-rank); both stages broadcast the single query row and both
    * top-ks compile to TakeOrderedAndProject, so nothing global-sorts. */
  def quantizedTopK(embeddings: DataFrame, idCol: String, embCol: String,
      queryId: Long, k: Int, rerank: Int): DataFrame =
    twoStageTopK(withInt8(embeddings, idCol, embCol), queryId, k, rerank,
      "approx_dot", dot(col("q"), col("qq")).cast("long"),
      coarseAsc = false)

  /** One 32-bit sign-bitmap word over dims [lo, hi] (bit i−lo set iff
    * dimension i is strictly positive, 0-based): folded high-bit-first as
    * `acc·2 + bit`, so the value is Σ bit(i)·2^(i−lo) — pure integer
    * arithmetic in codegen'd builtins, no shifts or float pow. Words stay
    * in [0, 2³²) so the packing is sign-free and mirrors exactly in any
    * engine with 64-bit integers. `get` (not `element_at`) keeps a
    * missing dimension a 0-bit instead of an ANSI out-of-bounds error —
    * the SQL mirror's NULL→ELSE 0 behavior. */
  private def signWord(emb: Column, lo: Int, hi: Int): Column =
    aggregate(sequence(lit(hi), lit(lo), lit(-1)), lit(0L),
      (acc, i) => acc * 2 + when(get(emb, i) > 0, lit(1L))
        .otherwise(lit(0L)))

  /** Shared two-stage retrieval scaffold: broadcast the query row against
    * every other vector, rank by a cheap coarse score (ties by id), keep
    * `rerank` candidates, exact-cosine re-rank to the final k. The query
    * projection renames every base column `c` to `qc`, so coarse scores
    * can mix candidate and query columns. */
  private def twoStageTopK(base: DataFrame, queryId: Long, k: Int,
      rerank: Int, coarseName: String, coarse: Column,
      coarseAsc: Boolean): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val q = base.filter(col("id") === queryId)
      .select(base.columns.filter(_ != "id")
        .map(c => col(c).as(s"q$c")).toSeq: _*)
    val cand = base.filter(col("id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn(coarseName, coarse)
      .orderBy(if (coarseAsc) col(coarseName).asc else col(coarseName).desc,
        col("id").asc)
      .limit(rerank)
    cand.select(col("id"), col(coarseName),
        (dot(col("v"), col("qv")) / (col("norm") * col("qnorm")))
          .as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .limit(k)
  }

  /** Binary-hash ANN (1-bit sign quantization) with exact re-rank: each
    * vector becomes two 32-bit sign-bitmap words — 64 dims collapse to
    * 8 bytes, 32× narrower than the float vector — and the candidate scan
    * ranks ALL vectors by Hamming distance to the query's words (two
    * XOR + popcounts per row; ascending, ties by id), keeps the top
    * `rerank`, then re-scores only those with the exact full-precision
    * cosine. The standard binary-embedding retrieval shape: at 100 TB the
    * (id, w0, w1) signature table is its own narrow projection, the
    * Hamming scan reads 8 bytes/vector instead of 256, and the re-rank
    * fetches `rerank` full vectors. Signs are taken on the RAW floats
    * (x > 0), not the scaled copy — `round(x·1e5)` would zero tiny
    * positives and flip their bit. */
  def hammingTopK(embeddings: DataFrame, idCol: String, embCol: String,
      queryId: Long, k: Int, rerank: Int, dim: Int = 64): DataFrame = {
    require(dim >= 2 && dim <= 64, s"dim in [2, 64], got $dim")
    val e = col(embCol)
    val base = embeddings.select(col(idCol).as("id"),
        scaled(e).as("v"),
        signWord(e, 0, math.min(31, dim - 1)).as("w0"),
        (if (dim > 32) signWord(e, 32, dim - 1) else lit(0L)).as("w1"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    twoStageTopK(base, queryId, k, rerank, "hamming",
      (bit_count(col("w0").bitwiseXOR(col("qw0"))) +
        bit_count(col("w1").bitwiseXOR(col("qw1")))).cast("long"),
      coarseAsc = true)
  }

  /** Distributed kNN JOIN — the top-`k` cosine neighbors of EVERY
    * vector at once (the knn-graph builder that feeds graph clustering,
    * [[semanticDedup]]-style blocking and link-based curation), IVF-
    * blocked so nothing ever goes all-pairs:
    *
    *  1. ONE broadcast-centroids cosine pass per vector (norms computed
    *     once, C rows shrink to a single nprobe-element probe list
    *     before any shuffle);
    *  2. the probe list doubles as the assignment — its first element
    *     IS the nearest centroid, so no separate argmax aggregation;
    *  3. candidates — probe rows equi-join cluster members on the
    *     cluster key; a vector meets only the members of the clusters
    *     it probes, so candidate count per vector ≈ nprobe·|cluster|,
    *     never n;
    *  4. per-vector top-k — one window rank over each vector's candidate
    *     list (bounded by 3.'s fan-in; the sort is partition-local and
    *     spillable), ties broken by neighbor id.
    *
    * Recall follows the IVF curve (raise nprobe for more). At 100 TB
    * the assignment is precomputed (cluster = partition column, the
    * persisted-IVF layout) and step 3 co-locates by construction.
    * Output: (id, neighbor_id, cos_sim, rank 1..k). Vectors whose
    * probed clusters hold fewer than k other members return fewer
    * rows — a thin neighborhood, not an error. */
  def knnJoin(embeddings: DataFrame, idCol: String, embCol: String,
      centroidIds: Seq[Long], nprobe: Int, k: Int): DataFrame = {
    require(centroidIds.nonEmpty, "knnJoin: need at least one centroid")
    require(nprobe >= 1 && nprobe <= centroidIds.size,
      s"nprobe in [1, ${centroidIds.size}], got $nprobe")
    require(k >= 1, s"k must be >= 1, got $k")
    val base = withNorm(embeddings, idCol, embCol)
    // centroids come to the driver (a k-sized collect, the house IVF
    // pattern) and ride the probe expression as ONE reference object:
    // the probe list is then a NARROW per-row pass — scan → project —
    // instead of the previous crossJoin+groupBy, which shuffled
    // N × |centroids| rows EACH CARRYING THE VECTOR ARRAY (README's
    // round-9 scale-join entry: super-linear wall-time once the centroid
    // count scales with the corpus). Cosine arithmetic/order is identical
    // (same dot loop, same (−cos, id) sort), so results are unchanged.
    val cents = base.filter(col("id").isin(centroidIds: _*))
      .select(col("id"), col("v")).collect()
      .map(r => (r.getAs[Long]("id"),
        r.getSeq[Double](r.fieldIndex("v")).toArray))
      .sortBy(_._1)
    val topc = org.apache.spark.sql.GraftShims.column(
      org.apache.spark.sql.graft.CosineTopClusters(
        org.apache.spark.sql.GraftShims.expression(col("v")),
        cents.map(_._1), cents.map(_._2), nprobe))
    // checkpointed: feeds BOTH sides of the candidate join — one
    // materialized pass instead of recomputing the probe expression
    // (and the withNorm lineage) twice
    val probes = base.withColumn("pcs", topc).localCheckpoint(false)
    // the candidate join EXPANDS (cluster-size × nprobe pairs per row)
    // from a tiny shuffle input: AQE's size-based coalescing would fuse
    // the ~MB-sized exchanges into one partition and run the pair
    // generation single-threaded. An explicit numbered repartition on
    // the join key is never coalesced (user-specified REPARTITION_BY_NUM
    // origin) and satisfies the join's distribution, so pair expansion
    // keeps full parallelism — measured 33 s → 4 s at 20k vectors.
    val parts = probes.sparkSession.sessionState.conf.numShufflePartitions
    val assigned = probes.select(col("id").as("neighbor_id"),
      col("v").as("nv"), col("norm").as("n_norm"),
      col("pcs").getItem(0).as("cluster"))
      .repartition(parts, col("cluster"))
    probes.select(col("id"), col("v"), col("norm"),
        explode(col("pcs")).as("probe_cluster"))
      .repartition(parts, col("probe_cluster"))
      .join(assigned,
        col("probe_cluster") === col("cluster") &&
          col("id") =!= col("neighbor_id"))
      .select(col("id"), col("neighbor_id"),
        (dot(col("v"), col("nv")) / (col("norm") * col("n_norm")))
          .as("cos_sim"))
      // top-k per id via the bounded heap aggregate, NOT a row_number
      // window: the window sorts the FULL candidate set (≈ clusterSize ×
      // nprobe rows per id — 50M rows at 20k vectors in README's round-9
      // scale-join entry, ~17 s of a 21 s job) where the heap keeps k pairs per mapper
      // with map-side combine. (cos desc, id asc) order rides TopKPairs'
      // long tuples via the order-preserving double→long bit codec and
      // a negated payload id; values decode back bit-identically.
      .groupBy(col("id"))
      .agg(graft.operators.Curation.topKPairs(
        org.apache.spark.sql.GraftShims.column(
          org.apache.spark.sql.graft.DoubleSortableBits(
            org.apache.spark.sql.GraftShims.expression(col("cos_sim")))),
        -col("neighbor_id"), k, largest = true).as("s"))
      .select(col("id"), posexplode(col("s")).as(Seq("r", "p")))
      .select(col("id"), (-col("p.payload")).as("neighbor_id"),
        org.apache.spark.sql.GraftShims.column(
          org.apache.spark.sql.graft.SortableBitsToDouble(
            org.apache.spark.sql.GraftShims.expression(col("p.ord"))))
          .as("cos_sim"),
        (col("r") + 1).cast("long").as("rank"))
  }

  /** Random-hyperplane LSH near-duplicate pairs — the SCALE path for
    * cosine dedup: signatures are sign-bits against `nPlanes`
    * deterministic ±1 hyperplanes (md5-derived, no RNG — reproducible on
    * any cluster), candidates block on signature chunks (one shuffle on
    * (block_idx, block) with tiny buckets), and only candidates get the
    * exact cosine ≥ threshold verification. Recall is the standard
    * SimHash-LSH curve: high for near-identical vectors, tunable via
    * nPlanes/blocks. The exact [[nearDuplicatePairs]] remains the
    * small-data baseline and truth oracle. */
  def cosineLshPairs(embeddings: DataFrame, idCol: String, embCol: String,
      threshold: Double, dim: Int, nPlanes: Int = 16,
      blocks: Int = 4): DataFrame = {
    // deterministic ±1 planes: sign p,i from one md5 bit (shared helper
    // with the asymmetric delta path)
    val signed = withSignature(embeddings, idCol, embCol,
      hyperplanes(nPlanes, dim))
    require(blocks >= 1 && blocks <= nPlanes && nPlanes % blocks == 0,
      s"blocks ($blocks) must divide nPlanes ($nPlanes) with at least " +
        "one plane per block — a zero-length block would collide ALL " +
        "vectors (O(n\u00b2) candidates); a non-divisor drops sign bits")
    val blockLen = nPlanes / blocks
    val exploded = signed.select(col("id"), col("v"), col("norm"),
      posexplode(transform(sequence(lit(0), lit(blocks - 1)),
        b => col("sig").substr(b * blockLen + 1, lit(blockLen))))
        .as(Seq("block_idx", "block")))
    val candidates = exploded.as("a").join(exploded.as("b"),
        col("a.block_idx") === col("b.block_idx") &&
          col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.v").as("v_a"),
        col("a.norm").as("norm_a"), col("b.id").as("id_b"),
        col("b.v").as("v_b"), col("b.norm").as("norm_b"))
      .distinct()
    candidates
      .select(col("id_a"), col("id_b"),
        (dot(col("v_a"), col("v_b")) / (col("norm_a") * col("norm_b")))
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Deterministic ±1 hyperplanes shared by the symmetric and asymmetric
    * LSH paths (md5-derived — reproducible on any cluster). */
  private def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nPlanes) { p =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(dim) { i =>
        val d = md.digest(s"$p:$i".getBytes("UTF-8"))
        if ((d(0) & 1) == 1) 1.0 else -1.0
      }
    }

  private def withSignature(df: DataFrame, idCol: String, embCol: String,
      planes: Array[Array[Double]]): DataFrame = {
    val s = withNorm(df, idCol, embCol)
    val sigBits: Seq[Column] = planes.toSeq.map { plane =>
      val planeCol = array(plane.map(lit(_)).toSeq: _*)
      when(dot(col("v"), planeCol) > 0, lit("1")).otherwise(lit("0"))
    }
    s.withColumn("sig", concat(sigBits: _*))
  }

  /** Cross-corpus (delta) embedding near-dup: which BATCH vectors are
    * cosine-near something already in the CORPUS — the embeddings twin of
    * [[graft.operators.Dedup.crossCorpusNearDuplicates]]. Blocking on
    * hyperplane-signature chunks, asymmetric equi-join (batch blocks ×
    * corpus blocks), exact cosine verify on candidates. At scale the
    * corpus side is precomputed (same signature columns persisted
    * partitioned by block, like the MinHash band index). */
  def cosineLshDelta(corpus: DataFrame, batch: DataFrame, idCol: String,
      embCol: String, threshold: Double, dim: Int, nPlanes: Int = 16,
      blocks: Int = 4): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    require(blocks >= 1 && blocks <= nPlanes && nPlanes % blocks == 0,
      s"blocks ($blocks) must divide nPlanes ($nPlanes) with at least " +
        "one plane per block — a zero-length block would collide ALL " +
        "vectors (O(n\u00b2) candidates); a non-divisor drops sign bits")
    val blockLen = nPlanes / blocks
    def explodeBlocks(df: DataFrame, prefix: String): DataFrame =
      withSignature(df, idCol, embCol, planes).select(
        col("id").as(s"${prefix}_id"), col("v").as(s"v_$prefix"),
        col("norm").as(s"norm_$prefix"),
        posexplode(transform(sequence(lit(0), lit(blocks - 1)),
          b => col("sig").substr(b * blockLen + 1, lit(blockLen))))
          .as(Seq(s"${prefix}_block_idx", s"${prefix}_block")))
    val b = explodeBlocks(batch, "b")
    val c = explodeBlocks(corpus, "c")
    b.join(c,
        col("b_block_idx") === col("c_block_idx") &&
          col("b_block") === col("c_block"))
      .select(col("b_id").as("batch_id"), col("v_b"), col("norm_b"),
        col("c_id").as("corpus_id"), col("v_c"), col("norm_c"))
      .distinct()
      .select(col("batch_id"), col("corpus_id"),
        (dot(col("v_b"), col("v_c")) / (col("norm_b") * col("norm_c")))
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** All-pairs near-duplicates by cosine ≥ threshold (exact; the LSH/IVF
    * path is the scale alternative when the threshold search must avoid
    * the pairwise product). Norms precomputed per row: one native dot per
    * pair. */
  def nearDuplicatePairs(embeddings: DataFrame, idCol: String, embCol: String,
                         threshold: Double): DataFrame = {
    val s = withNorm(embeddings, idCol, embCol)
    s.as("a").join(s.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")))
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  // --------------------------------------------------------- k-means

  /** Greedy farthest-point (k-center) CORESET selection — the
    * diversity-sampling half of embedding-space curation (k-means finds
    * the dense middles; this finds the SPREAD: the classic coreset /
    * active-learning selection of Sener & Savarese 2018, and the seed
    * picker for a quantizer that must cover the tails). Deterministic:
    * the seed is the smallest id, vectors are the similarity ops'
    * `round(x·1e5)` integer grid, distances are exact integer squared
    * L2 (every term < 2⁴² — sums stay exactly representable), ties
    * break toward the smallest id. Output: one row per selection,
    * `(sel_idx 1..k, id, dist_sq)` where `dist_sq` is the point's
    * distance to the already-chosen set at selection time — the
    * monotone non-increasing coverage-radius curve a curation pipeline
    * thresholds on. Selecting more points than exist stops early.
    *
    * Scale shape: the textbook O(n·k) — k passes, each ONE map-side-
    * combined argmax aggregation over the corpus with the newly chosen
    * vector riding the plan as a literal (dim-sized, never a join);
    * the running min-distance column updates narrowly and is
    * checkpointed per round. Nothing is ever pairwise. */
  def farthestPointSample(embeddings: DataFrame, idCol: String,
      embCol: String, k: Int): DataFrame = {
    require(k >= 1, s"farthestPointSample: k must be >= 1, got $k")
    val spark = embeddings.sparkSession
    import spark.implicits._
    def distSq(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, e) => acc + e)
    def vLit(v: Seq[Double]): Column = array(v.map(lit(_)): _*)
    val pts = embeddings.select(col(idCol).cast("long").as("id"),
      scaled(col(embCol)).as("v")).localCheckpoint(false)
    val seed = pts.orderBy(col("id")).limit(1).head()
    val (seedId, seedV) = (seed.getLong(0), seed.getSeq[Double](1))
    var chosen = Vector((1L, seedId, 0L))
    var chosenIds = Set(seedId)
    var cur = pts.withColumn("md", distSq(col("v"), vLit(seedV)))
      .localCheckpoint(false)
    var i = 2
    var exhausted = false
    while (i <= k && !exhausted) {
      // argmax by (min-dist-to-set, smallest id). -id overflows only at
      // Long.MinValue — not a real vector id (the LPA tie-break note).
      val top = cur
        .filter(!col("id").isin(chosenIds.toSeq.map(Long.box): _*))
        .agg(max_by(struct(col("id"), col("v"), col("md")),
          struct(col("md"), -col("id"))).as("c"))
        .head().getStruct(0)
      if (top == null) exhausted = true // fewer points than k
      else {
        val (cid, cv, cmd) =
          (top.getLong(0), top.getSeq[Double](1), top.getDouble(2))
        chosen :+= ((i.toLong, cid, cmd.toLong))
        chosenIds += cid
        cur = cur.withColumn("md",
          least(col("md"), distSq(col("v"), vLit(cv))))
          .localCheckpoint(false)
        i += 1
      }
    }
    chosen.toDF("sel_idx", "id", "dist_sq")
  }

  /** Maximal-marginal-relevance (MMR) diverse top-k — the re-rank
    * between a similarity search and what a pipeline actually keeps
    * (RAG context assembly, diverse exemplar selection): iteratively
    * pick the candidate maximizing
    * `λ·rel(d,q) − (1−λ)·max_{s∈chosen} sim(d,s)`
    * (Carbonell & Goldstein 1998). Where [[farthestPointSample]] is
    * pure spread, MMR trades relevance against redundancy with
    * explicit λ.
    *
    * Deterministic exact integers end to end: vectors ride the
    * similarity ops' `round(x·1e5)` grid, rel/sim are exact integer
    * dot products, λ is the RATIONAL `lambdaNum/lambdaDen` so the
    * greedy compares `lambdaNum·rel − (lambdaDen−lambdaNum)·maxSim`
    * in Longs (dim·1e10·λden stays far inside 2⁶³); ties break toward
    * the smallest id. The first pick's redundancy term is 0 by
    * convention (nothing is chosen yet).
    *
    * Scale shape: the DISTRIBUTED stage is the relevance top-`poolSize`
    * — one narrow dot-product scan + TakeOrderedAndProject (never a
    * full sort); the greedy then runs driver-side over the collected
    * pool, O(k·poolSize·dim) on a caller-bounded candidate set — the
    * same driver-sized-artifact budget as centroids/codebooks
    * (poolSize is hundreds, not corpus-sized; the corpus never
    * leaves the executors). Output: one row per selection
    * `(sel_idx 1..k, id, rel, mmr_score)` with the score AT selection
    * time — monotone non-increasing, the curve a pipeline thresholds. */
  def mmrSelect(embeddings: DataFrame, idCol: String, embCol: String,
      queryId: Long, k: Int, lambdaNum: Long, lambdaDen: Long,
      poolSize: Int): DataFrame = {
    require(k >= 1, s"mmrSelect: k must be >= 1, got $k")
    require(poolSize >= k, s"mmrSelect: poolSize ($poolSize) must cover k ($k)")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"mmrSelect: lambda must be a rational in [0,1], got $lambdaNum/$lambdaDen")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val pts = embeddings.select(col(idCol).cast("long").as("id"),
      scaled(col(embCol)).as("v"))
    val qRows = pts.filter(col("id") === queryId).take(2)
    require(qRows.length == 1, s"mmrSelect: query id $queryId must match " +
      s"exactly one row, matched ${qRows.length}")
    val qv = qRows.head.getSeq[Double](1)
    val qLit = array(qv.map(lit(_)): _*)
    // distributed relevance top-pool: TakeOrderedAndProject, no full sort
    val pool = pts.filter(col("id") =!= queryId)
      .withColumn("rel", dot(col("v"), qLit).cast("long"))
      .orderBy(col("rel").desc, col("id").asc).limit(poolSize)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    def dotL(a: Array[Double], b: Array[Double]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { s += a(i).toLong * b(i).toLong; i += 1 }
      s
    }
    val anti = lambdaDen - lambdaNum
    // max dot against the chosen set — the TRUE max (may be negative);
    // only the very first pick, where the set is empty, scores with a
    // zero redundancy term
    val maxSim = scala.collection.mutable.Map.empty[Long, Long]
    var remaining = pool
    var chosen = Vector.empty[(Long, Long, Long, Long)]
    var idx = 1L
    while (idx <= k && remaining.nonEmpty) {
      def score(id: Long, rel: Long): Long =
        if (chosen.isEmpty) lambdaNum * rel
        else lambdaNum * rel - anti * maxSim(id)
      // the FIRST pick orders by relevance itself, not λ·rel: for λ>0
      // the argmax is identical (λ is a positive scalar), but at λ=0
      // λ·rel ties everything and the id tie-break would pick an
      // arbitrary low-id candidate where the greedy's (and the
      // oracle's) first pick is defined as the most relevant
      val best =
        if (chosen.isEmpty) remaining.minBy { case (id, _, rel) => (-rel, id) }
        else remaining.minBy { case (id, _, rel) => (-score(id, rel), id) }
      chosen :+= ((idx, best._1, best._3, score(best._1, best._3)))
      remaining = remaining.filterNot(_._1 == best._1)
      remaining.foreach { case (id, v, _) =>
        val s = dotL(v, best._2)
        if (!maxSim.get(id).exists(_ >= s)) maxSim(id) = s
      }
      idx += 1
    }
    chosen.toDF("sel_idx", "id", "rel", "mmr_score")
  }

  /** Deterministic ±1 sign for the random-projection matrix: parity of
    * the first md5 hex digit of `"<tag>:<j>:<i>"` — the same expression
    * a DuckDB oracle can evaluate digit for digit (the hash60
    * convention applied to a sign). */
  private def rpSign(tag: String, j: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$tag:$j:$i".getBytes("UTF-8"))
    if ((((d(0) >> 4) & 0xf) % 2) == 0) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss random projection — the dimensionality
    * reduction between raw embeddings and everything whose cost scales
    * with dim (ANN probes, dedup signatures, drift sketches): project
    * `dim` → `outDim` with a DENSE ±1 matrix (Achlioptas 2001, "Database
    * -friendly random projections" — ±1 entries preserve pairwise
    * distances with the same JL guarantee as Gaussians and keep the
    * arithmetic exact). The matrix is never stored: entry (j,i) is a
    * deterministic md5-parity sign, so any engine (and any later run)
    * reconstructs it bit-identically from `tag` alone.
    *
    * Exactness: inputs ride the `round(x·1e5)` integer grid, signs are
    * ±1, so every output coordinate is an exact integer Long (|coord| ≤
    * dim·1e5). Shape: a pure NARROW map — `outDim` codegen'd dot
    * products per row against plan-literal sign rows, no shuffle at
    * all; at 100 TB it is a map-only pass that SHRINKS the data by
    * dim/outDim before any distance-bearing shuffle happens. */
  def randomProject(embeddings: DataFrame, idCol: String, embCol: String,
      dim: Int, outDim: Int, tag: String = "rp"): DataFrame = {
    require(dim >= 1 && outDim >= 1 && outDim <= dim,
      s"randomProject: need 1 <= outDim ($outDim) <= dim ($dim)")
    val signs = Array.tabulate(outDim, dim)((j, i) => rpSign(tag, j, i))
    val projCols = (0 until outDim).map(j =>
      dot(col("v"), array(signs(j).map(lit(_)).toIndexedSeq: _*)).cast("long"))
    embeddings.select(col(idCol).cast("long").as("id"),
        scaled(col(embCol)).as("v"))
      .select(col("id"), array(projCols: _*).as("rp"))
  }

  /** Exact top-k in the PROJECTED space (squared L2 over the integer
    * projection): the quality probe for [[randomProject]] — at scale
    * the projected vectors feed the usual bucketed paths; this direct
    * scan (one narrow distance column + TakeOrderedAndProject) is the
    * measurement harness, same role as [[topK]] for the exact space. */
  def rpTopK(embeddings: DataFrame, idCol: String, embCol: String,
      dim: Int, outDim: Int, queryId: Long, k: Int,
      tag: String = "rp"): DataFrame = {
    val rp = randomProject(embeddings, idCol, embCol, dim, outDim, tag)
      .localCheckpoint(false) // one projection pass feeds query + scan
    val qRows = rp.filter(col("id") === queryId).take(2)
    require(qRows.length == 1, s"rpTopK: query id $queryId must match " +
      s"exactly one row, matched ${qRows.length}")
    val qLit = array(qRows.head.getSeq[Long](1).map(lit(_)): _*)
    rp.filter(col("id") =!= queryId)
      .withColumn("dist_sq",
        aggregate(zip_with(col("rp"), qLit, (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, e) => acc + e))
      .select(col("id"), col("dist_sq"))
      .orderBy(col("dist_sq").asc, col("id").asc).limit(k)
  }

  /** Deterministic spherical k-means (topic clustering over embeddings).
    *
    * Every quantity stays an exact small integer so the clustering is
    * bit-identical across engines, runs and partitionings:
    *  - vectors are scaled `round(x·1e3)` (coarser than the 1e5 of the
    *    similarity ops: the grid bounds centroid magnitude, below);
    *  - assignment = argmax of cosine against the current centroids with a
    *    lowest-cluster tie-break; cosines are exact-int dot / sqrt·sqrt,
    *    the same arithmetic on both engines;
    *  - the centroid update is a per-dimension TRUNCATED-integer mean
    *    (`sum div count` — Spark `div` ≡ DuckDB `//`), so centroids stay
    *    exact integers of vector magnitude (≤ ~600 here) no matter how
    *    many members a cluster has — sums of products never approach 2⁵³
    *    and no float rounding ever enters the loop.
    *
    * Spark shape per iteration: assignment is a NARROW pass — the k·dim
    * centroid matrix rides the plan as ONE reference object (the same
    * mechanics as MLlib KMeans' centroid broadcast, see
    * [[org.apache.spark.sql.graft.CosineArgMax]]), never as literal
    * columns — and the update is one posexplode + HashAggregate (map-side
    * partial sums) collecting k·dim rows. No join, no window, no
    * per-vector shuffle beyond the one aggregation — at 10⁹ vectors each
    * iteration is one scan + one tiny aggregate. */
  def kmeans(embeddings: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int, dim: Int): DataFrame = {
    val s = embeddings.select(col(idCol).as("id"),
        transform(col(embCol), x => round(x * 1000.0, 0)).as("v"))
      .localCheckpoint(false) // reused by every iteration: scan once
    // init: the embeddings of ids 0..k-1 (deterministic seeding)
    var centroids: Seq[(Int, Array[Double])] =
      s.filter(col("id") < k).collect()
        .map(r => (r.getAs[Long]("id").toInt,
          r.getSeq[Double](r.fieldIndex("v")).toArray))
        .sortBy(_._1).toSeq
    require(centroids.nonEmpty,
      s"kmeans needs seed vectors with $idCol in [0, $k); none found")

    def assign(cs: Seq[(Int, Array[Double])]): DataFrame = {
      // centroids travel as ONE reference object in the plan (broadcast-
      // style task closure), not k·dim literal columns — an inline-literal
      // greatest() cascade is fine at k=8 but becomes a codegen-breaking
      // ~10⁵-node tree at k=64 × dim=1024. Semantics (including lowest-id
      // tie-breaks and NaN ordering) are mirrored exactly; see
      // [[org.apache.spark.sql.graft.CosineArgMax]].
      val am = org.apache.spark.sql.GraftShims.column(
        org.apache.spark.sql.graft.CosineArgMax(
          org.apache.spark.sql.GraftShims.expression(col("v")),
          cs.map(_._1.toLong).toArray, cs.map(_._2).toArray))
      s.withColumn("_am", am)
        .withColumn("cluster", col("_am").getField("cluster"))
        .withColumn("cos_sim", col("_am").getField("cos_sim"))
        .drop("_am")
    }

    for (_ <- 1 to iters) {
      val sums = assign(centroids)
        .select(col("cluster"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("cluster"), col("d"))
        .agg(sum(col("x")).cast("long").as("sv"), count(lit(1)).as("cnt"))
        .withColumn("c", expr("sv div cnt").cast("double"))
        .collect()
      centroids = sums.groupBy(_.getAs[Long]("cluster").toInt).toSeq
        .map { case (cid, rows) =>
          val arr = new Array[Double](dim)
          rows.foreach(r => arr(r.getAs[Int]("d")) = r.getAs[Double]("c"))
          (cid, arr)
        }
        .sortBy(_._1)
    }
    assign(centroids).select(col("id"), col("cluster"), col("cos_sim"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): duplicate MEANINGS, not
    * duplicate bytes — k-means partitions the embedding space
    * ([[kmeans]], exact-integer spherical Lloyd), exact pairwise cosine
    * runs ONLY within each cluster (the cluster id is the blocking key:
    * candidate generation is an equi-join, never an all-pairs product),
    * and every pair at or above `threshold` marks one member dropped.
    *
    * Drop rule, the paper's keep-the-rim policy made deterministic: in
    * each above-threshold pair drop the member whose cosine TO ITS
    * CENTROID is higher (the redundant cluster core goes, the diverse
    * rim stays); centroid-cosine ties drop the higher id. A document
    * survives iff no pair drops it. All cosines are exact-integer
    * dot / sqrt·sqrt — bit-stable across engines, so even the threshold
    * boundary is oracle-exact.
    *
    * Scale: within-cluster pair cost is Σ|cluster|² — pick k so clusters
    * average the paper's working size (k ≈ n / a-few-hundred; the
    * assignment pass is narrow and the pair join shuffles once on the
    * cluster key). Output: (id, cluster, centroid_cos, is_kept 0/1). */
  def semanticDedup(embeddings: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int, dim: Int, threshold: Double): DataFrame = {
    val assigned = kmeans(embeddings, idCol, embCol, k, iters, dim)
    // the SAME 1e3 scaling kmeans uses, so pair cosines live in the
    // same exact-integer grid as the centroid cosines
    val sv = embeddings.select(col(idCol).cast("long").as("id"),
      transform(col(embCol), x => round(x * 1000.0, 0)).as("v"))
    val base = assigned.join(sv, "id")
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
      .select(col("id"), col("cluster"), col("cos_sim"), col("v"), col("norm"))
    // numbered repartition on the blocking key: the pair join EXPANDS
    // (cluster-size² pairs per cluster) from an MB-sized shuffle, and
    // AQE's size-based coalescing would otherwise fuse the exchanges
    // and run the expansion nearly single-threaded (the knnJoin
    // finding; README's round-9 scale-join entry). User-numbered
    // repartitions are never coalesced and satisfy the join's
    // distribution.
    val parts = base.sparkSession.sessionState.conf.numShufflePartitions
    val bp = base.repartition(parts, col("cluster"))
    val pairs = bp.as("a").join(bp.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        col("a.cos_sim").as("ca"), col("b.cos_sim").as("cb"),
        (dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")))
          .as("pc"))
      .filter(col("pc") >= threshold)
    val drops = pairs.select(
        when(col("ca") > col("cb"), col("ia"))
          .when(col("ca") < col("cb"), col("ib"))
          .otherwise(greatest(col("ia"), col("ib"))).as("drop_id"))
      .distinct()
    base.join(drops, col("id") === col("drop_id"), "left")
      .select(col("id"), col("cluster"),
        col("cos_sim").as("centroid_cos"),
        col("drop_id").isNull.cast("long").as("is_kept"))
  }

  // ------------------------------------------------ product quantization

  /** `pq_encode(v)` as a Column (codebooks ride the plan as one
    * reference object — see [[org.apache.spark.sql.graft.PqEncodeL2]]). */
  def pqEncode(v: Column, codebooks: Array[Array[Array[Double]]]): Column =
    org.apache.spark.sql.GraftShims.column(
      org.apache.spark.sql.graft.PqEncodeL2(
        org.apache.spark.sql.GraftShims.expression(v), codebooks))

  /** Product-quantization codebooks — the compression half of FAISS-style
    * IVF-PQ, deterministic end to end: the vector splits into `m`
    * contiguous subspaces; each subspace gets a `ks`-centroid codebook
    * trained by Lloyd rounds under EXACT-INTEGER squared L2 (assignment
    * ties → lowest code; update = per-dimension truncated-integer mean,
    * `sum div count`; empty clusters keep their previous centroid).
    * Seeding = the subvectors of ids 0..ks-1, like [[kmeans]].
    *
    * Spark shape per round: ONE narrow encode pass (codes computed by the
    * native expression, no join) + one aggregation whose output is
    * m·ks·dsub rows — centroid state is a driver-side scalar exactly like
    * [[kmeans]]'s. Returns `[subspace][code][dsub]`. */
  def pqCodebooks(embeddings: DataFrame, idCol: String, embCol: String,
      m: Int, ks: Int, iters: Int, dim: Int): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into $m subspaces")
    val dsub = dim / m
    val s = embeddings
      .select(col(idCol).cast("long").as("id"), scaled(col(embCol)).as("v"))
      .localCheckpoint(false) // reused by every round: scan once
    val seedRows = s.filter(col("id") < ks).collect()
      .sortBy(_.getAs[Long]("id"))
    require(seedRows.length == ks,
      s"pq needs seed vectors with $idCol in [0, $ks); found ${seedRows.length}")
    var cb: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      seedRows.map(_.getSeq[Double](1).slice(j * dsub, (j + 1) * dsub).toArray)
    }
    for (_ <- 1 to iters) {
      val sums = s.withColumn("codes", pqEncode(col("v"), cb))
        .select(col("v"), posexplode(col("codes")).as(Seq("j", "code")))
        .withColumn("vsub", expr(s"slice(v, j * $dsub + 1, $dsub)"))
        .select(col("j"), col("code"), posexplode(col("vsub")).as(Seq("d", "x")))
        .groupBy(col("j"), col("code"), col("d"))
        .agg(sum(col("x")).cast("long").as("sv"), count(lit(1)).as("cnt"))
        .withColumn("c", expr("sv div cnt").cast("double"))
        .collect()
      val next = cb.map(_.map(_.clone()))
      sums.foreach { r =>
        next(r.getAs[Int]("j"))(r.getAs[Long]("code").toInt)(
          r.getAs[Int]("d")) = r.getAs[Double]("c")
      }
      cb = next
    }
    cb
  }

  /** Persist the composed IVF-PQ index — the FAISS billion-vector layout,
    * assembled from the two halves already proven separately
    * ([[writeIvfIndex]]'s cluster-partitioned directories,
    * [[pqCodebooks]]/[[pqTopK]]'s m-byte codes + ADC):
    * every vector lives under its centroid's `cluster=<c>/` directory as
    * (id, codes, v) — `codes` is the m-code PQ encoding the ADC scan
    * reads, `v` the full scaled vector ONLY the exact re-rank stage
    * fetches; they are separate Parquet columns, so column pruning gives
    * the ADC scan an m-byte-per-vector read without a second table.
    * Codebooks (trained on the whole corpus — global, not per-cluster
    * residual: keeps every quantity an exact integer and the oracle a
    * full mirror) and centroids persist beside the vectors.
    *
    * Scale shape: one broadcast-argmax assignment pass + `iters` Lloyd
    * rounds (each one narrow encode + a m·ks·dsub-row aggregate) + one
    * partitioned write — nothing joins vector-against-vector.
    *
    * One staged generation (the [[writeIvfIndex]] build step plus the
    * codebooks table). `batchId`: the micro-batch id when the build IS a
    * streaming batch ([[streamIvfPqIndex]]'s first), committed with the
    * generation, so a replay of that batch is an exactly-once skip. */
  def writeIvfPqIndex(embeddings: DataFrame, idCol: String, embCol: String,
      centroidIds: Seq[Long], path: String, m: Int = 4, ks: Int = 8,
      iters: Int = 1, dim: Int = 64, batchId: Option[Long] = None): Unit =
    StagedCommit.mutate(embeddings.sparkSession, path, IvfPq, batchId)(Some(
      stageIvfPqBuild(embeddings, idCol, embCol, centroidIds, path, m, ks,
        iters, dim, batchId)) -> ()): Unit

  /** [[writeIvfPqIndex]]'s stage step: codebooks trained, vectors
    * assigned and encoded, all three tables staged whole.
    * Package-visible so crash tests can stop here. */
  private[graft] def stageIvfPqBuild(embeddings: DataFrame, idCol: String,
      embCol: String, centroidIds: Seq[Long], path: String, m: Int, ks: Int,
      iters: Int, dim: Int, batchId: Option[Long] = None): String = {
    val cb = pqCodebooks(embeddings, idCol, embCol, m, ks, iters, dim)
    val scaledDf = embeddings.select(col(idCol).cast("long").as("id"),
      scaled(col(embCol)).as("v"))
    val centroids = centroidsOf(scaledDf, centroidIds)
    val spark = embeddings.sparkSession
    import spark.implicits._
    val codebooks = (for { j <- 0 until m; c <- 0 until ks; d <- 0 until dim / m }
      yield (j, c.toLong, d, cb(j)(c)(d))).toDF("j", "code", "d", "cval")
    stageIvfBuild(path, batchId, nearestCentroid(scaledDf, centroids)
        .withColumn("codes", pqEncode(col("v"), cb))
        .select(col("id"), col("codes"), col("v"), col("cluster")),
      "centroids" -> centroids, "codebooks" -> codebooks)
  }

  /** Incrementally merge NEW vectors into a persisted IVF-PQ index —
    * the FAISS add-after-train lifecycle (train once, add forever): the
    * batch is assigned with the STORED centroids and encoded with the
    * STORED codebooks (no retraining), and only the touched cluster
    * directories are rewritten — existing rows unioned back + new rows,
    * staged under `_staging_<gen>`, committed by a manifest listing the
    * staged cluster dirs, applied by idempotent renames, recovered on
    * open. The `ObservationStore.mergeBatch` / `Retrieval.mergeIndex`
    * machinery, so EVERY persisted index in the engine shares one
    * crash-atomicity story: either the generation advances with all its
    * clusters or the index is untouched. Batch ids must be new (the
    * append-only contract, as everywhere). Cost scales with the batch's
    * cluster spread, never the index. */
  def mergeIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, embCol: String,
      batchId: Option[Long] = None): Unit =
    StagedCommit.mutate(spark, path, IvfPq, batchId)(Some(
      stageIvfPqMerge(spark, path, batch, idCol, embCol, batchId)) -> ()): Unit

  /** The IVF and IVF-PQ indexes' commit shape: whole tables (a build's
    * vectors, centroids and codebooks; absent from merge and vacuum
    * manifests), then the staged cluster directories. */
  private val IvfPq = StagedCommit.Family(Seq(
    StagedCommit.PieceList("staged_tables", ifAbsent = Some((_, _) => Nil)),
    StagedCommit.PieceList("staged_vectors", "vectors")))

  /** Continuous vector-index maintenance: every micro-batch of NEW
    * embeddings lands in the persisted IVF-PQ index as one committed
    * generation — the vector twin of [[Retrieval.streamIndex]], closing
    * the FAISS add-after-train lifecycle over a stream. The FIRST
    * non-empty batch trains the index (centroids from `centroidIds`,
    * codebooks from that batch's vectors — train once); every later
    * batch is assigned/encoded with the STORED model and staged-merged
    * ([[mergeIvfPqIndex]]), so a query between batches never sees a
    * half-applied generation, and a Spark-retried batch replays as a
    * no-op via the recorded batch id. A first batch whose build died
    * before its manifest replays as a rebuild. Batches must carry
    * previously-unseen vector ids (the append-only contract shared by
    * every persisted index here). */
  def streamIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      vectors: DataFrame, idCol: String, embCol: String, path: String,
      checkpointDir: String, centroidIds: Seq[Long], m: Int = 4,
      ks: Int = 8, iters: Int = 1, dim: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StagedCommit.stream(spark, vectors, path, checkpointDir)(
      (batch, bid) => writeIvfPqIndex(batch, idCol, embCol, centroidIds,
        path, m, ks, iters, dim, Some(bid)),
      (batch, bid) =>
        mergeIvfPqIndex(spark, path, batch, idCol, embCol, Some(bid)))

  private def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Array[Double]]] = {
    val cbRows = spark.read.parquet(s"$path/codebooks").collect()
    val m = cbRows.map(_.getAs[Int]("j")).max + 1
    val ks = cbRows.map(_.getAs[Long]("code")).max.toInt + 1
    val dsub = cbRows.map(_.getAs[Int]("d")).max + 1
    val cb = Array.ofDim[Double](m, ks, dsub)
    cbRows.foreach(r => cb(r.getAs[Int]("j"))(r.getAs[Long]("code").toInt)(
      r.getAs[Int]("d")) = r.getAs[Double]("cval"))
    cb
  }

  private[graft] def stageIvfPqMerge(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, idCol: String,
      embCol: String, batchId: Option[Long] = None): String = {
    require(!batch.isEmpty, "mergeIvfPqIndex: batch is empty")
    StagedCommit.stage(spark, path, batchId) { stg =>
      val cb = loadCodebooks(spark, path)
      val centroids = spark.read.parquet(s"$path/centroids")
      // assignment against the persisted centroid vectors — the build's
      // bit-identical cluster choice
      val withCodes = nearestCentroid(batch.select(
          col(idCol).cast("long").as("id"), scaled(col(embCol)).as("v")),
          centroids)
        .withColumn("codes", pqEncode(col("v"), cb))
        .select(col("id"), col("codes"), col("v"), col("cluster"))
        .localCheckpoint(false) // feeds touched-cluster collect + the write
      val touched = withCodes.select("cluster").distinct()
        .collect().map(_.getLong(0))
      spark.read.parquet(s"$path/vectors")
        .filter(col("cluster").isin(touched.toIndexedSeq: _*))
        .select(withCodes.columns.toIndexedSeq.map(col): _*)
        .unionAll(withCodes)
        .repartition(col("cluster"))
        .write.mode("overwrite").partitionBy("cluster")
        .parquet(s"${stg.dir}/vectors")
      Some(StagedCommit.Manifest(Seq("staged_vectors" -> StagedCommit
        .stagedPartDirs(spark, s"${stg.dir}/vectors", "cluster=")))) -> ()
    }._1.get
  }

  /** The [[Retrieval.recoverIndexMerge]] contract for the IVF and IVF-PQ
    * indexes: committed staging (a build, merge or vacuum) replays,
    * manifest-less staging is only ever discarded by a writer. */
  def recoverIvfPqMerge(spark: org.apache.spark.sql.SparkSession,
      path: String, deleteUncommitted: Boolean = false): Unit =
    StagedCommit.recover(spark, path, IvfPq, deleteUncommitted)

  /** Top-k through a persisted IVF-PQ index: centroids are collected
    * (tiny) and ranked driver-side → `nprobe` cluster directories are the
    * ONLY partitions scanned; the query's m×ks ADC distance table is
    * computed driver-side from the stored codebooks and broadcast; every
    * probed vector's ADC score is m lookups + a map-side-combined sum;
    * the top `rerank` candidates (TakeOrdered, no global sort) are then
    * re-scored with the exact full-precision cosine — a broadcast
    * semi-join back into the SAME pruned partitions, this time reading
    * the `v` column. Two pruned scans: one codes-wide, one
    * candidates-deep — the billion-vector probe shape. */
  def ivfPqTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      queryEmbedding: Seq[Float], queryId: Long, k: Int, nprobe: Int,
      rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    // finish any committed-but-unapplied merge (reader-safe: never
    // deletes a live writer's staging)
    recoverIvfPqMerge(spark, path)
    import spark.implicits._
    val qv: Array[Double] = Seq(queryEmbedding).toDF("e")
      .select(scaled(col("e"))).head().getSeq[Double](0).toArray
    def dotL(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val centroids = spark.read.parquet(s"$path/centroids").collect()
      .map(r => (r.getAs[Long]("c_id"), r.getSeq[Double](r.fieldIndex("c_v")).toArray))
    val probe = centroids
      .map { case (cid, cv) =>
        (cid, dotL(qv, cv) / (math.sqrt(dotL(qv, qv)) * math.sqrt(dotL(cv, cv))))
      }
      .sortBy { case (cid, cos) => (-cos, cid) }
      .take(nprobe).map(_._1)
    // codebooks are m·ks·dsub rows — collect and build the query's ADC
    // distance table driver-side (exact integer L2, the pqTopK shape)
    val cb = loadCodebooks(spark, path)
    val (m, ks, dsub) = (cb.length, cb(0).length, cb(0)(0).length)
    val dt = (for { j <- 0 until m; c <- 0 until ks } yield {
      var acc = 0L
      var d = 0
      while (d < dsub) {
        val diff = (qv(j * dsub + d) - cb(j)(c)(d)).toLong
        acc += diff * diff
        d += 1
      }
      (j, c.toLong, acc)
    }).toDF("j", "code", "d2")
    val base = spark.read.parquet(s"$path/vectors")
      .filter(col("cluster").isin(probe.toIndexedSeq: _*) && col("id") =!= queryId)
    // same tombstone contract as the IVF index ([[deleteFromIvfIndex]]
    // pointed at this index's path): deleted ids mask before the ADC
    // scan so a retracted vector cannot even consume a rerank slot
    // (broadcast under [[TombstoneMask]]'s bound, shuffled past it)
    val vectors = TombstoneMask.antiJoin(spark, base, path, "id", "id")
    val cand = vectors
      .select(col("id"), posexplode(col("codes")).as(Seq("j", "code")))
      .join(broadcast(dt), Seq("j", "code"))
      .groupBy(col("id"))
      .agg(sum(col("d2")).cast("long").as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("id").asc)
      .limit(rerank)
    val qvCol = array(qv.map(lit(_)).toSeq: _*)
    vectors.select(col("id"), col("v"))
      .join(broadcast(cand), Seq("id"))
      .select(col("id"), col("adc_dist"),
        cosine(col("v"), qvCol).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id").asc)
      .limit(k)
  }

  /** PQ top-k by asymmetric distance (ADC): vectors are m small codes;
    * the query builds an m×ks distance table once and every vector's
    * score is m table lookups — the memory-bound scan that makes
    * billion-vector ANN feasible (codes are m bytes, not dim floats).
    *
    * Spark shape: codebook training ([[pqCodebooks]]) + ONE narrow encode
    * pass; scoring explodes m rows per vector against the BROADCAST
    * distance table (m·ks rows) and map-side-combines the per-id sum;
    * top-k is TakeOrdered. All distances are exact integer L2 on the
    * scaled embeddings — bit-identical to the mirrored oracle. */
  def pqTopK(embeddings: DataFrame, idCol: String, embCol: String,
      queryId: Long, k: Int, m: Int = 4, ks: Int = 8, iters: Int = 1,
      dim: Int = 64): DataFrame = {
    val dsub = dim / m
    val cb = pqCodebooks(embeddings, idCol, embCol, m, ks, iters, dim)
    val s = embeddings
      .select(col(idCol).cast("long").as("id"), scaled(col(embCol)).as("v"))
    val qRow = s.filter(col("id") === queryId).head()
    val qv = qRow.getSeq[Double](1).toArray
    val spark = embeddings.sparkSession
    import spark.implicits._
    val dt = (for { j <- 0 until m; c <- 0 until ks } yield {
      var acc = 0L
      var d = 0
      while (d < dsub) {
        val diff = (qv(j * dsub + d) - cb(j)(c)(d)).toLong
        acc += diff * diff
        d += 1
      }
      (j, c.toLong, acc)
    }).toDF("j", "code", "d2")
    s.withColumn("codes", pqEncode(col("v"), cb))
      .select(col("id"), posexplode(col("codes")).as(Seq("j", "code")))
      .join(broadcast(dt), Seq("j", "code"))
      .groupBy(col("id"))
      .agg(sum(col("d2")).as("adc_dist"))
      .filter(col("id") =!= queryId)
      .orderBy(col("adc_dist").asc, col("id").asc)
      .limit(k)
      .select(col("id"), col("adc_dist"))
  }
}
