package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{Model, Observation}
import graft.functions.Net

/** JVM-wide per-path lock serializing staged-merge apply/recover across
  * every [[StagedCommit]] family: recovery runs on the DRIVER
  * (every load/query/merge entry point), so within one driver concurrent
  * recoverers of the same path are serialized. Without it, two readers
  * self-healing the same committed staging could interleave — B's
  * delete(dest) landing on the bucket A just renamed in, then B's rename
  * failing with the staging already consumed: the bucket would be lost
  * from BOTH places. Cross-driver concurrency remains the documented
  * single-writer contract (renames are atomic per-filesystem; the lock
  * closes the delete+rename window within the process that actually
  * does recovery). */
private[operators] object RecoveryLock {
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def withLock[T](path: String)(f: => T): T =
    locks.computeIfAbsent(path, _ => new Object).synchronized(f)
}

/** The balboa storage/aggregation/query surface, Spark-first.
  *
  * The reference keeps ONE aggregated fact table in TWO sort orders
  * (forward key `o␟rrname␟sensor␟rrtype␟rdata`, inverted key
  * `i␟rdata␟sensor␟rrname␟rrtype` — `rocksdb-impl.c:772-800`) and answers
  * every query by a prefix seek on one of them plus residual equality
  * filters and a limit (`rocksdb-impl.c:259-620`).
  *
  * Spark mapping (SURVEY.md §1.4/§4): the aggregate is a plain
  * `groupBy(k4).agg(sum,min,max)` — Spark's partial+final HashAggregate IS
  * the RocksDB merge operator (associative/commutative, map-side combine,
  * no read-modify-write). The two sort orders become two range-partitioned,
  * sorted Parquet copies; Parquet row-group min/max stats on the leading
  * sort column give the "seek" (partition + row-group pruning), Catalyst
  * pushes the residual filters into the scan, and `limit` is
  * `LocalLimit`/`CollectLimit`. At 100 TB: both copies are written with
  * range partitioning on their leading key, so a point query prunes to a
  * single partition/row-group instead of scanning; the aggregation itself
  * shuffles once on the 4-key (map-side partial agg first), which is the
  * minimum possible.
  */
object ObservationStore {

  /** A1 — the core merge aggregation. Input columns: Model.Key + count + ts
    * (or timestamp_start/timestamp_end). Works identically for batch and
    * (in update/complete mode) streaming inputs — sum/min/max are
    * order-insensitive, so late data needs no watermark (SURVEY §2.5).
    */
  def aggregate(input: DataFrame): DataFrame = {
    val (startCol, endCol) =
      if (input.columns.contains("ts")) (col("ts"), col("ts"))
      else (col("timestamp_start"), col("timestamp_end"))
    input
      .groupBy(Model.Key.map(col): _*)
      .agg(
        sum("count").cast("long").as("count"),
        min(startCol).as("first_seen"),
        max(endCol).as("last_seen")
      )
  }

  /** Stable hash-bucket of a key column: the store's partition column.
    * Point lookups prune to one bucket directory (the balboa "seek"),
    * incremental merges rewrite only touched buckets. */
  def bucketOf(key: Column, numBuckets: Int): Column =
    pmod(xxhash64(key), lit(numBuckets.toLong))

  /** A3 — write the aggregate in both sort orders, hash-bucket-partitioned
    * by the leading key and sorted within files so Parquet row-group
    * min/max stats are selective. At 100 TB: bucket count scales with data
    * (buckets ≈ data / target-partition-size); queries prune to 1 bucket,
    * merges rewrite only touched buckets (see [[mergeBatch]]).
    *
    * A build commits like every other store write: both copies are
    * staged whole ([[stageBuild]]) and swap in with the meta as one
    * manifest, so a build that dies midway leaves only a staging dir —
    * never copies without a meta. Over an existing store of any shape it
    * is a full rebuild.
    */
  def writeDual(agg: DataFrame, path: String, numBuckets: Int = 64): Unit =
    StagedCommit.mutate(agg.sparkSession, path, Store)(
      stageBuild(agg, path, numBuckets, None)): Unit

  /** [[writeDual]]'s stage step: both copies of `agg` staged whole and
    * their manifest committed under `batchId`, nothing applied.
    * Package-visible so crash tests can stop here. */
  private[graft] def stageBuild(agg: DataFrame, path: String,
      numBuckets: Int, batchId: Option[Long]): (Option[String], Unit) =
    StagedCommit.stage(agg.sparkSession, path, batchId) { stg =>
      // both copies consume the same aggregation — pay its shuffle ONCE
      // (unpersisted, each writeCopy would re-execute the full groupBy)
      val a = agg.persist()
      try {
        // materialize the cache BEFORE forking: two jobs racing an empty
        // cache both compute (then block on) the same partitions
        a.count()
        stageCopies(stg, a, numBuckets) -> ()
      } finally { a.unpersist(); () }
    }

  /** The one whole-copy stage step ([[writeDual]], [[rebucket]]): write
    * both copies of `agg` under `stg.dir` and return the manifest that
    * swaps each copy DIRECTORY as one piece — a piecewise bucket swap
    * would leave the replaced store's other bucket dirs live. An empty
    * `agg` writes no bucket, so its copies each get one schema-only
    * bucket: the store still loads, and its readers answer empty. */
  private def stageCopies(stg: StagedCommit.Staging, agg: DataFrame,
      numBuckets: Int): Option[StagedCommit.Manifest] = {
    val spark = agg.sparkSession
    eachCopy { case (sub, keyCol, sortCols) =>
      writeCopy(agg, s"${stg.dir}/$sub", keyCol, sortCols, numBuckets)
      if (StagedCommit.stagedPartDirs(spark, s"${stg.dir}/$sub", "bucket=").isEmpty)
        StagedCommit.stageEmptyPieces(spark, withDerived(agg, keyCol),
          Seq(s"${stg.dir}/$sub/bucket=0"))
    }
    storeManifest(spark, stg, numBuckets, wholeCopies = true)
  }

  /** `f` over both copies on two threads: the copies are independent
    * pipelines over disjoint directories, each only as wide as its bucket
    * count, so serial jobs would leave the cluster idle; overlapped, their
    * sorts and parquet encodes interleave (FAIR scheduler pools them). */
  private def eachCopy[T](f: ((String, String, Seq[String])) => T): Seq[T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(Copies.map(c => Future(f(c)))),
      scala.concurrent.duration.Duration.Inf)
  }

  /** Derived columns persisted in the inverted copy: `rdata_ip`
    * (nullable long, null for non-IPv4 rdata) and `rdata_ip6` (nullable
    * 32-char hex key, null for non-IPv6 rdata), so CIDR/range queries hit
    * Parquet row-group min/max stats on an ORDERED column instead of
    * computing the parse at read time — at 100 TB the difference between
    * a pruned scan and a full one. */
  private def derivedCols(keyCol: String): Seq[(String, Column)] =
    if (keyCol == "rdata")
      Seq("rdata_ip" -> Net.ip_to_long(col("rdata")),
        "rdata_ip6" -> Net.ipv6_to_hex(col("rdata")))
    else Nil

  /** Columns that exist only in the on-disk layout, never in results. */
  private[operators] val LayoutCols = Seq("bucket", "rdata_ip", "rdata_ip6")

  // All store paths go through Hadoop FS, so hdfs:// / s3a:// stores work
  // the same as local ones. Shared with [[Retrieval]]'s staged index merge.
  private[operators] def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[graft] def pathExists(spark: SparkSession, path: String): Boolean = {
    val (f, p) = fs(spark, path)
    f.exists(p)
  }

  /** Highest streaming batch id already merged (the exactly-once marker
    * [[mergeBatch]] records when given one; None for batch-only stores). */
  def readBatchId(spark: SparkSession, path: String): Option[Long] =
    StagedCommit.metaField(spark, path, "last_batch_id")

  /** Layout 3 = by_rdata carries persisted `rdata_ip` AND `rdata_ip6`:
    * the one shape this code writes, recorded in every store's meta. */
  val CurrentLayout = 3L

  /** Bucket count recorded at write time. */
  def readNumBuckets(spark: SparkSession, path: String): Option[Int] =
    StagedCommit.metaField(spark, path, "num_buckets").map(_.toInt)

  /** Store version: advanced once per committed dual write/merge. */
  def readEpoch(spark: SparkSession, path: String): Option[Long] =
    StagedCommit.metaField(spark, path, "epoch")

  /** On-disk schema version, [[CurrentLayout]] for a current store. */
  def readLayout(spark: SparkSession, path: String): Option[Long] =
    StagedCommit.metaField(spark, path, "layout")

  /** The bucket count of a store in the one shape this code writes: a
    * meta recording `num_buckets` and `layout` = [[CurrentLayout]].
    * Anything else — no meta, or an older layout — is a legacy store,
    * refused with the command that upgrades it. */
  private def bucketsOf(path: String, meta: Map[String, Long]): Int =
    meta.get("num_buckets").filter(_ =>
      meta.get("layout").contains(CurrentLayout)).map(_.toInt)
      .getOrElse(throw new IllegalArgumentException(
        s"store at $path has no current meta (none, or a layout before " +
          s"$CurrentLayout): a legacy store upgrades once with " +
          s"`graft.Main rebucket --store $path --buckets <n>`"))

  /** Open a disk store for reading: resolve any interrupted write
    * ([[recoverMerge]], reader path), then return its recorded bucket
    * count — a legacy store throws (see [[bucketsOf]]). */
  def openBuckets(spark: SparkSession, path: String): Int = {
    recoverMerge(spark, path)
    bucketsOf(path, StagedCommit.readMeta(spark, path))
  }

  /** `df` with the copy's persisted derived columns. */
  private def withDerived(df: DataFrame, keyCol: String): DataFrame =
    derivedCols(keyCol).foldLeft(df) {
      case (d, (name, c)) => d.withColumn(name, c)
    }

  private def writeCopy(df: DataFrame, path: String, keyCol: String,
      sortCols: Seq[String], numBuckets: Int): Unit =
    bloomOpts(withDerived(df, keyCol)
      .withColumn("bucket", bucketOf(col(keyCol), numBuckets))
      .repartition(col("bucket"))
      .sortWithinPartitions(("bucket" +: sortCols).map(col): _*)
      .write, keyCol)
      .mode("overwrite").partitionBy("bucket").parquet(path)

  /** Store-copy writer options EVERY bucket rewrite shares (initial
    * build, merge staging, expiry survivors, compaction): a PARQUET
    * BLOOM FILTER on the copy's seek column. The reference's RocksDB
    * answers negative lookups from its block blooms
    * (`rocksdb-impl.c`'s default table policy); parquet row-group
    * blooms give the same story — an absent key skips every row group
    * without touching data pages. Only the PLAN path reads them (Spark's
    * parquet pushdown). The driver-local [[PointReader]] reads with
    * bloom and dictionary filtering off and prunes files and row groups
    * with the key dictionaries it caches instead, exact and with no I/O
    * per query; a row group whose key chunk fell back to plain pages
    * is read and its keys tested by value. Parquet writes no bloom for
    * a fully dictionary-encoded chunk. Adaptive sizing: bloom bytes
    * follow the observed NDV instead of the 1 MB static default. Kept in
    * ONE place so a bucket rewritten by expiry/compaction never silently
    * loses its bloom. */
  private def bloomOpts[T](w: org.apache.spark.sql.DataFrameWriter[T],
      keyCol: String): org.apache.spark.sql.DataFrameWriter[T] =
    w.option(s"parquet.bloom.filter.enabled#$keyCol", "true")
      .option("parquet.bloom.filter.adaptive.enabled", "true")
      // Serving stores trade parquet's scan-optimized pages (1 MB /
      // 20 k rows) for small fixed-row ones — the RocksDB block-size
      // analog: with files sorted on the seek column, the column index
      // bounds a point or prefix lookup to the 1–2 pages per column
      // overlapping the key range, so a lookup decodes ~512 rows per
      // touched column instead of the whole row group. Costs ~extra
      // page headers + per-page index entries on a full scan;
      // row-group stats, dictionaries and blooms are unaffected.
      .option("parquet.page.size", (64 * 1024).toString)
      .option("parquet.page.row.count.limit", "512")
      // snappy, not the session-wide zstd: store copies are the
      // latency-serving surface, and zstd pays a per-page decompression
      // context setup that profiled at ~13% of a prefix seek (the
      // RocksDB analogue ships LZ4/snappy block compression for the
      // same reason). Analytics outputs keep zstd's better ratio.
      .option("compression", "snappy")

  /** The seven observation columns every copy's files hold. */
  private val DataCols = Model.Key ++ Seq("count", "first_seen", "last_seen")

  private val Copies = Seq(
    ("by_rrname", "rrname", Seq("rrname", "sensor_id", "rrtype", "rdata")),
    ("by_rdata", "rdata", Seq("rdata", "sensor_id", "rrname", "rrtype")))

  /** The store's commit shape: one staged-bucket list per copy, carrying
    * the bucket count and layout into the meta. */
  private val Store = StagedCommit.Family(
    Copies.map { case (sub, _, _) => StagedCommit.PieceList(s"staged_$sub", sub) },
    carried = Seq("num_buckets", "layout"))

  /** Incremental merge of a (raw, un-aggregated) observation batch into a
    * stored dual copy: aggregate the batch, read ONLY the touched buckets
    * of the existing store (partition pruning), re-merge (sum/min/max are
    * associative — merging partial aggregates is exact), and replace just
    * those buckets. Cost scales with the batch's key spread, not the
    * store size.
    *
    * CRASH SAFETY (staged commit): all expensive writes go to a staging
    * directory first; only after BOTH copies are fully staged does a
    * manifest mark the merge as committed, and applying it is a sequence
    * of idempotent bucket-directory renames that [[recoverMerge]] can
    * replay from the manifest after a crash at ANY point. Either the
    * whole dual merge happens (manifest written) or none of it did
    * (no manifest → staging discarded, store untouched, batch safely
    * re-runnable) — the forward/inverted copies can no longer diverge.
    * Renames are metadata operations on HDFS/local filesystems; on
    * object stores without atomic rename (S3A) they degrade to copies,
    * shrinking but not eliminating the window recovery has to replay.
    *
    * Build or merge is decided by the META (the [[StagedCommit.stream]]
    * rule): no meta and no copies builds the store ([[stageBuild]], under
    * `numBuckets` — the parameter's only use), a current meta merges, and
    * anything else is a legacy store and refused before anything stages.
    */
  def mergeBatch(spark: SparkSession, path: String, batch: DataFrame,
      numBuckets: Int = 64, batchId: Option[Long] = None): Unit =
    // a crashed previous write is resolved BEFORE reading the store
    // (half-swapped buckets would feed wrong inputs to this merge), and
    // a batch id the store already committed is a replay, skipped
    StagedCommit.mutate(spark, path, Store, batchId) {
      if (StagedCommit.readMeta(spark, path).isEmpty &&
          !Copies.exists(c => pathExists(spark, s"$path/${c._1}")))
        stageBuild(aggregate(batch), path, numBuckets, batchId)
      else Some(stageMerge(spark, path, batch, numBuckets, batchId)) -> ()
    }: Unit

  /** The store's manifest: the exact bucket-directory list staged per
    * copy, so apply can tell "already swapped" from "staged data lost"
    * (a lost staged bucket must FAIL, not silently skip: skipping would
    * commit an epoch with the two copies diverged). `wholeCopies` swaps
    * each copy DIRECTORY as one piece ([[stageCopies]]). */
  private def storeManifest(spark: SparkSession, stg: StagedCommit.Staging,
      buckets: Int,
      wholeCopies: Boolean = false): Option[StagedCommit.Manifest] =
    Some(StagedCommit.Manifest(
      Copies.map { case (sub, _, _) => s"staged_$sub" ->
        StagedCommit.stagedPartDirs(spark, s"${stg.dir}/$sub", "bucket=") },
      Seq("num_buckets" -> buckets.toLong, "layout" -> CurrentLayout) ++
        (if (wholeCopies) Seq("whole_copies" -> 1L) else Nil)))

  /** Write both merged copies (touched buckets only) under
    * `<path>/_staging_<targetEpoch>` and commit the manifest. Returns the
    * staging path. Package-visible so crash tests (and perfbench's traced
    * ingest loop, which times stage and apply apart) can stop here. A
    * merge hashes under the store's RECORDED bucket count: `numBuckets`
    * is unused, and stays only for that benchmark caller. */
  private[graft] def stageMerge(spark: SparkSession, path: String,
      batch: DataFrame, numBuckets: Int,
      batchId: Option[Long] = None): String =
    StagedCommit.stage(spark, path, batchId) { stg =>
      val buckets = bucketsOf(path, stg.meta)
      // referenced up to four times below (touched-bucket collect + the
      // union branch, per copy): one materialization, not four
      val newAgg = aggregate(batch).persist()
      try {
        newAgg.count(): Unit // materialize ONCE before the copies fork
        // the two copies' touched-probe → merge → write pipelines are
        // independent (disjoint directories, shared cached batch)
        eachCopy { case (sub, keyCol, sortCols) =>
          val withBucket =
            newAgg.withColumn("bucket", bucketOf(col(keyCol), buckets))
          val touched = withBucket.select("bucket").distinct()
            .collect().map(_.getLong(0))
          val existing = spark.read.parquet(s"$path/$sub")
            .filter(col("bucket").isin(touched.toIndexedSeq: _*))
          val merged =
            existing.select(withBucket.columns.toIndexedSeq.map(col): _*)
              .unionAll(withBucket)
              .groupBy((Model.Key :+ "bucket").map(col): _*)
              .agg(sum("count").cast("long").as("count"),
                min("first_seen").as("first_seen"),
                max("last_seen").as("last_seen"))
              .select(withBucket.columns.toIndexedSeq.map(col): _*)
          // drop the derived bucket col: writeCopy recomputes it (same
          // hash). Staging reads the live store and writes elsewhere, so
          // no lineage cut is needed
          writeCopy(merged.drop("bucket"), s"${stg.dir}/$sub", keyCol,
            sortCols, buckets)
        }
        storeManifest(spark, stg, buckets) -> ()
      } finally { newAgg.unpersist(); () }
    }._1.get

  /** Retention expiry: drop every entry whose `last_seen` is strictly
    * before `cutoff` from BOTH copies — the pdns data-retention
    * operation (balboa itself keeps everything forever; operators of the
    * reference prune by dump-filter-replay, a full rewrite. Here expiry
    * is an incremental staged merge instead).
    *
    * Cost scales with the TOUCHED buckets, not the store: buckets whose
    * Parquet row-group `last_seen` stats show nothing old are never
    * rewritten (the touched-bucket probe is a stats-pruned scan), and at
    * 100 TB a time-skewed store — old entries concentrated in
    * long-untouched keys — rewrites only where old data actually lives.
    *
    * CRASH SAFETY: identical machinery to [[mergeBatch]] — survivors are
    * staged per bucket, a bucket whose entries ALL expire stages an
    * explicit EMPTY bucket directory (so the swap replaces, never
    * orphans, the live data), and the manifest/apply/recover path is
    * literally [[applyStagedMerge]]/[[recoverMerge]]: either the whole
    * dual expiry commits (epoch+1) or none of it happened. Single-writer,
    * like all merges.
    *
    * Returns the number of (aggregated) entries dropped from the forward
    * copy. Survivors stay in their buckets under the store's recorded
    * count; a legacy store is refused (see [[bucketsOf]]). */
  def expire(spark: SparkSession, path: String,
      cutoff: java.sql.Timestamp): Long =
    StagedCommit.mutate(spark, path, Store)(
      stageExpire(spark, path, cutoff)).get

  /** Predicate deletion: drop every entry matching `predicate` (over
    * the seven observation columns) from BOTH copies — the targeted
    * takedown [[expire]]'s time axis cannot express (a sensor
    * decommission, a key-pattern retraction). Same staged machinery and
    * crash contract as [[expire]]; the touched-bucket probe is a
    * predicate-pushdown scan (arbitrary predicates have no footer-stat
    * shortcut, but pushed filters still prune row groups — and on the
    * copy sorted by the predicate's column the probe reads almost
    * nothing). Returns forward-copy entries dropped. */
  def deleteWhere(spark: SparkSession, path: String,
      predicate: Column): Long = {
    val probe = (sub: String) =>
      spark.read.parquet(s"$path/$sub").filter(predicate)
        .select(col("bucket").cast("long")).distinct()
        .collect().map(_.getLong(0))
    StagedCommit.mutate(spark, path, Store)(
      stageRowDelete(spark, path, predicate, probe)).get
  }

  /** First half of [[expire]]: stage surviving buckets + manifest, commit
    * nothing. Package-visible so crash tests can stop here; returns
    * (staging dir if anything expired, forward entries dropped). */
  private[graft] def stageExpire(spark: SparkSession, path: String,
      cutoff: java.sql.Timestamp): (Option[String], Long) =
    stageRowDelete(spark, path, col("last_seen") < lit(cutoff),
      sub => bucketsExpiringBefore(spark, s"$path/$sub", cutoff))

  /** The staged row-deletion engine behind [[expire]] (footer-stats
    * touched probe, last_seen predicate) and [[deleteWhere]] (scan
    * probe, arbitrary predicate): rewrite each touched bucket without
    * the matching rows, stage explicit empty buckets where nothing
    * survives, commit through the ONE store manifest. */
  private def stageRowDelete(spark: SparkSession, path: String,
      dropPred: Column,
      touchedProbe: String => Array[Long]): (Option[String], Long) =
    StagedCommit.stage(spark, path, None) { stg =>
      val buckets = bucketsOf(path, stg.meta)
      // a row is dropped only when the predicate is DEFINITELY true: a
      // NULL evaluation (e.g. `rdata === "x"` over null rdata) must keep
      // the row — `!NULL` is NULL and a bare `filter(!dropPred)` would
      // silently delete those rows while the dropped-count ignored them
      val dropDef = coalesce(dropPred, lit(false))
      val perCopy = eachCopy { case (sub, keyCol, sortCols) =>
        // "which buckets hold expired rows" is answered from parquet
        // FOOTER statistics alone (min(last_seen) per row group is exact
        // under TIMESTAMP_MICROS) — no counting scan; the dropped-row
        // count rides the survivor-write job below as an observe()
        // metric, so each copy costs ONE Spark job total
        val touched = touchedProbe(sub)
        // nanoTime uniquifier: Observation registers its name with the
        // session's listener bus, and a failed expire run that registered
        // but never drained would make a same-epoch RETRY throw on the
        // duplicate name — the name is never read back, so uniqueness is
        // all that matters
        val obs = org.apache.spark.sql.Observation(
          s"expire-$sub-${stg.epoch}-${System.nanoTime()}")
        if (touched.nonEmpty) {
          val existing = spark.read.parquet(s"$path/$sub")
            .filter(col("bucket").isin(touched.toIndexedSeq.map(Long.box): _*))
            .observe(obs, sum(when(dropDef, 1L)
              .otherwise(0L)).as("dropped"))
          // Survivors STAY in their buckets, so the staged rewrite needs
          // no shuffle and no re-derivation: reuse the scan's `bucket`
          // partition column and the persisted derived columns
          // (rdata_ip/rdata_ip6 live in-file), local-sort by
          // (bucket, key order) — which also satisfies the dynamic
          // partition writer's required ordering — and write. A bucket
          // whose files split across scan tasks yields several sorted
          // files; readers list every file per bucket, and row-group
          // stats stay tight because each file is sorted.
          val fileCols = (DataCols ++ derivedCols(keyCol).map(_._1)).map(col)
          val survivors = existing
            .filter(!dropDef)
            .select(fileCols :+ col("bucket"): _*)
          bloomOpts(survivors
            .sortWithinPartitions(("bucket" +: sortCols).map(col): _*)
            .write, keyCol).mode("overwrite").partitionBy("bucket")
            .parquet(s"${stg.dir}/$sub")
          // a fully-expired bucket has no survivors, so the write stages
          // nothing for it — stage an explicit empty bucket (a
          // schema-only parquet file) so the apply swap REPLACES the live
          // bucket instead of leaving the expired rows behind
          val staged = StagedCommit.stagedPartDirs(spark, s"${stg.dir}/$sub",
            "bucket=").toSet
          // built from a FRESH read, not `survivors`: the observe() node
          // in that plan would block the limit-0 short-circuit and keep
          // re-running the metric query per empty bucket
          val fileSchema = spark.read.parquet(s"$path/$sub")
            .select(fileCols: _*)
          StagedCommit.stageEmptyPieces(spark, fileSchema,
            touched.toIndexedSeq.map(b => s"bucket=$b").filterNot(staged)
              .map(bd => s"${stg.dir}/$sub/$bd"))
        }
        sub -> (if (touched.isEmpty) 0L
          else obs.get.get("dropped") match {
            case Some(l: Long) => l
            case _             => 0L
          })
      }
      val dropped = perCopy.toMap.apply("by_rrname")
      // same manifest shape as stageMerge → the SAME apply/recover
      // replay path commits it; nothing staged = nothing to expire
      if (!pathExists(spark, stg.dir)) None -> 0L
      else storeManifest(spark, stg, buckets) -> dropped
    }

  /** Bucket numbers under `base` holding at least one row with
    * `last_seen` < `cutoff`, decided from parquet FOOTER statistics
    * alone: min(last_seen) per row group is an exact bound under
    * TIMESTAMP_MICROS (INT64), so `min < cutoff` ⟺ the file holds an
    * expired row — no data scan, no false positives. Files whose stats
    * are missing or of an unexpected physical type count as touched
    * (safe over-approximation: an extra bucket rewrite, never a missed
    * expiry). Footers read on a bounded pool, short-circuiting per
    * bucket; at cluster scale this is the manifest-pruning pattern —
    * metadata reads proportional to file count, zero data I/O. */
  private def bucketsExpiringBefore(spark: SparkSession, base: String,
      cutoff: java.sql.Timestamp): Array[Long] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    // the same instant→micros conversion Spark's literal comparison
    // uses (session and JVM run UTC, so LTZ/NTZ agree)
    val inst = cutoff.toInstant
    val cutoffMicros = inst.getEpochSecond * 1000000L + inst.getNano / 1000
    val (f, bp) = fs(spark, base)
    if (!f.exists(bp)) return Array.empty
    val conf = spark.sessionState.newHadoopConf()
    val bucketDirs = f.listStatus(bp).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
    if (bucketDirs.isEmpty) return Array.empty
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, bucketDirs.length))
    val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      import scala.jdk.CollectionConverters._
      val futs = bucketDirs.map { d =>
        scala.concurrent.Future {
          val files = f.listStatus(d.getPath).toIndexedSeq
            .filter(x => x.isFile && x.getPath.getName.endsWith(".parquet"))
          val hit = files.exists { fl =>
            val r = ParquetFileReader.open(
              HadoopInputFile.fromPath(fl.getPath, conf))
            try r.getFooter.getBlocks.asScala.exists { b =>
              b.getColumns.asScala
                .find(_.getPath.toDotString == "last_seen") match {
                case None => true // column absent: cannot prune
                case Some(c) =>
                  val st = c.getStatistics
                  if (st == null || !st.hasNonNullValue ||
                    c.getPrimitiveType.getPrimitiveTypeName !=
                      PrimitiveTypeName.INT64) true
                  else st.genericGetMin
                    .asInstanceOf[java.lang.Long] < cutoffMicros
              }
            } finally r.close()
          }
          if (hit) Some(d.getPath.getName.stripPrefix("bucket=").toLong)
          else None
        }(ec)
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs)(
          scala.collection.BuildFrom.buildFromIterableOps, ec),
        scala.concurrent.duration.Duration.Inf).flatten.toArray
    } finally pool.shutdown()
  }

  /** Replay the staged merge: swap each staged bucket directory into the
    * live copies (idempotent — a staged dir disappears exactly when its
    * rename lands), bump the epoch once, drop the staging dir. The
    * manifest's staged-bucket lists are authoritative: a listed bucket
    * present in NEITHER staging nor the destination fails loudly rather
    * than commit a half-applied epoch. */
  private[graft] def applyStagedMerge(spark: SparkSession, path: String,
      staging: String): Unit =
    StagedCommit.apply(spark, path, Store, staging)

  /** Resolve any interrupted [[mergeBatch]]: a staging dir WITH a manifest
    * is committed — finish its swap and epoch bump. One WITHOUT a manifest
    * is either an uncommitted crash leftover or a merge another writer is
    * staging RIGHT NOW — only the writer path (`deleteUncommitted = true`,
    * i.e. [[mergeBatch]]/[[writeDual]], which hold the single-writer
    * contract) may discard it; readers ([[load]]) leave it alone, else a
    * concurrent `load` could delete a fully-staged copy mid-stage and the
    * writer would then commit a manifest whose buckets are gone (the
    * bucket-list verification turns that into a loud failure, but the
    * reader must not cause it). Safe to call any time. */
  def recoverMerge(spark: SparkSession, path: String,
      deleteUncommitted: Boolean = false): Unit =
    StagedCommit.recover(spark, path, Store, deleteUncommitted)

  /** Compaction — the RocksDB-compaction analogue for the parquet
    * store: every bucket directory that has accumulated MORE than one
    * file (epoch churn — expiry rewrites split across scan tasks,
    * fragmented backfills) is rewritten as ONE sorted file per copy,
    * through the same staged manifest-committed swap as merges — crash
    * safe, readers never see a half-compacted store, and a compaction
    * replay after a crash is idempotent. Single-file buckets cost only
    * the directory listing. Both copies compact on parallel threads.
    * Returns the number of bucket directories compacted across both
    * copies; 0 leaves the store untouched (no epoch bump — readers'
    * caches stay warm). A legacy store is refused (see [[bucketsOf]]). */
  def compact(spark: SparkSession, path: String): Long =
    StagedCommit.mutate(spark, path, Store) {
      StagedCommit.stage(spark, path, None) { stg =>
        val buckets = bucketsOf(path, stg.meta)
        val total = eachCopy { case (sub, keyCol, sortCols) =>
          val (fsC, base) = fs(spark, s"$path/$sub")
          val multi =
            if (!fsC.exists(base)) Seq.empty[Long]
            else fsC.listStatus(base).toSeq
              .filter(s => s.isDirectory &&
                s.getPath.getName.startsWith("bucket="))
              .filter(d => fsC.listStatus(d.getPath)
                .count(x => x.isFile &&
                  x.getPath.getName.endsWith(".parquet")) > 1)
              .map(_.getPath.getName.stripPrefix("bucket=").toLong)
          if (multi.nonEmpty)
            bloomOpts(spark.read.parquet(s"$path/$sub")
              .filter(col("bucket").isin(multi.map(Long.box): _*))
              .select((DataCols ++ derivedCols(keyCol).map(_._1) :+ "bucket")
                .map(col): _*)
              // all rows of a bucket land in one task, so the dynamic
              // partition writer emits exactly ONE file per bucket dir
              .repartition(col("bucket"))
              .sortWithinPartitions(("bucket" +: sortCols).map(col): _*)
              .write, keyCol)
              .mode("overwrite").partitionBy("bucket")
              .parquet(s"${stg.dir}/$sub")
          multi.size.toLong
        }.sum
        if (!pathExists(spark, stg.dir)) None -> 0L
        else storeManifest(spark, stg, buckets) -> total
      }
    }.get

  /** Re-bucket the store to a different bucket count — the lifecycle
    * piece between compact (defragment, same hashing) and expire: a
    * store keeps its build-time count forever otherwise, and at scale
    * both too-few buckets (giant partitions, no pruning selectivity)
    * and too-many (tiny files, listing overhead) hurt. Rewrites BOTH
    * copies fully from the forward copy's rows under the new hashing
    * through [[stageCopies]], the whole-copy stage step a build takes.
    * Crash-safe and replay-idempotent.
    *
    * It is also the one upgrade of a legacy store (no meta, or an older
    * layout): a whole rewrite needs no old count, and writes the current
    * layout. A no-op with no epoch bump only when both the count and the
    * layout are already current. Returns the previous recorded count, 0
    * when the store recorded none. */
  def rebucket(spark: SparkSession, path: String, newBuckets: Int): Int = {
    require(newBuckets > 0, s"newBuckets must be positive: $newBuckets")
    StagedCommit.mutate(spark, path, Store) {
      StagedCommit.stage(spark, path, None) { stg =>
        val old = stg.meta.get("num_buckets").map(_.toInt)
        if (old.contains(newBuckets) &&
            stg.meta.get("layout").contains(CurrentLayout))
          None -> newBuckets
        else stageCopies(stg, spark.read.parquet(s"$path/by_rrname")
          .select(DataCols.map(col): _*), newBuckets) -> old.getOrElse(0)
      }
    }.get
  }

  /** CDC-style diff of two aggregated store snapshots — the audit
    * surface for every staged mutation ([[mergeBatch]], [[expire]],
    * [[deleteWhere]], replication): one row per KEY whose aggregate
    * differs, tagged `added` / `removed` / `changed`, with the old and
    * new value columns side by side. Unchanged keys (the overwhelming
    * majority between adjacent generations) are filtered out, so the
    * output is delta-sized, not corpus-sized.
    *
    * Shape: one full-outer equi-join on the 4-column key — each side
    * shuffles once on the same key the store is already bucketed by
    * (with equal bucket counts the co-partitioned layout makes the
    * exchange row-local); the `changed` test is null-safe `<=>` so a
    * NULL-valued field can never mask a change or mint a phantom one. */
  def diffSnapshots(before: DataFrame, after: DataFrame): DataFrame = {
    val vals = Seq("count", "first_seen", "last_seen")
    val bsel = before.select(Model.Key.map(col) ++
      vals.map(c => col(c).as(s"old_$c")): _*)
    val asel = after.select(Model.Key.map(col) ++
      vals.map(c => col(c).as(s"new_$c")): _*)
    bsel.join(asel, Model.Key, "full_outer")
      .withColumn("status",
        when(col("old_count").isNull, lit("added"))
          .when(col("new_count").isNull, lit("removed"))
          .otherwise(lit("changed")))
      .filter(vals.map(c => !(col(s"old_$c") <=> col(s"new_$c")))
        .reduce(_ || _))
  }

  /** [[diffSnapshots]] over two on-disk store generations (forward
    * copies; any interrupted merge on either side resolves first via
    * [[load]]). */
  def diff(spark: SparkSession, beforePath: String,
      afterPath: String): DataFrame =
    diffSnapshots(load(spark, beforePath).forward.drop("bucket"),
      load(spark, afterPath).forward.drop("bucket"))

  /** Load a dual store ([[openBuckets]]: any interrupted write is
    * resolved first, so a reader never sees a half-swapped store, and a
    * legacy store is refused rather than served). Bucket pruning and the
    * driver-local readers use the count recorded in the store's meta. */
  def load(spark: SparkSession, path: String): ObservationStore = {
    val n = openBuckets(spark, path)
    new ObservationStore(
      spark.read.parquet(s"$path/by_rrname"),
      spark.read.parquet(s"$path/by_rdata"),
      Some(n),
      diskPath = Some(path)
    )
  }

  /** In-memory store over an already-aggregated DataFrame (both "copies"
    * share the plan; Catalyst pushes key filters below the aggregate).
    * It has the plan methods only: it has no readers, so it is not
    * served.
    */
  def inMemory(agg: DataFrame): ObservationStore = new ObservationStore(agg, agg)
}

/** Query surface over the two sorted copies (Q1–Q9 in SURVEY.md §2.4).
  * `numBuckets` is set for disk-backed stores, enabling partition pruning
  * on point lookups (the filter `bucket = hash(key)` folds to a constant,
  * so only one bucket directory is scanned — balboa's prefix seek). */
final class ObservationStore(byRrname: DataFrame, byRdata: DataFrame,
    numBuckets: Option[Int] = None, diskPath: Option[String] = None) {

  // ---------------------------------------------------------- serving
  // Driver-local point readers (see [[PointReader]]), one per copy: a
  // store [[ObservationStore.load]]ed from disk has them and answers
  // through them alone; an in-memory store has none and is not served.
  private lazy val pointReaders: Option[(PointReader, PointReader)] =
    for (path <- diskPath; n <- numBuckets) yield {
      val spark = byRrname.sparkSession
      (new PointReader(spark, path, "by_rrname", "rrname", n),
        new PointReader(spark, path, "by_rdata", "rdata", n))
    }

  private def notServed = new IllegalStateException(
    "an in-memory store is not served: write it with " +
      "ObservationStore.writeDual and serve ObservationStore.load of that path")

  /** Throws unless this store has readers — what the servers check at
    * construction. */
  private[graft] def requireServed(): Unit =
    if (pointReaders.isEmpty) throw notServed

  /** Driver-local point lookup — the ms-class serving path. Same
    * semantics and result shape as [[entries]] (access-path selection on
    * rrname-present, conjunctive residual equality, limit), but executed
    * on the calling thread via a pruned parquet read instead of a Spark
    * job, dropping the per-query planning+scheduling floor. None on an
    * in-memory store.
    */
  def servePoint(
      rrname: Option[String] = None,
      rdata: Option[String] = None,
      rrtype: Option[String] = None,
      sensorId: Option[String] = None,
      limit: Int = 1000): Option[Seq[graft.model.Observation]] = {
    require(rrname.isDefined || rdata.isDefined,
      "one of rrname or rdata must be given")
    pointReaders.map { case (fwd, inv) =>
      val residual =
        rrtype.map("rrtype" -> _).toSeq ++
          sensorId.map("sensor_id" -> _)
      if (rrname.isDefined)
        fwd.lookup(rrname.get, residual ++ rdata.map("rdata" -> _), limit)
      else
        inv.lookup(rdata.get, residual, limit)
    }
  }

  /** [[entriesPrefix]] on the driver-local fast path: forward-copy
    * prefix seek (the reference's rocksdb forward scan shape) executed
    * on the calling thread — all buckets fanned (hash buckets cannot
    * prune a prefix), row groups bounded by footer stats within each
    * sorted file. Same result set as `entriesPrefix(prefix, limit)`
    * when the match count fits the limit (both paths are unordered
    * scans, so an overflowing limit returns an arbitrary subset on
    * either). None on an in-memory store. */
  def servePrefix(prefix: String, limit: Int = 1000,
      rrtype: Option[String] = None, sensorId: Option[String] = None)
      : Option[Seq[graft.model.Observation]] = {
    require(prefix.nonEmpty, "prefix must be non-empty")
    val residual =
      rrtype.map("rrtype" -> _).toSeq ++ sensorId.map("sensor_id" -> _)
    pointReaders.map { case (fwd, _) =>
      fwd.prefixLookup(prefix, residual, limit)
    }
  }

  /** [[cidrQuery]] on the driver-local fast path: every bucket of the
    * inverted copy fans on the calling thread's reader, and a row is kept
    * when its rdata parses — with the same [[Net.ipv4ToLong]] /
    * [[Net.ipv6ToHex]] that fill the persisted `rdata_ip`/`rdata_ip6`
    * columns — into the block's [[Net.cidrBounds]] / [[Net.cidrBounds6]]
    * range. The rows are therefore exactly the plan path's, for both
    * families and for non-canonical spellings (`010.0.0.1`) that no
    * string-prefix seek would find; a binding limit returns `limit` of
    * them (an arbitrary subset on either path). A malformed block throws
    * what `cidrQuery` throws. None on an in-memory store. */
  def serveCidr(cidr: String, limit: Int = 1000)
      : Option[Seq[graft.model.Observation]] = {
    val keep: Array[Byte] => Boolean =
      if (cidr.contains(':')) {
        val (lo, hi) = Net.cidrBounds6(cidr)
        val (l, h) = (UTF8String.fromString(lo), UTF8String.fromString(hi))
        b => {
          val k = Net.ipv6ToHex(UTF8String.fromBytes(b))
          k != null && k.compareTo(l) >= 0 && k.compareTo(h) <= 0
        }
      } else {
        val (lo, hi) = Net.cidrBounds(cidr)
        b => {
          val ip = Net.ipv4ToLong(UTF8String.fromBytes(b))
          ip >= lo && ip <= hi
        }
      }
    pointReaders.map { case (_, inv) => inv.keyTestLookup(keep, limit) }
  }

  /** [[servePoint]] as Rows of [[Model.observationSchema]]. */
  def servePointRows(
      rrname: Option[String] = None,
      rdata: Option[String] = None,
      rrtype: Option[String] = None,
      sensorId: Option[String] = None,
      limit: Int = 1000): Option[Seq[org.apache.spark.sql.Row]] =
    servePoint(rrname, rdata, rrtype, sensorId, limit).map(_.map(o =>
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](o.rrname, o.sensor_id, o.rrtype, o.rdata, o.count,
          o.first_seen, o.last_seen),
        Model.observationSchema)))

  // ---------------------------------------------------------- answering
  // One answering method per query shape, the only entry points the
  // serving front ends call: the readers' rows (at most `limit`), or the
  // in-memory refusal.

  /** [[servePoint]]'s rows. */
  def answerPoint(
      rrname: Option[String] = None,
      rdata: Option[String] = None,
      rrtype: Option[String] = None,
      sensorId: Option[String] = None,
      limit: Int = 1000): Seq[Observation] =
    servePoint(rrname, rdata, rrtype, sensorId, limit).getOrElse(throw notServed)

  /** [[servePrefix]]'s rows. */
  def answerPrefix(prefix: String, limit: Int = 1000,
      rrtype: Option[String] = None, sensorId: Option[String] = None)
      : Seq[Observation] =
    servePrefix(prefix, limit, rrtype, sensorId).getOrElse(throw notServed)

  /** [[serveCidr]]'s rows. */
  def answerCidr(cidr: String, limit: Int = 1000): Seq[Observation] =
    serveCidr(cidr, limit).getOrElse(throw notServed)

  /** Q6 for the serving front ends: the aliases of each aliasable entry,
    * keyed by the entry's (rrname, sensor_id, rdata). Each entry's
    * aliases ARE an inverted point lookup — key `rdata`, residual
    * `sensor_id` — resolved on the calling thread. Parity with the
    * [[aliases]] plan, pinned by PointReaderSpec: same aliasable-type
    * gate, same rrname-differs predicate, same (rrname, rrtype) ordering
    * (total — the store key is unique within an (rdata, sensor_id)
    * group) and the same per-entry cap applied after the sort. */
  def answerAliases(entries: Seq[Observation], perEntryLimit: Int = 1000,
      aliasableTypes: Seq[String] = Seq("A", "AAAA"))
      : Map[(String, String, String), Seq[Observation]] = {
    val (_, inv) = pointReaders.getOrElse(throw notServed)
    entries.filter(e => aliasableTypes.contains(e.rrtype))
      .map(e => (e.rrname, e.sensor_id, e.rdata))
      .distinct
      .map { case key @ (n, s, d) =>
        key -> inv.lookup(d, Seq("sensor_id" -> s), Int.MaxValue)
          .filter(_.rrname != n)
          .sortBy(o => (o.rrname, o.rrtype))
          .take(perEntryLimit)
      }.toMap
  }

  /** Q1/Q2/Q3/Q4/Q8 — `entries`: conjunctive equality filters, access-path
    * selection (rrname present → forward copy, else inverted copy —
    * `rocksdb-impl.c:622-630`), result capped at `limit`.
    * Requires at least one of rrname/rdata (`query_graphql.go:242-246`).
    */
  def entries(
      rrname: Option[String] = None,
      rdata: Option[String] = None,
      rrtype: Option[String] = None,
      sensorId: Option[String] = None,
      limit: Int = 1000
  ): DataFrame = {
    require(rrname.isDefined || rdata.isDefined,
      "one of rrname or rdata must be given")
    val base = if (rrname.isDefined) byRrname else byRdata
    val bucketCond: Seq[Column] = numBuckets.toSeq.map { n =>
      val key = if (rrname.isDefined) rrname.get else rdata.get
      col("bucket") === ObservationStore.bucketOf(lit(key), n)
    }
    val conds: Seq[Column] = bucketCond ++
      rrname.map(col("rrname") === _).toSeq ++
        rdata.map(col("rdata") === _) ++
        rrtype.map(col("rrtype") === _) ++
        sensorId.map(col("sensor_id") === _)
    base.filter(conds.reduce(_ && _)).limit(limit)
      .drop(ObservationStore.LayoutCols: _*)
  }

  /** Prefix range scan on the forward copy — an extension beyond balboa
    * (its GraphQL surface is exact-match only even though RocksDB could
    * seek). Hash buckets cannot prune a prefix (hashing destroys key
    * order), but the forward copy is SORTED by rrname within every
    * bucket's files, so Parquet row-group min/max stats skip
    * non-matching groups and the StartsWith predicate pushes into the
    * scan — each bucket contributes a seek-sized read, not a full scan.
    * Callers should pick prefixes selective enough that `limit` does not
    * bind (matching balboa's "limit rarely binds" behavior); a bound
    * limit on an unordered scan is nondeterministic. */
  def entriesPrefix(prefix: String, limit: Int = 1000,
      rrtype: Option[String] = None,
      sensorId: Option[String] = None): DataFrame = {
    require(prefix.nonEmpty, "prefix must be non-empty")
    val residual = rrtype.map(col("rrtype") === _).toSeq ++
      sensorId.map(col("sensor_id") === _)
    residual.foldLeft(byRrname.filter(col("rrname").startsWith(prefix)))(
        _.filter(_))
      .limit(limit)
      .drop(ObservationStore.LayoutCols: _*)
  }

  /** Typed variant of [[entries]] for callers that want compile-time field
    * checks (`Dataset[Observation]`); requires the store's timestamp
    * columns to be TimestampType (disk/in-memory stores — not the
    * unix-micros projections used by the correctness gate). */
  def entriesTyped(
      rrname: Option[String] = None,
      rdata: Option[String] = None,
      rrtype: Option[String] = None,
      sensorId: Option[String] = None,
      limit: Int = 1000): org.apache.spark.sql.Dataset[graft.model.Observation] =
    entries(rrname, rdata, rrtype, sensorId, limit)
      .as[graft.model.Observation](
        org.apache.spark.sql.Encoders.product[graft.model.Observation])

  /** Q6 — `aliases` virtual self-join: for each (A/AAAA) entry, other names
    * that resolved to the same rdata on the same sensor
    * (`query_graphql.go:380-398`), capped per entry. The per-entry limit is
    * a ranking window, not a global limit.
    */
  def aliases(entriesDf: DataFrame, perEntryLimit: Int = 1000,
              aliasableTypes: Seq[String] = Seq("A", "AAAA")): DataFrame = {
    val e = entriesDf
      .filter(col("rrtype").isin(aliasableTypes: _*))
      .select(col("rrname").as("e_rrname"), col("sensor_id").as("e_sensor_id"),
        col("rdata").as("e_rdata"))
    val t = byRdata.drop(ObservationStore.LayoutCols: _*)
    val joined = e.join(t,
      t("rdata") === e("e_rdata") && t("sensor_id") === e("e_sensor_id") &&
        t("rrname") =!= e("e_rrname"))
    val w = Window
      .partitionBy(col("e_rrname"), col("e_sensor_id"), col("e_rdata"))
      .orderBy(col("rrname"), col("rrtype"))
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= perEntryLimit)
      .drop("rn")
  }

  /** Q7 — REST/CIRCL semantics: subject tried as rrname, then as rdata, the
    * two result sets concatenated (bag semantics, duplicates kept —
    * `query_rest.go:58-70`).
    */
  def restQuery(subject: String, limit: Int = 1000): DataFrame =
    entries(rrname = Some(subject), limit = limit)
      .unionAll(entries(rdata = Some(subject), limit = limit))

  /** Q5 — multi-backend fan-out: union of per-store results, duplicates
    * kept, limit applied per store before the union (`db_remote.go:133-202`,
    * `README.md:291-293`).
    */
  def fanOut(stores: Seq[ObservationStore],
             rrname: Option[String], rdata: Option[String],
             limit: Int = 1000): DataFrame =
    stores.map(_.entries(rrname, rdata, limit = limit)).reduce(_ unionAll _)

  /** Q9 done server-side: the reference expands a CIDR client-side into one
    * point query per address (`cmds/query.go:32-57`); on Spark a range
    * predicate on the parsed address does the same work in one scan with
    * row-group pruning — no expansion. Dispatches on address family:
    * IPv6 blocks (any ':' in the CIDR) range over the 32-char hex key,
    * IPv4 over the numeric form. Disk stores carry the persisted
    * `rdata_ip`/`rdata_ip6` columns, so the range predicate is a plain
    * column comparison that Parquet min/max row-group stats can prune;
    * in-memory stores compute the parse at read time.
    *
    * Serving answers CIDR blocks with [[serveCidr]] (same rows, no Spark
    * job); this plan is its reference.
    */
  def cidrQuery(cidr: String, limit: Int = 1000): DataFrame = {
    val pred =
      if (cidr.contains(':')) {
        val (lo, hi) = Net.cidrBounds6(cidr)
        val ipCol =
          if (byRdata.columns.contains("rdata_ip6")) col("rdata_ip6")
          else Net.ipv6_to_hex(col("rdata"))
        ipCol.between(lo, hi)
      } else {
        val (lo, hi) = Net.cidrBounds(cidr)
        val ipCol =
          if (byRdata.columns.contains("rdata_ip")) col("rdata_ip")
          else Net.ip_to_long(col("rdata"))
        ipCol.between(lo, hi)
      }
    byRdata.filter(pred)
      .drop(ObservationStore.LayoutCols: _*)
      .limit(limit)
  }

  /** Pin both copies in executor memory. NOTE (measured, see Bench): for
    * POINT lookups the bucket-pruned parquet path is FASTER than a naive
    * full-table cache, because InMemoryRelation drops partition pruning —
    * a cached lookup scans every cached partition (batch min/max skipping
    * only). Cache for repeated FULL-table analytics (aliases, fan-out,
    * stats), not for the point-query serving path. */
  def cache(): this.type = { byRrname.cache(); byRdata.cache(); this }

  def unpersist(): this.type = {
    byRrname.unpersist(); byRdata.unpersist(); this
  }

  /** A9/Q11 — total entry count. */
  def totalCount(): Long = byRrname.count()

  def forward: DataFrame = byRrname
  def inverted: DataFrame = byRdata
}
