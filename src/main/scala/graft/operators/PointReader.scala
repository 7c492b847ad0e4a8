package graft.operators

import java.sql.Timestamp

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.bytes.BytesInput
import org.apache.parquet.column.{ColumnDescriptor, ColumnReader, Dictionary, Encoding}
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.page.{DataPage, DictionaryPage, PageReadStore, PageReader}
import org.apache.parquet.compression.CompressionCodecFactory
import org.apache.parquet.conf.{HadoopParquetConfiguration, ParquetConfiguration}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.hadoop.util.{HadoopCodecs, HadoopInputFile}
import org.apache.parquet.io.ParquetDecodingException
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Observation

/** Driver-local point-lookup reader over one sorted, hash-bucketed store
  * copy — the ms-class serving fast path. The reference answers a point
  * query with a seek + residual filters + limit
  * (`backend/balboa-rocksdb/rocksdb-impl.c:259-422`), not a distributed
  * job; the Spark-plan equivalent pays per-query driver planning + task
  * scheduling (~10 ms floor in local mode; perfbench `lookup` and
  * `Bench.benchPointLookups` report both paths) for
  * a read that only ever touches ONE bucket directory. This reader does
  * what that pruned plan would do — bucket-prune with the same
  * `xxhash64(key) % n`, Parquet row-group stats and column-index page
  * pruning on the sorted leading key, an exact key test answered from
  * the cached key dictionaries, residual equality on the matching rows,
  * stop at `limit` — on the serving thread with parquet-mr's column
  * readers (the same reader library Spark's scan uses underneath).
  *
  * Measured cost structure and the resulting design:
  *  - Hadoop's ChecksumFileSystem costs ~7 ms per file open (sf0.1,
  *    113 KB bucket file) → local paths read via java.nio
  *    ([[inputFile]]).
  *  - `ParquetReadOptions.builder()` constructs a fresh Hadoop
  *    `Configuration` per call (~7.7 ms) → ONE [[HadoopParquetConfiguration]]
  *    is built per reader and shared.
  *  - footer parse is ~1–15 ms → footers cache per file ([[footerCache]]),
  *    invalidated with the file map on epoch change.
  *  - with those amortized, a hit reads the 1–2 pages per column that
  *    the column index leaves (the store writes pages of at most 512
  *    rows, sorted on the key), walks only the key column's dictionary
  *    ids and decodes the other columns for the matching rows alone
  *    ([[readFiles]]). Pages decompress heap to heap
  *    ([[PointReader.ReadCodecs]]). On perfbench's 100k-row store (64
  *    buckets, ~1.6k rows per file, one thread, 4-core container) that
  *    is ~0.24 ms of CPU per point lookup; assembling every row of those
  *    pages into a parquet-mr `Group` and decompressing each page
  *    through a 64 KB stream buffer costs ~0.65 ms. What is left is page
  *    decompression, the per-query column/offset-index reads that page
  *    pruning needs, and the key walk.
  *
  * Scale stance: the bytes read are the SAME pruned set the Spark plan
  * reads (one bucket ≈ store/numBuckets, row-group-pruned below that);
  * the win is dropping per-query planning/scheduling, not skipping work.
  * On a real cluster the serving driver holds the bucket→file map +
  * footers (numBuckets entries — metadata, not data) and streams at most
  * `limit` rows per query.
  *
  * Staleness: file map + footer cache are revalidated against the
  * store's committed epoch at most every [[PointReader.EpochCheckMillis]]
  * — [[ObservationStore.mergeBatch]]/expire swap whole bucket
  * directories, so a stale map surfaces as a vanished file, which also
  * triggers an immediate relist-and-retry (never a wrong answer: renames
  * are the store's commit mechanism, a listed file either has
  * pre-merge-complete content or does not exist).
  */
final class PointReader private[operators] (
    spark: SparkSession,
    storePath: String,
    copy: String, // "by_rrname" | "by_rdata"
    keyCol: String,
    numBuckets: Int) {

  private val copyPath = s"$storePath/$copy"
  private val hadoopConf =
    new Configuration(spark.sparkContext.hadoopConfiguration)
  private val parquetConf = new HadoopParquetConfiguration(hadoopConf)

  /** bucket id → parquet file paths, listed lazily per bucket. */
  private val filesByBucket = new TrieMap[Long, Seq[Path]]()

  /** file path → parsed footer and projection ([[footerOf]]; reused
    * across lookups, immutable after parsing and safe to share across
    * serving threads). Bounded by the store's file count; dropped on
    * epoch change alongside [[filesByBucket]]. */
  private val footerCache = new TrieMap[String, PointReader.Footer]()

  /** file path → ((decoded key-column dictionary per row group, whether
    * its entries are ascending), approx bytes). None for a row group
    * whose key chunk has non-dictionary pages. Read ONCE per file and
    * then answering exact key/prefix membership with zero I/O —
    * strictly stronger than the parquet bloom (no false positives) and
    * than per-query DictionaryFilter (which re-reads the dictionary
    * page every lookup). Store files are written SORTED on the key, so
    * dictionary ids follow first-occurrence = key order and the
    * membership probe is a BINARY SEARCH (O(log n) per file per query,
    * verified once at decode; an unsorted dictionary — foreign file —
    * falls back to the linear scan): at 100× the keys a prefix fan
    * stays O(buckets·log) instead of rescanning every distinct key.
    * Same lifecycle as [[footerCache]], but BYTE-BOUNDED: a prefix fan
    * touches every file, and unbounded caching would pin the store's
    * whole distinct key column in driver heap (data-sized memory —
    * against this class's metadata-only stance). When admission would
    * overflow [[PointReader.DictCacheBytes]] the cache CLEARS AND
    * READMITS (hot files re-enter on their next lookup) — true LRU
    * would serialize the lock-free read path on every hit; a full
    * clear once per budget cycle keeps reads lock-free and bounds the
    * over-budget cost to one repeat decode per file per cycle, never
    * the permanent admission freeze of an admission-only cache. */
  private val dictCache =
    new TrieMap[String, (Seq[Option[(Array[Array[Byte]], Boolean)]], Long)]()
  private val dictCacheBytes = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile private var lastEpochCheck = 0L
  @volatile private var lastEpoch = -1L

  /** InputFile for a store file: local paths bypass the Hadoop
    * ChecksumFileSystem (java.nio reads — measured ~7 ms saved per file
    * open on a 113 KB file); hdfs://, s3a:// etc. go through
    * HadoopInputFile. */
  private def inputFile(p: Path): org.apache.parquet.io.InputFile = {
    val uri = p.toUri
    if (uri.getScheme == null || uri.getScheme == "file")
      // NOT parquet's LocalInputFile: its stream is an unbuffered
      // RandomAccessFile, and thrift parsing (page headers, column/
      // offset indexes, footers) reads it byte-by-byte — profiled at
      // 63% of a prefix seek spent in read0 syscalls. The buffered
      // wrapper turns those into one 64 KB positional read per region.
      new PointReader.BufferedLocalInputFile(
        java.nio.file.Paths.get(uri.getPath))
    else HadoopInputFile.fromPath(p, hadoopConf)
  }

  private def bucketOf(key: String): Long = {
    val h = XxHash64Function.hash(UTF8String.fromString(key), StringType, 42L)
    val n = numBuckets.toLong
    ((h % n) + n) % n
  }

  private def listBucket(bucket: Long): Seq[Path] = {
    val (f, p) = ObservationStore.fs(spark, s"$copyPath/bucket=$bucket")
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).toSeq
  }

  /** Drop cached file lists + footers when the store's committed epoch
    * moved (checked at most every [[PointReader.EpochCheckMillis]]). */
  private def ensureFresh(): Unit = {
    val now = System.currentTimeMillis()
    if (now - lastEpochCheck < PointReader.EpochCheckMillis) return
    lastEpochCheck = now
    val epoch = ObservationStore.readEpoch(spark, storePath).getOrElse(-1L)
    if (epoch != lastEpoch) {
      lastEpoch = epoch
      filesByBucket.clear()
      footerCache.clear()
      dictCache.synchronized {
        dictCache.clear()
        dictCacheBytes.set(0)
      }
    }
  }

  private def predicate(key: String,
      residual: Seq[(String, String)]): FilterPredicate =
    ((keyCol, key) +: residual).map { case (c, v) =>
      FilterApi.eq(FilterApi.binaryColumn(c),
        Binary.fromString(v)): FilterPredicate
    }.reduce(FilterApi.and)

  private def prefixPredicate(prefix: String,
      residual: Seq[(String, String)]): FilterPredicate = {
    val pfx: FilterPredicate = FilterApi.userDefined(
      FilterApi.binaryColumn(keyCol),
      new PointReader.StartsWithPredicate(
        prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    residual.foldLeft(pfx) { case (acc, (c, v)) =>
      FilterApi.and(acc, FilterApi.eq(FilterApi.binaryColumn(c),
        Binary.fromString(v)))
    }
  }

  /** Point lookup: key equality on this copy's leading column plus
    * residual string-equality filters, capped at `limit`. Semantics match
    * `ObservationStore.entries` on the same store exactly (the
    * `PointReaderSpec` contract). */
  def lookup(key: String, residual: Seq[(String, String)],
      limit: Int): Vector[Observation] = {
    ensureFresh()
    readBucket(bucketOf(key),
      PointReader.Read(FilterCompat.get(predicate(key, residual)),
        PointReader.KeyTest.point(
          key.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
        residual, new PointReader.Budget(limit)))
  }

  /** Prefix range scan: every observation whose `keyCol` starts with
    * `prefix`, plus residual equality filters, capped at `limit` — the
    * reference's forward scan IS a prefix seek
    * (`backend/balboa-rocksdb/rocksdb-impl.c:345-354`), so serving it
    * should not pay the Spark-plan floor either. `xxhash64(key) % n`
    * bucketing cannot prune a prefix (hashing destroys key order), so
    * the reader fans over ALL buckets; within each sorted file the
    * [[PointReader.StartsWithPredicate]] bounds the candidate row groups
    * and pages from footer min/max stats (a `[prefix, nextPrefix)`
    * range check), and the key test keeps the dictionary ids of the
    * prefix range — the same pruning the pruned Spark scan would do,
    * minus the per-query planning/scheduling. Result order is per-bucket
    * file order (callers needing an order sort, exactly as with the plan
    * path's unordered scan + limit). */
  def prefixLookup(prefix: String, residual: Seq[(String, String)],
      limit: Int): Vector[Observation] =
    fan(FilterCompat.get(prefixPredicate(prefix, residual)),
      PointReader.KeyTest.prefix(
        prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      residual, limit)

  /** Key-test scan: every observation whose `keyCol` value satisfies
    * `keep`, capped at `limit` — the shape of a CIDR block over the
    * inverted copy, where no key order (string or hash) bounds the
    * matches, so every bucket fans and no statistic prunes a row group
    * or page. Files whose cached dictionaries hold no kept key are
    * skipped with zero I/O; in the rest, a row is a match when its key's
    * dictionary id is in the kept set. Result order is per-bucket file
    * order, as in [[prefixLookup]]. Only a binding `limit` cuts the read
    * short. */
  def keyTestLookup(keep: Array[Byte] => Boolean,
      limit: Int): Vector[Observation] =
    fan(FilterCompat.NOOP, new PointReader.KeyTest(keep, None), Nil, limit)

  /** Reads every bucket, stopping all of them once `limit` rows exist in
    * total. The buckets are INDEPENDENT reads (every cache here is a
    * TrieMap — the same concurrency the multi-worker serving path
    * already exercises), so they fan over the shared bounded pool: a
    * serial walk pays bucket-count × per-file latency for what is
    * mostly dictionary-pruned no-ops plus a handful of real reads.
    * Concatenation keeps bucket order, so a non-binding limit returns
    * the serial walk's rows in its order; a binding one returns exactly
    * `limit` matches (an arbitrary subset, as on the plan path's
    * unordered scan + limit). */
  private def fan(filter: FilterCompat.Filter, test: PointReader.KeyTest,
      residual: Seq[(String, String)], limit: Int): Vector[Observation] = {
    ensureFresh()
    def once(): (Vector[Observation], PointReader.Budget) = {
      val read = PointReader.Read(filter, test, residual,
        new PointReader.Budget(limit))
      val rows =
        if (numBuckets <= 1) readBucket(0L, read, trackFan = true)
        else
          (0L until numBuckets).map { b =>
            PointReader.prefixFanPool.submit(
              new java.util.concurrent.Callable[Vector[Observation]] {
                def call(): Vector[Observation] =
                  readBucket(b, read, trackFan = true)
              })
          }.flatMap { f =>
            // a bucket's own failure (a refused file shape), not the
            // pool's wrapper
            try f.get()
            catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
          }.take(limit).toVector
      (rows, read.budget)
    }
    // a bucket whose file vanished mid-read (concurrent commit) gives
    // back the rows it had counted; buckets that stopped on that count
    // may leave a binding limit short, so fan once more on fresh files
    val (rows, budget) = once()
    if (rows.size < limit && budget.refunded) once()._1 else rows
  }

  /** Each row group of `p`'s decoded key dictionary and the ids `test`
    * keeps in it (None for a row group without a usable dictionary: its
    * keys are tested by value), worked out from the cached decoded
    * dictionary with zero I/O after the first consultation; None when no
    * row group can hold a match. */
  private def candidates(p: Path, test: PointReader.KeyTest)
      : Option[Seq[Option[PointReader.KeyIds]]] = {
    val dicts = dictCache.get(p.toString) match {
      case Some((d, _)) =>
        PointReader.dictCacheHits.incrementAndGet()
        d
      case None =>
        PointReader.dictCacheDecodes.incrementAndGet()
        val d = readDicts(p)
        val sz = d.iterator.flatten.map(_._1)
          .flatten.map(_.length.toLong + 16L).sum
        // admission and the byte counter move together under one lock
        // (reads stay lock-free): an unsynchronized put racing the
        // epoch-invalidation clear below would leak phantom bytes into
        // the counter — entries gone, budget consumed — and admission
        // would eventually stop forever (permanent repeat-I/O, the
        // exact regression the cache prevents)
        dictCache.synchronized {
          if (dictCacheBytes.get() + sz > PointReader.DictCacheBytes &&
            sz <= PointReader.DictCacheBytes) {
            // budget exhausted: clear-and-readmit (see dictCache doc) —
            // without this, files created after the budget fills would
            // NEVER cache and pay dictionary read+decode on every lookup
            dictCache.clear()
            dictCacheBytes.set(0)
          }
          if (dictCacheBytes.get() + sz <= PointReader.DictCacheBytes &&
            dictCache.putIfAbsent(p.toString, (d, sz)).isEmpty)
            dictCacheBytes.addAndGet(sz): Unit
        }
        d
    }
    val ids = dicts.map(_.map { case (entries, sorted) =>
      PointReader.KeyIds(entries, test.ids(entries, sorted)) })
    if (ids.forall(_.exists(_.kept.isEmpty))) None else Some(ids)
  }

  private def readDicts(p: Path): Seq[Option[(Array[Array[Byte]], Boolean)]] =
    try {
      val r = ParquetFileReader.open(inputFile(p))
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        if (!schema.containsField(keyCol)) return Seq(None)
        val desc = schema.getColumnDescription(Array(keyCol))
        import scala.jdk.CollectionConverters._
        r.getFooter.getBlocks.asScala.toSeq.map { block =>
          block.getColumns.asScala
            .find(_.getPath.toDotString == keyCol)
            .flatMap { chunk =>
              val st = chunk.getEncodingStats
              if (st == null || st.hasNonDictionaryEncodedPages) None
              else {
                // widen to the public interface: the concrete
                // DictionaryPageReader is package-private
                val ds: org.apache.parquet.column.page.DictionaryPageReadStore =
                  r.getDictionaryReader(block)
                Option(ds.readDictionaryPage(desc))
                  .map { page =>
                    val dict = page.getEncoding.initDictionary(desc, page)
                    val entries = Array.tabulate(dict.getMaxId + 1)(i =>
                      dict.decodeToBinary(i).getBytes)
                    (entries, PointReader.isAscending(entries))
                  }
              }
            }
        }
      } finally r.close()
    } catch { case _: Exception => Seq(None) }

  private def readBucket(bucket: Long,
      read: PointReader.Read, trackFan: Boolean = false)
      : Vector[Observation] = {
    // An EMPTY cached list never touches a file, so the vanished-file
    // retry below can't fire for it — a merge that populates the bucket
    // would otherwise serve stale misses for up to EpochCheckMillis.
    // Relisting an empty bucket is one cheap directory stat, so always
    // relist rather than trusting an empty cache entry.
    val cached = filesByBucket.getOrElseUpdate(bucket, listBucket(bucket))
    val files =
      if (cached.nonEmpty) cached
      else {
        val fresh = listBucket(bucket)
        filesByBucket.put(bucket, fresh)
        fresh
      }
    def live(fs: Seq[Path]) =
      fs.flatMap(f => candidates(f, read.test).map(f -> _))
    val first = live(files)
    if (trackFan) {
      PointReader.fanBucketsTotal.incrementAndGet()
      if (first.nonEmpty) PointReader.fanBucketsRead.incrementAndGet(): Unit
    }
    try readFiles(first, read)
    catch {
      // vanished file = concurrent committed merge swapped this bucket:
      // drop caches for it, relist once and retry (see staleness note)
      case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException =>
        files.foreach { f =>
          footerCache.remove(f.toString)
          dictCache.synchronized {
            dictCache.remove(f.toString)
              .foreach(e => dictCacheBytes.addAndGet(-e._2): Unit)
          }
        }
        val fresh = listBucket(bucket)
        filesByBucket.put(bucket, fresh)
        readFiles(live(fresh), read)
    }
  }

  /** `p`'s footer and the projection of the served columns out of its
    * schema, parsed and shape-checked once per cached file. A file of
    * another shape ([[PointReader.projection]]) is refused with the
    * command that rewrites the store, as `load` refuses a legacy store;
    * it never switches serving to another mode. */
  private def footerOf(p: Path): PointReader.Footer =
    footerCache.getOrElseUpdate(p.toString, {
      val r = ParquetFileReader.open(inputFile(p))
      val footer = try r.getFooter finally r.close()
      val schema = footer.getFileMetaData.getSchema
      PointReader.Footer(footer, PointReader.projection(schema).getOrElse(
        throw new IllegalArgumentException(
          s"store file $p does not hold the served columns " +
            s"${PointReader.Cols.mkString(", ")} as BINARY strings, an " +
            "INT64 count and INT64 TIMESTAMP(MICROS) times (INT96 " +
            "timestamps come from a session without Graft's " +
            "spark.sql.parquet.outputTimestampType); rewrite the store " +
            s"once with `graft.Main rebucket --store $storePath --buckets " +
            s"<n>`, n other than its $numBuckets")))
    })

  /** Reads the matching rows of `files` column by column. The read
    * filter prunes row groups (footer stats) and pages (column index);
    * over each surviving row group one [[ColumnReader]] per projected
    * column is built on demand, and only the key column is walked row by
    * row: a row matches when its key's dictionary id is in the row
    * group's kept set, or — for a row group whose key chunk has plain
    * pages — when its key bytes pass the test. The other six columns'
    * readers are built on the first match and skip the rows between
    * matches without materializing them; a matching row's values are
    * decoded, held to the residual equalities, and counted against the
    * budget. Dictionary and bloom row-group filtering are
    * OFF: [[candidates]] already answered membership from the cached
    * decoded dictionary with no I/O, while parquet's own levels re-read
    * dictionary/bloom pages every query (profiled at ~15% of a prefix
    * seek). Page filtering leaves each column with the same row set, so
    * parquet-mr's synchronizing readers keep the columns aligned (pinned
    * by PointReaderSpec's multi-page store cases). */
  private def readFiles(files: Seq[(Path, Seq[Option[PointReader.KeyIds]])],
      read: PointReader.Read): Vector[Observation] = {
    import scala.jdk.CollectionConverters._
    val out = Vector.newBuilder[Observation]
    var n = 0
    // one cheap options object per read (the filter is per-query);
    // building from the prebuilt ParquetConfiguration avoids the
    // fresh-Configuration cost
    val opts = ParquetReadOptions.builder(parquetConf)
      .withCodecFactory(new PointReader.ReadCodecs(parquetConf))
      .withRecordFilter(read.filter)
      .useColumnIndexFilter(true)
      .useDictionaryFilter(false)
      .useBloomFilter(false)
      .build()
    val keyAt = PointReader.Cols.indexOf(keyCol)
    val residual = read.residual.map { case (c, v) =>
      (PointReader.Cols.indexOf(c), v) }
    val budget = read.budget
    val it = files.iterator
    try while (it.hasNext && budget.open) {
      val (path, ids) = it.next()
      val file = footerOf(path)
      val footer = file.meta
      val proj = file.proj
      val blocks = footer.getBlocks.asScala
      val in = inputFile(path)
      val reader = new ParquetFileReader(in, footer, opts, in.newStream())
      var decoded = 0L
      try {
        reader.setRequestedSchema(proj)
        var pages = reader.readNextFilteredRowGroup()
        while (pages != null && budget.open) {
          // this row group's key dictionary and kept ids; None tests
          // key bytes
          val offset: Long = pages.getRowIndexOffset.orElse(-1L)
          val keyIds = ids.lift(blocks.indexWhere(_.getRowIndexOffset == offset))
            .flatten
          if (!keyIds.exists(_.kept.isEmpty)) {
            val columns = new PointReader.RowGroupColumns(pages, proj,
              footer.getFileMetaData.getCreatedBy, keyAt, keyIds.map(_.entries))
            val key = columns.cells(keyAt)
            val rows = pages.getRowCount
            var row = 0L
            while (row < rows && budget.open) {
              if (columns.read(keyAt, row) && (
                  if (key.id >= 0 && keyIds.isDefined) keyIds.get.kept.get(key.id)
                  else read.test.keep(key.binary.getBytesUnsafe))) {
                val o = columns.observation(row)
                decoded += 1
                if (residual.forall { case (i, v) => o.productElement(i) == v }) {
                  out += o
                  n += 1
                  budget.take()
                }
              }
              row += 1
            }
          }
          pages =
            if (budget.open) reader.readNextFilteredRowGroup() else null
        }
      } finally {
        PointReader.rowsDecoded.addAndGet(decoded)
        reader.close()
      }
    } catch {
      case e: Throwable => budget.refund(n); throw e
    }
    out.result()
  }
}

object PointReader {
  /** How long a cached bucket→file map may be used before revalidating
    * against the store's committed epoch. */
  val EpochCheckMillis: Long = 2000L

  /** The served columns, in [[Observation]]'s field order. */
  private[operators] val Cols: Seq[String] = Seq("rrname", "sensor_id",
    "rrtype", "rdata", "count", "first_seen", "last_seen")

  /** A store file's footer and the schema its reads request. */
  private[operators] final case class Footer(meta: ParquetMetadata,
      proj: MessageType)

  /** The served columns out of a store file's `schema`, in [[Cols]]
    * order, when each has the store's shape: the four keys BINARY, `count`
    * INT64, both times INT64 TIMESTAMP(MICROS) — what every store write
    * produces under Graft's session settings. None for any other shape
    * (a missing column, INT96 or millisecond timestamps), which no read
    * decodes. Each column keeps its file's repetition: a build from
    * non-nullable input writes its keys REQUIRED, while a merge, expiry
    * or compaction rewrites them OPTIONAL (Spark reads parquet as
    * nullable), so one store can hold both, and definition levels decode
    * only against the file's own. */
  private[operators] def projection(schema: MessageType): Option[MessageType] = {
    import PrimitiveType.PrimitiveTypeName.{BINARY, INT64}
    def served(c: String, t: PrimitiveType): Boolean = c match {
      case "count" => t.getPrimitiveTypeName == INT64
      case "first_seen" | "last_seen" =>
        t.getPrimitiveTypeName == INT64 && (t.getLogicalTypeAnnotation match {
          case a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            a.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
          case _ => false
        })
      case _ => t.getPrimitiveTypeName == BINARY
    }
    val fields = Cols.filter(schema.containsField)
      .map(c => c -> schema.getType(schema.getFieldIndex(c)))
      .collect { case (c, t: PrimitiveType)
          if !t.isRepetition(Type.Repetition.REPEATED) && served(c, t) => t }
    Option.when(fields.size == Cols.size)(
      new MessageType(schema.getName, fields: _*))
  }

  /** Bucket-fan pruning telemetry (cumulative across all readers):
    * of the buckets a prefix or key-test fan visited, how many actually had a
    * candidate file after the cached-dictionary prune (i.e. opened
    * data). `graft.Bench` snapshots these around its prefix phase —
    * the falsifiable form of "a selective prefix touches few buckets
    * even though hash bucketing can't prune the fan". */
  private[graft] val fanBucketsTotal =
    new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val fanBucketsRead =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Rows whose non-key columns a read decoded (cumulative across all
    * readers): the rows whose key matched, before residual filters. A
    * point lookup of a key with r rows adds exactly r, however many rows
    * share its pages. */
  private[graft] val rowsDecoded =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Dictionary-cache telemetry (cumulative across all readers):
    * hits answer the membership probe with zero I/O; decodes re-read
    * and re-decode a file's key dictionary (first touch, epoch
    * invalidation, or a clear-and-readmit budget cycle). `graft.Bench`
    * snapshots these around its serving phases — if a round's qps
    * moves, the decode count says whether the dict cache (stampeding
    * re-decodes) or something else (scheduler, disk, CPU clocks) did
    * it. */
  private[graft] val dictCacheHits =
    new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val dictCacheDecodes =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Is `entries` ascending in unsigned byte order? True by
    * construction for this store's files (written sorted on the key,
    * so dictionary ids follow first-occurrence order); verified once
    * per decode so a foreign/unsorted file degrades to the linear
    * probe instead of returning wrong prunes. */
  private[graft] def isAscending(entries: Array[Array[Byte]]): Boolean = {
    var i = 1
    while (i < entries.length) {
      if (java.util.Arrays.compareUnsigned(entries(i - 1), entries(i)) > 0)
        return false
      i += 1
    }
    true
  }

  /** First index whose entry is >= `target` (unsigned byte order). */
  private def lowerBound(entries: Array[Array[Byte]],
      target: Array[Byte]): Int = {
    var lo = 0
    var hi = entries.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (java.util.Arrays.compareUnsigned(entries(mid), target) < 0)
        lo = mid + 1
      else hi = mid
    }
    lo
  }

  /** One test on the key column, in the two forms a read needs: on a
    * value's raw bytes (`keep`, for plain-encoded key pages), and as the
    * set of dictionary ids it keeps ([[ids]]). With an ascending
    * dictionary and a `seek` target the kept ids are the run that starts
    * at the target's lower bound — one id for a point key, the
    * contiguous range of a prefix — found by binary search; otherwise
    * (a CIDR block, a foreign unsorted dictionary) every entry is
    * tested. */
  private[graft] final class KeyTest(val keep: Array[Byte] => Boolean,
      seek: Option[Array[Byte]]) {
    def ids(entries: Array[Array[Byte]], sorted: Boolean): java.util.BitSet = {
      val out = new java.util.BitSet()
      seek match {
        case Some(s) if sorted =>
          var i = lowerBound(entries, s)
          while (i < entries.length && keep(entries(i))) {
            out.set(i)
            i += 1
          }
        case _ =>
          var i = 0
          while (i < entries.length) {
            if (keep(entries(i))) out.set(i)
            i += 1
          }
      }
      out
    }
  }

  private[graft] object KeyTest {
    def point(key: Array[Byte]): KeyTest =
      new KeyTest(java.util.Arrays.equals(_, key), Some(key))
    def prefix(p: Array[Byte]): KeyTest = new KeyTest(startsWith(_, p), Some(p))
  }

  private[graft] def startsWith(e: Array[Byte],
      prefix: Array[Byte]): Boolean = {
    if (e.length < prefix.length) return false
    var i = 0
    while (i < prefix.length) {
      if (e(i) != prefix(i)) return false
      i += 1
    }
    true
  }

  /** Upper bound on retained decoded key dictionaries across all files
    * (approx bytes). 256 MB holds ~10⁷ typical DNS keys with overhead —
    * plenty for the dictionaries that matter, a rounding error against
    * a serving driver's heap, and a hard ceiling against pinning a
    * 100 TB store's key column in memory. */
  val DictCacheBytes: Long =
    sys.props.get("graft.pointreader.dictCacheMB")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(256L) * 1024L * 1024L

  /** Rows one read has emitted toward its `limit`, shared by every
    * bucket of a fan so all of them stop once the total is reached. A
    * read that fails after counting rows (a file vanished under a
    * concurrent commit) refunds them before its bucket retries. */
  private[operators] final class Budget(limit: Int) {
    private val taken = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var refunded = false
    def open: Boolean = taken.get < limit
    def take(): Unit = taken.incrementAndGet(): Unit
    def refund(n: Int): Unit = if (n > 0) {
      taken.addAndGet(-n)
      refunded = true
    }
  }

  /** One query's read: the row-group/page pruning filter, the key test,
    * the residual (column, value) equalities and the shared budget. */
  private[operators] final case class Read(filter: FilterCompat.Filter,
      test: KeyTest, residual: Seq[(String, String)], budget: Budget)

  /** A row group's decoded key dictionary and the ids a key test keeps. */
  private[operators] final case class KeyIds(entries: Array[Array[Byte]],
      kept: java.util.BitSet)

  /** The projected columns of one row group as column readers the key
    * walk drives forward: a reader is built on first use (a row group
    * with no match never decodes the non-key columns' pages) and skips
    * the rows before the one asked for without materializing them. A
    * value read lands in its column's [[Cell]]. With `keyEntries` (the
    * cached decoded dictionary of column `key`) the key reader is handed
    * an empty dictionary page and its ids resolve against those entries,
    * so the stored dictionary page is never decompressed again. */
  private[operators] final class RowGroupColumns(pages: PageReadStore,
      proj: MessageType, createdBy: String, key: Int,
      keyEntries: Option[Array[Array[Byte]]]) {
    private val cols = proj.getColumns
    val cells: Array[Cell] = Array.tabulate(Cols.size)(c =>
      new Cell(if (c == key) keyEntries.map(new EntriesDictionary(_)).orNull
        else null))
    private val store = new ColumnReadStoreImpl(
      if (keyEntries.isEmpty) pages else new PageReadStore {
        override def getPageReader(d: ColumnDescriptor): PageReader = {
          val r = pages.getPageReader(d)
          if (d != cols.get(key)) r
          else new PageReader {
            override def readDictionaryPage(): DictionaryPage =
              new DictionaryPage(BytesInput.empty(), 0, Encoding.PLAIN)
            override def getTotalValueCount: Long = r.getTotalValueCount
            override def readPage(): DataPage = r.readPage()
          }
        }
        override def getRowCount: Long = pages.getRowCount
        override def getRowIndexOffset = pages.getRowIndexOffset
        override def getRowIndexes = pages.getRowIndexes
      },
      new org.apache.parquet.io.api.GroupConverter {
        override def getConverter(i: Int) = cells(i)
        override def start(): Unit = ()
        override def end(): Unit = ()
      }, proj, createdBy)
    private val readers = new Array[ColumnReader](Cols.size)
    private val rowOf = new Array[Long](Cols.size)

    /** Reads column `c` at `row` (rows only move forward) into
      * `cells(c)`; false when the value is null. */
    def read(c: Int, row: Long): Boolean = {
      var r = readers(c)
      if (r == null) {
        r = store.getColumnReader(cols.get(c))
        readers(c) = r
      }
      val maxDef = cols.get(c).getMaxDefinitionLevel
      while (rowOf(c) < row) {
        if (r.getCurrentDefinitionLevel == maxDef) r.skip()
        r.consume()
        rowOf(c) += 1
      }
      val defined = r.getCurrentDefinitionLevel == maxDef
      if (defined) r.writeCurrentValueToConverter()
      defined
    }

    private def str(c: Int, row: Long): String =
      if (read(c, row)) cells(c).binary.toStringUsingUTF8 else null

    private def long(c: Int, row: Long): Long =
      if (read(c, row)) cells(c).long
      else throw new ParquetDecodingException(s"null ${Cols(c)} at row $row")

    /** Every column's value at `row`. */
    def observation(row: Long): Observation =
      Observation(str(0, row), str(1, row), str(2, row), str(3, row),
        long(4, row), tsOf(long(5, row)), tsOf(long(6, row)))
  }

  /** The last value a column reader wrote: its dictionary id on a
    * dictionary-encoded page (decoded only when asked for, against
    * `fixed` when given, else the reader's dictionary), else the plain
    * value. */
  private[operators] final class Cell(fixed: Dictionary)
      extends org.apache.parquet.io.api.PrimitiveConverter {
    private var dict: Dictionary = fixed
    /** Dictionary id of the last value; -1 when it came from a plain page. */
    var id: Int = -1
    private var bin: Binary = null
    private var plainLong = 0L
    override def hasDictionarySupport: Boolean = true
    override def setDictionary(d: Dictionary): Unit =
      if (fixed == null) dict = d
    override def addValueFromDictionary(i: Int): Unit = id = i
    override def addBinary(b: Binary): Unit = { id = -1; bin = b }
    override def addLong(v: Long): Unit = { id = -1; plainLong = v }
    def binary: Binary = if (id >= 0) dict.decodeToBinary(id) else bin
    def long: Long = if (id >= 0) dict.decodeToLong(id) else plainLong
  }

  private final class EntriesDictionary(entries: Array[Array[Byte]])
      extends Dictionary(Encoding.PLAIN) {
    override def getMaxId: Int = entries.length - 1
    override def decodeToBinary(id: Int): Binary =
      Binary.fromConstantByteArray(entries(id))
  }

  /** The codecs of one read. SNAPPY, the codec every store copy is
    * written with, decompresses heap to heap in one snappy-java call per
    * page; parquet-mr's stream codec instead allocates a staging buffer
    * of `io.file.buffer.size` (64 KB under Spark) for every page, which
    * profiled at 83 % of a point lookup's allocation. Any other codec
    * goes to parquet-mr's own factory. */
  private[operators] final class ReadCodecs(conf: ParquetConfiguration)
      extends CompressionCodecFactory {
    private var others: CompressionCodecFactory = null
    private def other: CompressionCodecFactory = {
      if (others == null) others = HadoopCodecs.newFactory(conf, 0)
      others
    }
    override def getDecompressor(c: CompressionCodecName)
        : CompressionCodecFactory.BytesInputDecompressor =
      if (c == CompressionCodecName.SNAPPY) HeapSnappy
      else other.getDecompressor(c)
    override def getCompressor(c: CompressionCodecName)
        : CompressionCodecFactory.BytesInputCompressor = other.getCompressor(c)
    override def release(): Unit = if (others != null) others.release()
  }

  private object HeapSnappy extends CompressionCodecFactory.BytesInputDecompressor {
    override def decompress(bytes: BytesInput, size: Int): BytesInput = {
      val in = bytes.toByteArray
      val out = new Array[Byte](size)
      val n = org.xerial.snappy.Snappy.uncompress(in, 0, in.length, out, 0)
      if (n != size) throw new java.io.IOException(
        s"snappy page decompressed to $n bytes, expected $size")
      BytesInput.from(out)
    }
    override def decompress(in: java.nio.ByteBuffer, compressedSize: Int,
        out: java.nio.ByteBuffer, size: Int): Unit =
      out.put(decompress(BytesInput.from(in), size).toByteBuffer)
    override def release(): Unit = ()
  }

  private def tsOf(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  /** Shared bounded pool for the bucket fan-out — sized small
    * (the reads are I/O-bound and dictionary-pruned; more threads than
    * this just queue on the disk) and daemon so it never pins a JVM.
    * Serving threads block on their own fan's futures only (no nested
    * submits), so a bounded pool cannot deadlock. */
  private[operators] lazy val prefixFanPool =
    java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, Runtime.getRuntime.availableProcessors()),
      (r: Runnable) => {
        val t = new Thread(r, "graft-prefix-fan")
        t.setDaemon(true)
        t
      })

  /** Local parquet InputFile whose streams buffer reads (64 KB window,
    * positional FileChannel reads). parquet-mr's own LocalInputFile
    * hands thrift an unbuffered RandomAccessFile, so metadata parsing
    * degenerates into per-byte syscalls; this wrapper serves small
    * reads from the window and bypasses it for reads ≥ the window size
    * (data-page region reads stay single-syscall). Streams are
    * single-threaded (one per lookup), the underlying channel reads are
    * positional. */
  private[graft] final class BufferedLocalInputFile(
      p: java.nio.file.Path, bufSize: Int = 64 * 1024)
      extends org.apache.parquet.io.InputFile {
    override def getLength: Long = java.nio.file.Files.size(p)
    override def newStream(): org.apache.parquet.io.SeekableInputStream =
      new BufferedSeekableStream(
        java.nio.channels.FileChannel.open(p,
          java.nio.file.StandardOpenOption.READ), bufSize)
  }

  private final class BufferedSeekableStream(
      ch: java.nio.channels.FileChannel, bufSize: Int)
      extends org.apache.parquet.io.SeekableInputStream {
    private val buf = java.nio.ByteBuffer.allocate(bufSize)
    private var winStart = 0L
    private var winLen = 0
    private var pos = 0L

    private def inWindow: Boolean =
      pos >= winStart && pos < winStart + winLen

    /** Reposition the window at `pos`; returns bytes available. */
    private def fill(): Int = {
      winStart = pos
      buf.clear()
      var n = ch.read(buf, pos)
      winLen = math.max(n, 0)
      winLen
    }

    override def getPos: Long = pos
    override def seek(newPos: Long): Unit = pos = newPos

    override def read(): Int = {
      if (!inWindow && fill() <= 0) return -1
      val b = buf.get((pos - winStart).toInt) & 0xff
      pos += 1
      b
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (!inWindow) {
        if (len >= bufSize) { // large read: straight to the channel
          val n = ch.read(java.nio.ByteBuffer.wrap(b, off, len), pos)
          if (n > 0) pos += n
          return n
        }
        if (fill() <= 0) return -1
      }
      val avail = (winStart + winLen - pos).toInt
      val n = math.min(avail, len)
      System.arraycopy(buf.array(), (pos - winStart).toInt, b, off, n)
      pos += n
      n
    }

    override def readFully(bytes: Array[Byte]): Unit =
      readFully(bytes, 0, bytes.length)

    override def readFully(bytes: Array[Byte], start: Int, len: Int)
        : Unit = {
      var o = start
      var rem = len
      while (rem > 0) {
        val n = read(bytes, o, rem)
        if (n < 0) throw new java.io.EOFException(
          s"EOF at $pos reading $len bytes")
        o += n
        rem -= n
      }
    }

    override def read(dst: java.nio.ByteBuffer): Int = {
      if (!dst.hasRemaining) return 0
      if (inWindow) {
        val avail = (winStart + winLen - pos).toInt
        val n = math.min(avail, dst.remaining())
        dst.put(buf.array(), (pos - winStart).toInt, n)
        pos += n
        n
      } else if (dst.remaining() >= bufSize) {
        val n = ch.read(dst, pos)
        if (n > 0) pos += n
        n
      } else {
        if (fill() <= 0) -1 else read(dst)
      }
    }

    override def readFully(dst: java.nio.ByteBuffer): Unit =
      while (dst.hasRemaining)
        if (read(dst) < 0) throw new java.io.EOFException(
          s"EOF at $pos filling ${dst.remaining()} bytes")

    override def close(): Unit = ch.close()
  }

  /** `startsWith(prefix)` as a parquet user-defined predicate over a
    * UTF-8 BINARY column. Byte-level: a whole-codepoint UTF-8 prefix of
    * the character string is exactly a byte prefix of the encoding (and
    * parquet orders BINARY/UTF8 stats by unsigned bytes), so both the
    * value test and the stats pruning work on raw bytes:
    *  - values with the prefix lie in `[prefix, nextPrefix)` where
    *    `nextPrefix` increments the last non-0xff byte and truncates —
    *    a row group whose `max < prefix` or `min >= nextPrefix` drops
    *    from footer stats alone;
    *  - dictionary-encoded pages drop when no dictionary entry keeps.
    */
  private[operators] final class StartsWithPredicate(
      prefix: Array[Byte])
      extends org.apache.parquet.filter2.predicate.UserDefinedPredicate[Binary]
      with java.io.Serializable {

    private def cmp(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }

    /** Smallest byte string greater than EVERY string with this prefix;
      * None when the prefix is all 0xff (no upper bound exists). */
    private val upper: Option[Array[Byte]] = {
      var i = prefix.length - 1
      while (i >= 0 && prefix(i) == 0xff.toByte) i -= 1
      if (i < 0) None
      else {
        val u = java.util.Arrays.copyOf(prefix, i + 1)
        u(i) = (u(i) + 1).toByte
        Some(u)
      }
    }

    override def keep(value: Binary): Boolean = {
      if (value == null) return false
      val v = value.getBytesUnsafe
      if (v.length < prefix.length) return false
      var i = 0
      while (i < prefix.length) {
        if (v(i) != prefix(i)) return false
        i += 1
      }
      true
    }

    override def canDrop(
        st: org.apache.parquet.filter2.predicate.Statistics[Binary])
        : Boolean = {
      val min = st.getMin.getBytesUnsafe
      val max = st.getMax.getBytesUnsafe
      cmp(max, prefix) < 0 || upper.exists(u => cmp(min, u) >= 0)
    }

    /** For NOT(startsWith): droppable only when every value in
      * [min, max] has the prefix — i.e. the whole range sits inside
      * `[prefix, nextPrefix)`. */
    override def inverseCanDrop(
        st: org.apache.parquet.filter2.predicate.Statistics[Binary])
        : Boolean = {
      val min = st.getMin.getBytesUnsafe
      val max = st.getMax.getBytesUnsafe
      cmp(min, prefix) >= 0 && upper.exists(u => cmp(max, u) < 0)
    }
  }
}
