package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, concat, concat_ws,
  lit}

/** Query-time tombstone masking shared by every tombstoned artifact
  * (BM25, positional, band, IVF, IVF-PQ — the LSM delete/fold split's
  * read side): deleted ids anti-join out of every probe until vacuum
  * folds them in ([[stageFold]], the fold side of the leaf-partitioned
  * ones).
  *
  * The mask frame normally rides the plan as a BROADCAST — deletion
  * sets are small relative to the corpus — but the broadcast
  * materializes on the driver, so an unbounded one is a driver OOM
  * waiting for one oversized takedown between vacuums. This object is
  * the bound: past `graft.tombstone.maxBroadcastIds` raw tombstone rows
  * (counted from parquet FOOTERS alone — a driver-side metadata walk,
  * no Spark job; an upper bound on distinct ids, so the guard can only
  * demote to shuffle early, never broadcast late) the anti-join runs
  * SHUFFLED instead. Queries stay correct either way; they just stop
  * betting the driver on the mask staying small. The documented cadence
  * (vacuum before ~10⁷ un-vacuumed ids) still applies — a shuffled
  * mask costs an exchange per query, the signal to vacuum. */
object TombstoneMask {
  /** Max raw tombstone rows the mask may broadcast; past it the
    * anti-join shuffles. Session-configurable. */
  val MaxBroadcastIdsKey = "graft.tombstone.maxBroadcastIds"
  val MaxBroadcastIdsDefault = 1000000L

  def maxBroadcastIds(spark: SparkSession): Long =
    spark.conf.getOption(MaxBroadcastIdsKey).map(_.toLong)
      .getOrElse(MaxBroadcastIdsDefault)

  /** Raw tombstone ROW count summed from parquet footer metadata —
    * no data pages read, no job scheduled. Missing path counts 0. */
  def footerRowCount(spark: SparkSession, path: String): Long = {
    val (f, p) = ObservationStore.fs(spark, path)
    if (!f.exists(p)) return 0L
    val it = f.listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).toSeq
    footerRows(spark, files)
  }

  private def footerRows(spark: SparkSession,
      files: Seq[org.apache.hadoop.fs.Path]): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    files.map { file =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally r.close()
    }.sum
  }

  /** The tombstone table of the artifact at `path` as one snapshot: the
    * parquet part files of `path/_tombstones`, relative to `path` (e.g.
    * `_tombstones/part-00000-….parquet`). Everything that reads the table
    * reads exactly these, and a vacuum or rebuild lists exactly these in
    * its manifest's `removed`, so a delete appended after the listing
    * survives that generation even when a crash delays its apply. Empty
    * when the table is absent or every part was folded away. */
  def parts(spark: SparkSession, path: String): Seq[String] = {
    val (f, p) = ObservationStore.fs(spark, s"$path/_tombstones")
    if (!f.exists(p)) Nil
    else f.listStatus(p).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith("."))
      .sorted.map(n => s"_tombstones/$n").toSeq
  }

  /** The tombstone rows of `parts` (non-empty, from [[parts]]). */
  def read(spark: SparkSession, path: String, parts: Seq[String]): DataFrame =
    spark.read.parquet(parts.map(r => s"$path/$r"): _*)

  /** `mask`, the frame built from `parts`, broadcast-hinted only while
    * their raw rows stay under the bound. */
  def hinted(spark: SparkSession, mask: DataFrame, path: String,
      parts: Seq[String]): DataFrame =
    if (footerRows(spark, parts.map(r =>
        new org.apache.hadoop.fs.Path(s"$path/$r"))) <= maxBroadcastIds(spark))
      broadcast(mask)
    else mask

  /** `base` LEFT ANTI the distinct ids tombstoned at `path` (`srcCol` in
    * the tombstone table, renamed to `asKey` — `base`'s key column).
    * No-op when nothing is tombstoned. */
  def antiJoin(spark: SparkSession, base: DataFrame, path: String,
      srcCol: String, asKey: String): DataFrame = {
    val tombs = parts(spark, path)
    if (tombs.isEmpty) base
    else base.join(hinted(spark, read(spark, path, tombs)
        .select(col(srcCol).as(asKey)).distinct(), path, tombs),
      Seq(asKey), "left_anti")
  }

  /** The vacuum stage step shared by the leaf-partitioned tombstoned
    * artifacts (IVF/IVF-PQ `vectors/cluster=<c>`, band
    * `band_idx=<b>/batch=<t>`): fold the `key` ids tombstoned in `tombs`
    * (the [[parts]] of `path`) out of the table at `path/dir`
    * (partitioned by `partCols`) into `stg`. A leaf holding a deleted id
    * restages its survivors (`layout` orders them for the write); a leaf
    * whose every row died is removed, except that when EVERY leaf dies
    * the all-zero leaf stages schema-only instead — an index vacuumed to
    * nothing stays readable and partition-shaped (a root-level file
    * beside partition directories breaks discovery the moment a later
    * merge recreates them). Only the touched leaves are counted: the
    * dead rows group by the partition columns, and the touched leaves'
    * totals come from a partition-pruned scan. Returns the staged leaves
    * (relative to `dir`), the removed pieces (relative to `path`,
    * `tombs` included) and the rows removed. */
  private[operators] def stageFold(spark: SparkSession, path: String,
      tombs: Seq[String], dir: String, key: String, partCols: Seq[String],
      stg: StagedCommit.Staging)(layout: DataFrame => DataFrame)
      : (Seq[String], Seq[String], Long) = {
    def under(root: String) = if (dir.isEmpty) root else s"$root/$dir"
    val tomb = hinted(spark, read(spark, path, tombs).select(col(key))
      .distinct().localCheckpoint(false), path, tombs)
    val table = spark.read.parquet(under(path))
    // a row's leaf directory, e.g. "band_idx=2/batch=0" — evaluated in
    // partition filters only, never per row
    val leaf = concat_ws("/", partCols.map(c =>
      concat(lit(s"$c="), col(c).cast("long").cast("string"))): _*)
    def rowsPerLeaf(df: DataFrame): Map[String, Long] =
      df.groupBy(partCols.map(c => col(c).cast("long")): _*).count()
        .collect().map(r => partCols.indices.map(i =>
          s"${partCols(i)}=${r.getLong(i)}").mkString("/") ->
          r.getLong(partCols.size)).toMap
    val dead = rowsPerLeaf(table.join(tomb, Seq(key), "left_semi"))
    val total =
      if (dead.isEmpty) Map.empty[String, Long]
      else rowsPerLeaf(table.filter(leaf.isin(dead.keys.toSeq: _*)))
    val (dying, staying) = dead.keys.toSeq.sorted.partition(l =>
      dead(l) == total(l))
    if (staying.nonEmpty)
      layout(table.filter(leaf.isin(staying: _*))
          .join(tomb, Seq(key), "left_anti"))
        .write.mode("overwrite").partitionBy(partCols: _*)
        .parquet(under(stg.dir))
    val kept =
      if (staying.nonEmpty || dying.isEmpty ||
        !table.filter(!leaf.isin(dying: _*)).isEmpty) Nil
      else Seq(partCols.map(c => s"$c=0").mkString("/"))
    StagedCommit.stageEmptyPieces(spark, table.drop(partCols: _*),
      kept.map(l => s"${under(stg.dir)}/$l"))
    (staying ++ kept, dying.filterNot(kept.contains).map(l =>
      if (dir.isEmpty) l else s"$dir/$l") ++ tombs, dead.values.sum)
  }
}
