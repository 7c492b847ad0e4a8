package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Operational tools A4–A7 (SURVEY.md §2.3): dump, jsonize, replay,
  * backup. The reference streams every forward-keyspace entry over a wire
  * protocol; here these are one-pass DataFrame reads/writes. */
object Tools {

  /** A4/A6 — dump/jsonize: the stored aggregate as NDJSON with the
    * reference's JSON shape — Unix-SECONDS integer timestamps
    * (`observation/observation.go:26-37`). */
  def jsonize(agg: DataFrame): DataFrame =
    agg.select(
      col("rrname"), col("rdata"), col("rrtype"), col("sensor_id"),
      col("count"),
      unix_timestamp(col("first_seen").cast("timestamp_ltz")).as("time_first"),
      unix_timestamp(col("last_seen").cast("timestamp_ltz")).as("time_last"))
      .toJSON.toDF("value")

  /** [[jsonize]] over an aggregate whose first_seen/last_seen are already
    * unix-micros longs (the memoized query-surface shape — `util.aggMicros`):
    * seconds = micros DIV 1e6, the same value `unix_timestamp` yields from
    * the timestamp form, without re-aggregating the raw observations. */
  def jsonizeMicros(agg: DataFrame): DataFrame =
    agg.select(
      col("rrname"), col("rdata"), col("rrtype"), col("sensor_id"),
      col("count"),
      expr("first_seen DIV 1000000").as("time_first"),
      expr("last_seen DIV 1000000").as("time_last"))
      .toJSON.toDF("value")

  def dump(agg: DataFrame, outPath: String): Unit =
    jsonize(agg).write.mode("overwrite").text(outPath)

  /** A5 — replay: read a dump and rebuild a store. Re-aggregation on load
    * is free — duplicate keys across dump chunks merge exactly like the
    * reference's replay-as-input path. The dump schema is fixed by
    * [[jsonize]], so it is declared instead of inferred — inference would
    * cost a full extra pass over the dump just to rediscover it. */
  def replay(spark: SparkSession, dumpPath: String, storePath: String,
      numBuckets: Int = 64): Unit = {
    val raw = spark.read.schema(
      "rrname string, rdata string, rrtype string, sensor_id string, " +
        "count long, time_first long, time_last long")
      .json(dumpPath)
    val obs = raw.select(
      col("rrname"), col("sensor_id"), col("rrtype"), col("rdata"),
      col("count").cast("long").as("count"),
      timestamp_seconds(col("time_first")).as("timestamp_start"),
      timestamp_seconds(col("time_last")).as("timestamp_end"))
    ObservationStore.writeDual(ObservationStore.aggregate(obs), storePath,
      numBuckets)
  }

  /** A4/A5 wire-format compat — dump/replay in the reference's NATIVE
    * MessagePack stream format (`backend/lib/protocol.c:149-187,800-871`),
    * so a live balboa instance migrates in (and a graft store exports
    * back) with no external converter. See [[graft.sources.BalboaDump]]. */
  def dumpBalboa(agg: DataFrame, outPath: String): Unit =
    graft.sources.BalboaDump.write(agg, outPath)

  def replayBalboa(spark: SparkSession, dumpPath: String, storePath: String,
      numBuckets: Int = 64): Unit =
    ObservationStore.writeDual(
      ObservationStore.aggregate(
        graft.sources.BalboaDump.read(spark, dumpPath)),
      storePath, numBuckets)

  /** A7 — backup: snapshot copy of the store directory (parquet is
    * immutable-once-written; a recursive copy is a consistent snapshot
    * between merges). */
  def backup(spark: SparkSession, storePath: String, backupPath: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(storePath)
    val dst = new org.apache.hadoop.fs.Path(backupPath)
    // destination resolves its OWN FileSystem: a backup from hdfs:// to
    // s3a:// (or local to hdfs) would otherwise fail with "Wrong FS"
    val srcFs = src.getFileSystem(conf)
    val dstFs = dst.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, dst, false, true, conf)
  }

  /** Order-independent content checksum of a table slice — the
    * replication/migration validator (did the cross-cluster copy, the
    * dump→replay round-trip, the engine swap preserve every row?):
    * `checksum = Σ hash60(canonical row) mod 10¹⁸` over the chosen
    * columns plus the row count. Addition commutes, so the result is
    * independent of partitioning and row order — comparable across ANY
    * two engines or clusters (the same property that makes the DuckDB
    * gates possible, packaged as an operator).
    *
    * Canonical row = the concatenation of one TOKEN per field: the
    * md5 of the field's string form, or the single char 'N' for null.
    * Every token is 32 lowercase-hex chars or 'N' (not a hex digit),
    * so the token stream is uniquely decodable — no value containing a
    * would-be separator, and no null-vs-"null" confusion, can make two
    * different rows canonicalize alike (a raw separator-join encoding
    * is ambiguous: ("a|b","c") ≡ ("a","b|c")). Callers pick columns
    * whose string rendering is
    * engine-stable (integers, strings, epoch-cast timestamps — NOT raw
    * floats). One map-side-combinable aggregate; DECIMAL(38) sum, so
    * no row count overflows. */
  def tableChecksum(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty, "tableChecksum: empty column list")
    val canon = concat(
      cols.map(c => coalesce(md5(col(c).cast("string")), lit("N"))): _*)
    df.select(graft.operators.Curation.hash60(canon).as("_h"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(expr("cast(_h as decimal(38,0))")),
          lit(0L).cast("decimal(38,0)")).as("_s"))
      .select(col("n_rows"),
        expr("cast(_s % 1000000000000000000 as bigint)").as("checksum"))
  }
}
