package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reader/writer for the reference's NATIVE dump wire format, so a live
  * balboa instance can be migrated in (and a graft store exported back)
  * without an external converter.
  *
  * Format (`backend/lib/protocol.c:9-18,149-187,800-871`): a dump file is
  * a bare concatenation of MessagePack maps, one per entry, each with
  * exactly 7 integer-keyed fields —
  * `{0: bin(rrname), 1: bin(rrtype), 2: bin(rdata), 3: bin(sensorid),
  * 4: uint(count), 5: uint(first_seen), 6: uint(last_seen)}` —
  * timestamps in unix SECONDS, strings as msgpack `bin` family. The
  * writer mirrors mpack's encoding choices (fixmap, fixint keys, bin8/16/
  * 32 by length, smallest-width uints) byte for byte; the reader also
  * tolerates the `str` family for strings and any uint width, which is
  * every encoding a conforming msgpack writer could produce for these
  * values.
  *
  * Scale shape: one dump FILE is one undelimited stream, so the parse
  * unit is a whole file (`binaryFile` source) — parallelism comes from
  * the number of dump files, which matches how the reference produces
  * them (one per backend). The parse itself is a single linear pass.
  */
object BalboaDump {

  val schema: StructType = StructType(Seq(
    StructField("rrname", StringType),
    StructField("sensor_id", StringType),
    StructField("rrtype", StringType),
    StructField("rdata", StringType),
    StructField("count", LongType),
    StructField("timestamp_start", TimestampType),
    StructField("timestamp_end", TimestampType)))

  // ------------------------------------------------------------ decode

  /** Decode one concatenated-entry stream through the wire's msgpack
    * reader ([[graft.serve.BalboaTcp.MsgReader]], which also takes the
    * `str` family for strings and any uint width). Strict on structure
    * (a corrupt dump fails loudly, `protocol.c:814-821` parity) but
    * field-order agnostic, like the reference's switch-on-index loop. A
    * stream cut inside an entry is a "truncated dump", never a short or
    * NUL-padded value. */
  private[graft] def decodeStream(bytes: Array[Byte]): Iterator[Row] =
    new Iterator[Row] {
      private val rd = new graft.serve.BalboaTcp.MsgReader(
        new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes)))
      override def hasNext: Boolean = !rd.atCleanEnd()
      override def next(): Row =
        try entry()
        catch {
          case _: java.io.EOFException => throw new IllegalArgumentException(
            s"balboa dump: truncated dump: an entry runs past the end of " +
              s"the ${bytes.length}-byte stream")
        }
      private def entry(): Row = {
        val n = rd.readMapHeader()
        require(n == 7, s"balboa dump: expected 7-field map, got $n")
        var rrname, rrtype, rdata, sensor: String = null
        var count, first, last = 0L
        var i = 0
        while (i < n) {
          rd.readUint() match {
            case 0 => rrname = rd.readStr()
            case 1 => rrtype = rd.readStr()
            case 2 => rdata = rd.readStr()
            case 3 => sensor = rd.readStr()
            case 4 => count = rd.readUint()
            case 5 => first = rd.readUint()
            case 6 => last = rd.readUint()
            case k => throw new IllegalArgumentException(
              s"balboa dump: unknown field index $k")
          }
          i += 1
        }
        Row(rrname, sensor, rrtype, rdata, count,
          new java.sql.Timestamp(first * 1000L),
          new java.sql.Timestamp(last * 1000L))
      }
    }

  /** Read a dump file (or a directory/glob of them) as observations in
    * the [[graft.operators.ObservationStore.aggregate]] input shape.
    *
    * PER-FILE SIZE LIMIT: each dump file is decoded from one in-memory
    * byte array (the format is an undelimited stream — no split points
    * without parsing), so a single file is capped at ~2 GB
    * (`spark.sql.sources.binaryFile.maxLength` / `Int.MaxValue`) and is
    * held on one executor while it decodes. The reference rotates dumps
    * per backend; instances that emit larger monoliths should split them
    * (any msgpack-entry boundary is a valid cut) before ingest. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val files = spark.read.format("binaryFile").load(path)
      .select(col("content"))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    files.flatMap(r => decodeStream(r.getAs[Array[Byte]]("content")))(enc)
  }

  // ------------------------------------------------------------ encode

  private[graft] def encodeEntry(out: java.io.ByteArrayOutputStream,
      rrname: String, rrtype: String, rdata: String, sensor: String,
      count: Long, firstSec: Long, lastSec: Long): Unit = {
    // the wire's msgpack writers: one encoder for dump and TCP bytes
    import graft.serve.BalboaTcp.{writeBin, writeUint}
    def bin(s: String): Unit = writeBin(out, s.getBytes("UTF-8"))
    out.write(0x87) // fixmap(7), field order as protocol.c:155-169
    out.write(0x00); bin(rrname)
    out.write(0x01); bin(rrtype)
    out.write(0x02); bin(rdata)
    out.write(0x03); bin(sensor)
    out.write(0x04); writeUint(out, count)
    out.write(0x05); writeUint(out, firstSec)
    out.write(0x06); writeUint(out, lastSec)
  }

  /** Write an aggregated store (count/first_seen/last_seen columns, like
    * [[graft.operators.ObservationStore.aggregate]] output) as native
    * balboa dump files, one per partition. */
  def write(agg: DataFrame, path: String): Unit = {
    val spark = agg.sparkSession
    val rows = agg.select(col("rrname"), col("sensor_id"), col("rrtype"),
      col("rdata"), col("count").cast("long"),
      unix_timestamp(col("first_seen").cast("timestamp_ltz")).as("first"),
      unix_timestamp(col("last_seen").cast("timestamp_ltz")).as("last"))
    val (f0, p0) = {
      val p = new org.apache.hadoop.fs.Path(path)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    f0.mkdirs(p0)
    // executor-side writes resolve the filesystem from default Hadoop
    // config (the driver's SparkHadoopUtil-augmented conf is not
    // serializable-public); fine for local/HDFS-default deployments,
    // which is what native dumps target
    rows.rdd.foreachPartition { it =>
      if (it.hasNext) {
        val buf = new java.io.ByteArrayOutputStream(1 << 20)
        it.foreach { r =>
          encodeEntry(buf, r.getString(0), r.getString(2), r.getString(3),
            r.getString(1), r.getLong(4), r.getLong(5), r.getLong(6))
        }
        val part = org.apache.spark.TaskContext.getPartitionId()
        val dest = new org.apache.hadoop.fs.Path(
          s"$path/part-${"%05d".format(part)}.mpack")
        val fs = dest.getFileSystem(new org.apache.hadoop.conf.Configuration())
        val out = fs.create(dest, true)
        try buf.writeTo(out) finally out.close()
      }
    }
  }
}
