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

  private final class Reader(bytes: Array[Byte]) {
    private var pos = 0
    def atEnd: Boolean = pos >= bytes.length
    private def u8(): Int = {
      need(1, "msgpack type/value byte")
      val b = bytes(pos) & 0xff; pos += 1; b
    }

    private def need(n: Int, what: String): Unit =
      if (pos + n > bytes.length)
        fail(s"truncated dump: $what needs $n bytes, " +
          s"${bytes.length - pos} remain")

    private def beUint(n: Int): Long = {
      need(n, "uint")
      var acc = 0L
      var i = 0
      while (i < n) { acc = (acc << 8) | (bytes(pos + i) & 0xffL); i += 1 }
      pos += n
      acc
    }

    def readMapHeader(): Int = u8() match {
      case b if (b & 0xf0) == 0x80 => b & 0x0f // fixmap
      case 0xde => beUint(2).toInt // map16
      case 0xdf => beUint(4).toInt // map32
      case b => fail(s"expected map, got 0x${b.toHexString}")
    }

    def readUint(): Long = u8() match {
      case b if b <= 0x7f => b.toLong // positive fixint
      case 0xcc => beUint(1)
      case 0xcd => beUint(2)
      case 0xce => beUint(4)
      case 0xcf => beUint(8)
      case b => fail(s"expected uint, got 0x${b.toHexString}")
    }

    /** bin8/16/32 (what mpack writes) or the str family (lenient). */
    def readBytes(): Array[Byte] = {
      val len = u8() match {
        case b if (b & 0xe0) == 0xa0 => b & 0x1f // fixstr
        case 0xc4 | 0xd9 => beUint(1).toInt // bin8 | str8
        case 0xc5 | 0xda => beUint(2).toInt // bin16 | str16
        case 0xc6 | 0xdb => beUint(4).toInt // bin32 | str32
        case b => fail(s"expected bin/str, got 0x${b.toHexString}")
      }
      // copyOfRange would silently ZERO-PAD past the end of a truncated
      // file — a cut-off dump must fail loudly ('corrupt dump fails
      // loudly' contract), not decode to a NUL-padded string
      need(len, "bin/str payload")
      val out = java.util.Arrays.copyOfRange(bytes, pos, pos + len)
      pos += len
      out
    }

    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"balboa dump: $msg at offset $pos")
  }

  /** Decode one concatenated-entry stream. Strict on structure (a corrupt
    * dump fails loudly, `protocol.c:814-821` parity) but field-order
    * agnostic, like the reference's switch-on-index loop. */
  private[graft] def decodeStream(bytes: Array[Byte]): Iterator[Row] =
    new Iterator[Row] {
      private val rd = new Reader(bytes)
      override def hasNext: Boolean = !rd.atEnd
      override def next(): Row = {
        val n = rd.readMapHeader()
        require(n == 7, s"balboa dump: expected 7-field map, got $n")
        var rrname, rrtype, rdata, sensor: String = null
        var count, first, last = 0L
        var i = 0
        while (i < n) {
          rd.readUint() match {
            case 0 => rrname = new String(rd.readBytes(), "UTF-8")
            case 1 => rrtype = new String(rd.readBytes(), "UTF-8")
            case 2 => rdata = new String(rd.readBytes(), "UTF-8")
            case 3 => sensor = new String(rd.readBytes(), "UTF-8")
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
