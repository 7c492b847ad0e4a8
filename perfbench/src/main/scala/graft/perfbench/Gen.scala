package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generator. Every input the engine sees is a pure function
  * of `(seed, index)`, so the same seed gives the same store, the same
  * request streams and the same ingest payloads, in any process.
  *
  * Shape: [[Rows]] observations over [[Names]] names (~15 entries per
  * name), [[Sensors]] sensors, 90 % A records whose rdata is an address in
  * 10.0.0.0/15 (~0.7 entries per address) and 10 % CNAME records whose
  * rdata is another name. Almost every row is a distinct store key, so the
  * aggregate holds ~[[Rows]] entries: a sixth of the sf0.1 lineitem stream
  * the engine's own benchmark serves, so that a run (session, two store
  * builds, measurement, checks) stays near half a minute on 4 cores.
  */
object Gen {
  val Rows: Int = 100000
  val Names: Int = 6667
  val Sensors: Int = 10
  val AddrBits: Int = 17
  /** 2024-01-01T00:00:00Z; observations spread over the next 90 days. */
  val TsBase: Long = 1704067200L
  val TsSpan: Long = 90L * 86400L

  /** splitmix64 finalizer: a full-avalanche 64-bit mix. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def h(seed: Long, i: Long, salt: Int): Long =
    mix(mix(seed * 31L + salt) ^ i)

  /** Uniform in [0, n). */
  def uni(seed: Long, i: Long, salt: Int, n: Int): Int =
    java.lang.Long.remainderUnsigned(h(seed, i, salt), n.toLong).toInt

  def nameOf(n: Int): String = s"h$n.z${n % 97}.example"
  def absentName(n: Int): String = s"h$n.absent.example"
  def ipOf(a: Long): String =
    s"10.${(a >>> 16) & 255}.${(a >>> 8) & 255}.${a & 255}"
  /** Addresses just above the stored block: inside 10/8, so they sort
    * among stored keys, but never stored. */
  def absentIp(a: Long): String = ipOf((1L << AddrBits) | a)

  final case class Obs(rrname: String, sensor_id: String, rrtype: String,
      rdata: String, count: Long, ts: Timestamp)

  def sensorOf(s: Int): String = s"sensor-$s"

  def baseRow(seed: Long, i: Long): Obs = {
    val cname = uni(seed, i, 4, 10) == 0
    Obs(nameOf(uni(seed, i, 1, Names)), sensorOf(uni(seed, i, 2, Sensors)),
      if (cname) "CNAME" else "A",
      if (cname) nameOf(uni(seed, i, 5, Names))
      else ipOf(uni(seed, i, 3, 1 << AddrBits).toLong),
      1L + uni(seed, i, 6, 5),
      new Timestamp((TsBase + uni(seed, i, 7, TsSpan.toInt)) * 1000L))
  }

  /** The base observation stream, generated inside Spark tasks. */
  def base(spark: SparkSession, seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, Rows.toLong, 1L, 8).map(i => baseRow(seed, i)).toDF()
  }

  // ------------------------------------------------------------ Zipf

  /** Zipf(s) over ranks [0, n): inverse-CDF sampling from a precomputed
    * table. The rank is then mapped through a seeded affine permutation
    * so the hot keys are scattered over the key space. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val a = new Array[Double](n)
      var acc = 0.0
      var k = 0
      while (k < n) { acc += 1.0 / math.pow(k + 1.0, s); a(k) = acc; k += 1 }
      k = 0
      while (k < n) { a(k) /= acc; k += 1 }
      a
    }
    def rank(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A permutation of [0, n) as `(r * p + q) mod n` with `p` coprime. */
  def permute(seed: Long, salt: Int, n: Int): Int => Int = {
    var p = 1 + uni(seed, 0, salt, n - 1)
    while (BigInt(p).gcd(BigInt(n)) != 1) p += 1
    val q = uni(seed, 1, salt, n)
    r => ((r.toLong * p + q) % n).toInt
  }

  def unit(seed: Long, i: Long, salt: Int): Double =
    (h(seed, i, salt) >>> 11).toDouble / (1L << 53).toDouble
}

/** Suricata EVE DNS payloads for the ingest workload, in the shapes of
  * the reference decoder's fixtures: v1 single answers, v2 `answers[]`
  * and v2 `grouped` maps, plus the four negative cases (garbage bytes, a
  * bad timestamp, `event_type` other than dns, `dns.type` other than
  * answer), which yield nothing. About 80 % of the observations repeat a
  * stored key (same name, sensor, type and answer), the rest are new
  * answers for stored names. */
object Eve {
  import Gen._

  /** One micro-batch: payloads, their sensors, and the number of valid
    * observations they decode to. */
  final case class Batch(values: Array[String], sensors: Array[String], obs: Int)

  /** Observations per batch: the reference's ingest buffer
    * (`observation/input_observation.go:30`). */
  val BatchObs = 50000

  private val tsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  private def ts(seed: Long, i: Long): String = {
    val sec = TsBase + TsSpan + uni(seed, i, 60, 7 * 86400)
    val micros = (1000000 + uni(seed, i, 61, 1000000)).toString.substring(1)
    tsFormat.format(java.time.Instant.ofEpochSecond(sec)) + "." + micros + "+0000"
  }

  private def head(time: String, eventType: String = "dns") =
    s"""{"timestamp":"$time","event_type":"$eventType","dns":{"""

  /** A stored key, or with probability 1 - `repeatPct`% a new answer for
    * a stored name: (rrname, sensor, rrtype, rdata). */
  private def key(seed: Long, i: Long, salt: Int, repeatPct: Int)
      : (String, String, String, String) =
    if (uni(seed, i, salt, 100) < repeatPct) {
      val o = baseRow(seed, uni(seed, i, salt + 1, Rows).toLong)
      (o.rrname, o.sensor_id, o.rrtype, o.rdata)
    } else (nameOf(uni(seed, i, salt + 2, Names)),
      sensorOf(uni(seed, i, salt + 3, Sensors)), "A",
      ipOf(uni(seed, i, salt + 4, 1 << AddrBits).toLong))

  def batch(seed: Long, b: Int): Batch = {
    val values = Array.newBuilder[String]
    val sensors = Array.newBuilder[String]
    var obs = 0
    var e = 0L
    while (obs < BatchObs) {
      val i = (b.toLong << 32) | e
      val t = ts(seed, i)
      val kind = uni(seed, i, 50, 100)
      if (kind < 2) {
        values += (uni(seed, i, 51, 4) match {
          case 0 => "\u0000\u0001garbage{\"event_type\":"
          case 1 => head("not-a-time") +
            """"type":"answer","rcode":"NOERROR","rrname":"x.example","rrtype":"A","ttl":8,"rdata":"10.0.0.1"}}"""
          case 2 => head(t, "alert") +
            """"type":"answer","rcode":"NOERROR","rrname":"x.example","rrtype":"A","ttl":8,"rdata":"10.0.0.1"}}"""
          case _ => head(t) +
            """"type":"query","rcode":"NOERROR","rrname":"x.example","rrtype":"A"}}"""
        })
        sensors += sensorOf(0)
      } else if (kind < 72) {
        val (n, s, ty, d) = key(seed, i, 70, 85)
        values += head(t) +
          s""""type":"answer","rcode":"NOERROR","rrname":"$n","rrtype":"$ty","ttl":60,"rdata":"$d"}}"""
        sensors += s
        obs += 1
      } else if (kind < 87) {
        // v2 detailed: the event's sensor comes from the first answer; the
        // second repeats a stored key only if one with that sensor is found
        val (n1, s, t1, d1) = key(seed, i, 80, 85)
        var (n2, s2, t2, d2) = key(seed, i, 90, 75)
        var k = 0
        while (s2 != s && k < 32) {
          val o = baseRow(seed, uni(seed, i, 100 + k, Rows).toLong)
          if (o.sensor_id == s) { n2 = o.rrname; t2 = o.rrtype; d2 = o.rdata; s2 = s }
          k += 1
        }
        values += head(t) +
          s""""version":2,"type":"answer","rcode":"NOERROR","rrname":"$n1","answers":[""" +
          s"""{"rrname":"$n1","rrtype":"$t1","ttl":60,"rdata":"$d1"},""" +
          s"""{"rrname":"$n2","rrtype":"$t2","ttl":60,"rdata":"$d2"}]}}"""
        sensors += s
        obs += 2
      } else {
        // v2 grouped: a stored key plus a new address for the same name
        val (n, s, ty, d) = key(seed, i, 140, 100)
        val fresh = ipOf(uni(seed, i, 145, 1 << AddrBits).toLong)
        val grouped =
          if (ty == "A") s""""A":["$d","$fresh"]"""
          else s""""$ty":["$d"],"A":["$fresh"]"""
        values += head(t) +
          s""""version":2,"type":"answer","rcode":"NOERROR","rrname":"$n","grouped":{$grouped}}}"""
        sensors += s
        obs += 2
      }
      e += 1
    }
    Batch(values.result(), sensors.result(), obs)
  }
}
