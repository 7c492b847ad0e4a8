package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.functions.Net
import graft.model.Model
import graft.operators.{ObservationStore, PointReader, Selectors}
import graft.serve.{BalboaTcpServer, Graphql, QueryServer}
import graft.streaming.IngestPipeline

/** State of one benchmark run: the session, its arguments and what it has
  * measured so far. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: File, val out: File,
    val counters: Probes.SparkCounters) {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val context = mutable.LinkedHashMap[String, Any]()
  var attempted, failed = 0L
  val problems = ArrayBuffer[String]()
  val spans = ArrayBuffer[String]()

  def put(name: String, v: Double, unit: String): Unit =
    metrics(name) = (v, unit)

  def problem(msg: String): Unit = {
    problems += msg
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
  }

  private val born = System.nanoTime()
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $msg")

  private var lastId = 0L
  def newId(): Long = synchronized { lastId += 1; lastId }
  /** Records one span: its id, its parent's id (0 for none), the request
    * it belongs to, and its start and end on the monotonic clock. */
  def span(id: Long, name: String, parent: Long, req: Long, t0: Long, t1: Long): Unit =
    synchronized {
      spans += s"""{"id":$id,"parent":$parent,"req":$req,"name":"$name","start_ns":$t0,"end_ns":$t1}"""
      ()
    }

  /** Times `f` as a span named `name`; `f` gets the span's id, so the
    * calls it makes can name it as their parent. */
  def timed[T](durs: mutable.Map[String, ArrayBuffer[Double]], name: String,
      parent: Long, req: Long)(f: Long => T): T = {
    val id = newId()
    val t0 = System.nanoTime()
    val v = f(id)
    val t1 = System.nanoTime()
    span(id, name, parent, req, t0, t1)
    durs.getOrElseUpdate(name, ArrayBuffer()) += (t1 - t0) / 1e6
    v
  }
}

object Workloads {
  val NumBuckets = 64
  val Cores = 4
  val StreamLen = 1 << 16
  /** Ops kept per client for the answer check, one in every KeepEvery. */
  val KeepEvery = 97
  val KeepMax = 4

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ------------------------------------------------------------ set-up

  /** Builds the store from the generator (generate, aggregate,
    * `writeDual`); returns its path and the build time. */
  def buildStore(r: Run): (String, Double) = {
    val path = new File(r.work, "store").getAbsolutePath
    val (_, s) = time(ObservationStore.writeDual(
      ObservationStore.aggregate(Gen.base(r.spark, r.seed)), path, NumBuckets))
    r.log(f"store build: $s%.2f s")
    (path, s)
  }

  final class Servers(store: ObservationStore, tcp: Boolean) {
    val http = new QueryServer(store, 0, 3600000L, _ => ())
    http.start()
    val balboa: Option[BalboaTcpServer] =
      if (tcp) Some(new BalboaTcpServer(store, 0, statsIntervalMillis = 3600000L,
        statsSink = _ => ()))
      else None
    balboa.foreach(_.start())
    def client(): Ops.Client =
      new Ops.Client(http.boundPort, balboa.map(_.boundPort).getOrElse(-1))
    /** (queries, errors, bytes out) summed over both front ends. */
    def totals: (Long, Long, Long) = {
      val ts = Seq(http.stats.totals) ++ balboa.map(_.stats.totals)
      (ts.map(_("queries")).sum, ts.map(_("errors")).sum, ts.map(_("bytes_out")).sum)
    }
    def stop(): Unit = { balboa.foreach(_.stop()); http.stop() }
  }

  private def pointReaderCounters: Seq[Long] = Seq(
    PointReader.dictCacheHits.get, PointReader.dictCacheDecodes.get,
    PointReader.fanBucketsRead.get, PointReader.fanBucketsTotal.get)

  /** Every counter the traced phase reports as a delta. */
  final class Snapshot(r: Run, servers: Servers) {
    val t = System.nanoTime()
    val spark: Map[String, Long] = r.counters.snapshot
    val gc: (Long, Long) = Probes.gc()
    val serve: (Long, Long, Long) = servers.totals
    val reader: Seq[Long] = pointReaderCounters
  }

  /** Per-layer counter deltas between `a` and now. */
  def deltas(r: Run, a: Snapshot, servers: Servers): Unit = {
    val b = new Snapshot(r, servers)
    val wallS = (b.t - a.t) / 1e9
    def d(k: String) = (b.spark(k) - a.spark(k)).toDouble
    r.put("spark.jobs", d("jobs"), "count")
    r.put("spark.tasks", d("tasks"), "count")
    r.put("spark.shuffle_write_mb", d("shuffle_write") / 1048576.0, "MB")
    r.put("spark.spill_mb", d("spill") / 1048576.0, "MB")
    r.put("spark.task_busy_frac", d("run_ms") / (wallS * 1000.0 * Cores), "ratio")
    r.put("jvm.gc_count", (b.gc._1 - a.gc._1).toDouble, "count")
    r.put("jvm.gc_ms_per_s", (b.gc._2 - a.gc._2) / wallS, "ms/s")
    val q = b.serve._1 - a.serve._1
    r.put("serve.errors", (b.serve._2 - a.serve._2).toDouble, "count")
    r.put("serve.bytes_out_per_req",
      if (q > 0) (b.serve._3 - a.serve._3).toDouble / q else 0.0, "B")
    val Seq(hits, decodes, fanRead, fanTotal) =
      b.reader.zip(a.reader).map { case (x, y) => (x - y).toDouble }
    r.put("pointreader.dict_hit_frac",
      if (hits + decodes > 0) hits / (hits + decodes) else 0.0, "ratio")
    r.put("pointreader.dict_decodes", decodes, "count")
    r.put("pointreader.prefix_fan_read_frac",
      if (fanTotal > 0) fanRead / fanTotal else 0.0, "ratio")
  }

  /** On-disk bytes of both copies per live entry, and parquet files per
    * bucket directory. */
  def storeShape(r: Run, path: String): Unit = {
    r.log("checked; measuring store shape")
    // live entries = forward-copy rows, summed from the parquet footers
    val conf = r.spark.sparkContext.hadoopConfiguration
    val entries = Probes.files(new File(path, "by_rrname"), ".parquet").map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getRecordCount finally reader.close()
    }.sum
    val (bytes, _) = Probes.du(new File(path))
    val (_, files) = Probes.du(new File(path), ".parquet")
    r.put("store_bytes_per_entry", bytes.toDouble / entries, "B")
    r.put("store.files_per_bucket", files.toDouble / (2 * NumBuckets), "count")
    r.context("store_entries") = entries
  }

  /** Closed-loop phase with counters; end-to-end figures under `prefix`. */
  def e2e(r: Run, res: Load.Result, prefix: String = ""): Unit = {
    val lat = res.latMs
    val tsv = new StringBuilder("client\tstart_ms\tlatency_ms\n")
    for ((c, k) <- res.clients.zipWithIndex; i <- c.latNs.indices)
      tsv.append(f"$k\t${c.startNs(i) / 1e6}%.3f\t${c.latNs(i) / 1e6}%.3f\n")
    java.nio.file.Files.write(new File(r.out, s"${prefix}latencies.tsv").toPath,
      tsv.toString.getBytes("UTF-8"))
    r.put(prefix + "qps", res.qps, "req/s")
    r.put(prefix + "p50_ms", Load.pct(lat, 0.50), "ms")
    // p95, or the highest percentile below it that leaves ten requests
    // beyond it. Not p99: on `lookup` the HTTP requests (~44 ms each) are
    // 1-2 % of all requests, so a p99 flips between the HTTP and the TCP
    // latencies as the TCP readers' rate moves with the machine's speed.
    val tailPct = math.max(0.5, math.min(0.95, 1.0 - 10.0 / math.max(1, lat.length)))
    r.put(prefix + "tail_ms", Load.pct(lat, tailPct), "ms")
    r.context(prefix + "requests") = res.attempted
    r.context(prefix + "tail_pct") = tailPct * 100
    r.attempted += res.attempted
    r.failed += res.failed
    res.clients.map(_.firstError).filter(_ != null).take(3)
      .foreach(e => r.problem(s"request failed: $e"))
  }

  /** Runs the read load for the run's length. Untraced: the whole length
    * gives the end-to-end figures. Traced: the first half is untraced (the
    * baseline for the overhead), the second half records a span per
    * request and brackets the counters. */
  def measure(r: Run, servers: Servers, streams: Seq[Array[Ops.Op]],
      offset: Int, keep: Boolean)(during: Double => Unit): Load.Result = {
    val offs = streams.map(_ => offset)
    // readers keep going until the background work (a commit in flight)
    // has ended, so the whole phase is measured under the same mix
    def go(seconds: Double, trace: Boolean) = {
      val busy = new java.util.concurrent.atomic.AtomicBoolean(true)
      val bg = new Thread(() => try during(seconds) finally busy.set(false),
        "perfbench-background")
      bg.start()
      val res = Load.run(streams, offs, () => servers.client(), seconds,
        if (keep) KeepEvery else 0, KeepMax, trace, () => busy.get)
      bg.join()
      res
    }
    if (!r.trace) {
      val res = go(r.seconds, trace = false)
      r.put("heap_live_mb", Probes.liveHeapMb(), "MB")
      e2e(r, res)
      res
    } else {
      val a = go(r.seconds / 2, trace = false)
      e2e(r, a, "untraced.")
      val snap = new Snapshot(r, servers)
      val b = go(r.seconds / 2, trace = true)
      deltas(r, snap, servers)
      e2e(r, b, "traced.")
      b.spans.foreach(s => r.span(r.newId(), s.route, 0L, s.id, s.start, s.end))
      for (m <- Seq("qps", "p50_ms", "tail_ms")) {
        val (ua, tb) = (r.metrics(s"untraced.$m")._1, r.metrics(s"traced.$m")._1)
        r.put(s"trace.overhead_$m", if (ua > 0) tb / ua - 1.0 else 0.0, "ratio")
      }
      b
    }
  }

  private def closeWarm(r: Run, servers: Servers, streams: Seq[Array[Ops.Op]],
      seconds: Double): Unit = {
    val w = Load.run(streams, streams.map(_ => 0), () => servers.client(), seconds)
    r.log(f"warm-up: ${w.attempted} requests, ${w.failed} failed")
    if (w.failed > 0) w.clients.map(_.firstError).filter(_ != null).take(1)
      .foreach(e => r.problem(s"warm-up request failed: $e"))
  }

  // ----------------------------------------------------------- replays

  private def med(xs: Iterable[Double]): Double = Load.median(xs.toSeq)

  /** Replays `ops` one at a time at each layer boundary, outermost first,
    * and reports the per-layer medians and self times. */
  def replayPoints(r: Run, servers: Servers, store: ObservationStore,
      ops: Seq[Ops.Op]): Unit = {
    val client = servers.client()
    val durs = mutable.Map[String, ArrayBuffer[Double]]()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    var lookupRows = 0L
    var lookups = 0L
    def lookup(parent: Long, req: Long, under: String)(f: => Option[Seq[_]]): Unit = {
      val v = r.timed(durs, s"pointreader.lookup<$under", parent, req)(_ => f)
      lookupRows += v.map(_.size).getOrElse(0)
      lookups += 1
    }
    try ops.zipWithIndex.foreach { case (op, i) =>
      val req = (1L << 40) | i
      val top = r.timed(durs, op.route, 0L, req) { id =>
        client.exec(op, keep = false); id }
      // the in-process layers of the same request, outermost first; each
      // replayed span names the layer that calls it as its parent
      op match {
        case Ops.GqlRdata(d, _) =>
          val q = s"""query(${"$"}d: String) { entries(rdata: ${"$"}d) { ${Ops.GqlFields} } }"""
          val vars = mapper.createObjectNode().put("d", d)
          val g = r.timed(durs, "graphql.execute", top, req) { id =>
            Graphql.execute(q, Some(vars), store); id }
          lookup(g, req, "graphql")(store.servePointRows(rdata = Some(d)))
        case Ops.Rest(s, _) =>
          r.timed(durs, "rest.points", top, req) { id =>
            lookup(id, req, "rest")(store.servePoint(rrname = Some(s)))
            lookup(id, req, "rest")(store.servePoint(rdata = Some(s)))
          }
        case Ops.Prefix(p) =>
          r.timed(durs, "pointreader.prefix", top, req)(_ => store.servePrefix(p))
        case Ops.TcpName(n, _) =>
          lookup(top, req, "tcp")(store.servePointRows(rrname = Some(n)))
        case Ops.TcpData(d, _) =>
          lookup(top, req, "tcp")(store.servePointRows(rdata = Some(d)))
        case _: Ops.Cidr => ()
      }
    } finally client.close()

    def m(k: String) = durs.get(k).map(med).getOrElse(0.0)
    def all(pred: String => Boolean) = durs.filter(kv => pred(kv._1)).values.flatten
    val httpOuter = all(k => k == "http.graphql" || k == "http.rest" || k == "http.prefix")
    val httpInner = all(k => k == "graphql.execute" || k == "rest.points" ||
      k == "pointreader.prefix")
    if (httpOuter.nonEmpty)
      r.put("serve.http_self_ms_p50", med(httpOuter) - med(httpInner), "ms")
    if (durs.contains("tcp.query"))
      r.put("serve.tcp_self_ms_p50", m("tcp.query") - m("pointreader.lookup<tcp"), "ms")
    if (durs.contains("graphql.execute"))
      r.put("serve.graphql_ms_p50",
        m("graphql.execute") - m("pointreader.lookup<graphql"), "ms")
    val lk = all(_.startsWith("pointreader.lookup")).toArray.sorted
    r.put("pointreader.lookup_ms_p50", Load.pct(lk, 0.5), "ms")
    r.put("pointreader.lookup_ms_p99", Load.pct(lk, 0.99), "ms")
    r.put("pointreader.prefix_ms_p50", m("pointreader.prefix"), "ms")
    r.put("pointreader.rows_per_lookup",
      if (lookups > 0) lookupRows.toDouble / lookups else 0.0, "rows")
    selfTable(r, durs, Map(
      "http.graphql" -> Seq("graphql.execute"),
      "graphql.execute" -> Seq("pointreader.lookup<graphql"),
      "http.rest" -> Seq("rest.points"),
      "rest.points" -> Seq("pointreader.lookup<rest", "pointreader.lookup<rest"),
      "http.prefix" -> Seq("pointreader.prefix"),
      "tcp.query" -> Seq("pointreader.lookup<tcp")))
  }

  /** Writes the self-time table: per layer, samples, median and median
    * minus the medians of its direct children. */
  def selfTable(r: Run, durs: mutable.Map[String, ArrayBuffer[Double]],
      children: Map[String, Seq[String]]): Unit = {
    val lines = durs.keys.toSeq.sorted.map { k =>
      val m = med(durs(k))
      val self = m - children.getOrElse(k, Nil)
        .map(c => durs.get(c).map(med).getOrElse(0.0)).sum
      f"$k%-30s ${durs(k).size}%6d ${m}%10.3f ${self}%10.3f"
    }
    val text = (f"${"layer"}%-30s ${"n"}%6s ${"p50_ms"}%10s ${"self_ms"}%10s" +: lines)
      .mkString("\n") + "\n"
    java.nio.file.Files.write(new File(r.out, "self_time.txt").toPath,
      text.getBytes("UTF-8"))
    r.log("self-time table\n" + text)
  }

  private object PlanHelper extends AdaptiveSparkPlanHelper

  /** Replays CIDR blocks through HTTP, then through `cidrQuery` phase by
    * phase on the DataFrame's own QueryExecution. */
  def replayCidr(r: Run, servers: Servers, store: ObservationStore,
      ops: Seq[Ops.Cidr]): Unit = {
    val client = servers.client()
    val durs = mutable.Map[String, ArrayBuffer[Double]]()
    var jobs, tasks, scanRows, results, files = 0.0
    try ops.zipWithIndex.foreach { case (op, i) =>
      val req = (2L << 40) | i
      val http = r.timed(durs, "http.cidr", 0L, req) { id =>
        client.exec(op, keep = false); id }
      val c0 = r.counters.snapshot
      val (qe, n) = r.timed(durs, "plan.total", http, req) { top =>
        // cidrQuery builds, and so analyzes, the DataFrame
        val df = r.timed(durs, "plan.analyze", top, req)(_ =>
          store.cidrQuery(op.block, Ops.Limit))
        val qe = df.queryExecution
        r.timed(durs, "plan.optimize", top, req)(_ => qe.optimizedPlan)
        r.timed(durs, "plan.physical", top, req)(_ => qe.executedPlan)
        val n = r.timed(durs, "plan.execute", top, req) { _ =>
          val it = df.toLocalIterator()
          var k = 0
          while (it.hasNext) { it.next(); k += 1 }
          k
        }
        (qe, n)
      }
      val c1 = r.counters.snapshot
      jobs += c1("jobs") - c0("jobs")
      tasks += c1("tasks") - c0("tasks")
      val scans = PlanHelper.collect(qe.executedPlan) { case s: FileSourceScanExec => s }
      scanRows += scans.map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
      files += scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      results += n
    } finally client.close()
    def m(k: String) = durs.get(k).map(med).getOrElse(0.0)
    val n = ops.size.toDouble
    r.put("plan.analyze_ms_p50", m("plan.analyze"), "ms")
    r.put("plan.optimize_ms_p50", m("plan.optimize"), "ms")
    r.put("plan.physical_ms_p50", m("plan.physical"), "ms")
    r.put("plan.execute_ms_p50", m("plan.execute"), "ms")
    r.put("plan.jobs_per_query", jobs / n, "count")
    r.put("plan.tasks_per_query", tasks / n, "count")
    r.put("plan.scan_rows_per_result", if (results > 0) scanRows / results else 0.0, "ratio")
    r.put("plan.files_read_per_query", files / n, "count")
    r.put("serve.http_self_ms_p50", m("http.cidr") - m("plan.total"), "ms")
    selfTable(r, durs, Map(
      "http.cidr" -> Seq("plan.total"),
      "plan.total" -> Seq("plan.analyze", "plan.optimize", "plan.physical", "plan.execute")))
  }

  // ------------------------------------------------------------ checks

  def ts(v: Any): Long = v match {
    case t: java.sql.Timestamp => Math.floorDiv(t.getTime, 1000L)
    case i: java.time.Instant => i.getEpochSecond
    case l: java.lang.Long => Math.floorDiv(l.longValue, 1000000L)
  }

  def lines(rows: Iterable[Row]): Vector[String] = rows.map { x =>
    Ops.line(x.getAs[String]("rrname"), x.getAs[String]("sensor_id"),
      x.getAs[String]("rrtype"), x.getAs[String]("rdata"), x.getAs[Long]("count"),
      ts(x.getAs[Any]("first_seen")), ts(x.getAs[Any]("last_seen")))
  }.toVector.sorted

  /** Kept answers against the plan-path answer for the same request. */
  def checkPoints(r: Run, store: ObservationStore, kept: Seq[Load.Kept]): Unit = {
    r.log("measured; checking answers")
    kept.foreach { case Load.Kept(op, got) =>
      val want = lines(op match {
        case Ops.GqlRdata(d, _) => store.entries(rdata = Some(d)).collect()
        case Ops.Rest(s, _) => store.restQuery(s).collect()
        case Ops.Prefix(p) => store.entriesPrefix(p).collect()
        case Ops.TcpName(n, _) => store.entries(rrname = Some(n)).collect()
        case Ops.TcpData(d, _) => store.entries(rdata = Some(d)).collect()
        case c: Ops.Cidr => throw new IllegalArgumentException(c.toString)
      })
      if (got != want) {
        r.failed += 1
        r.problem(s"$op: ${got.size} rows differ from the plan path's ${want.size}")
      }
    }
    r.context("answers_checked") = kept.size
  }

  /** Kept CIDR answers against a filter on the generator's aggregate:
    * equal for selective blocks; for broad blocks, exactly the limit of
    * distinct rows, all from the block. */
  def checkCidr(r: Run, kept: Seq[Load.Kept]): Unit = {
    r.log("measured; checking answers")
    if (kept.isEmpty) return
    val bounds = kept.map(k => Net.cidrBounds(k.op.asInstanceOf[Ops.Cidr].block)).distinct
    val agg = ObservationStore.aggregate(Gen.base(r.spark, r.seed))
      .withColumn("ip", Net.ip_to_long(col("rdata")))
    val inAny = bounds.map { case (lo, hi) => col("ip").between(lo, hi) }.reduce(_ || _)
    val rows = agg.filter(inAny).collect()
    kept.foreach { case Load.Kept(op @ Ops.Cidr(block, broad), got) =>
      val (lo, hi) = Net.cidrBounds(block)
      val want = lines(rows.filter { x => val ip = x.getAs[Long]("ip"); ip >= lo && ip <= hi })
      val ok =
        if (!broad) got == want
        else got.size == Ops.Limit && got.distinct.size == got.size &&
          got.forall(want.toSet)
      if (!ok) {
        r.failed += 1
        r.problem(s"$op: ${got.size} rows do not match the aggregate's ${want.size}")
      }
    case _ => ()
    }
    r.context("answers_checked") = kept.size
  }

  // --------------------------------------------------------- workloads

  def sampleOps(streams: Seq[Array[Ops.Op]], offset: Int, n: Int): Seq[Ops.Op] =
    (0 until n).map { i =>
      val ops = streams(i % streams.size)
      ops((offset + 7919 * (i / streams.size)) % ops.length)
    }

  def pointStreams(seed: Long, kinds: Seq[String]): Seq[Array[Ops.Op]] = {
    val names = new Gen.Zipf(Gen.Names, 0.99)
    val rows = new Gen.Zipf(Gen.Rows, 0.99)
    kinds.zipWithIndex.map { case (k, c) =>
      Ops.pointStream(seed, c, k, StreamLen, names, rows) }
  }

  /** Measured requests start here; the warm-up walks the streams from 0. */
  val Offset = StreamLen / 2

  def lookup(r: Run): Unit = {
    val t0 = System.nanoTime()
    val (path, build) = buildStore(r)
    val store = ObservationStore.load(r.spark, path)
    val servers = new Servers(store, tcp = true)
    try {
      val streams = pointStreams(r.seed, Seq("gql", "rest", "tcp-name", "tcp-data"))
      // the TCP readers' rate climbs for ~6 s while the JIT compiles the
      // read path; measure the plateau
      closeWarm(r, servers, streams, 6.0)
      setupDone(r, build, t0)
      val res = measure(r, servers, streams, Offset, keep = true)(_ => ())
      checkPoints(r, store, res.kept)
      if (r.trace) replayPoints(r, servers, store, sampleOps(streams, Offset, 160))
    } finally servers.stop()
    storeShape(r, path)
  }

  def cidr(r: Run): Unit = {
    val t0 = System.nanoTime()
    val (path, build) = buildStore(r)
    val store = ObservationStore.load(r.spark, path)
    val servers = new Servers(store, tcp = false)
    try {
      val streams = (0 until 4).map(c => Ops.cidrStream(r.seed, c, StreamLen))
      // latency falls for ~10 s while the JIT compiles the scan and plan
      // path; measure the plateau
      closeWarm(r, servers, streams, 10.0)
      setupDone(r, build, t0)
      val res = measure(r, servers, streams, Offset, keep = true)(_ => ())
      checkCidr(r, res.kept)
      if (r.trace)
        replayCidr(r, servers, store,
          sampleOps(streams, Offset, 8).map(_.asInstanceOf[Ops.Cidr]))
    } finally servers.stop()
    storeShape(r, path)
  }

  /** Set-up is everything before the measured phase except the JVM and
    * Spark session start: store build, input generation, server start and
    * warm-up. */
  private def setupDone(r: Run, build: Double, t0: Long): Unit = {
    r.log("set-up done")
    r.put("setup_s", (System.nanoTime() - t0) / 1e9, "s")
    r.put("store.build_s", build, "s")
  }

  val Tag = "perfbench-tagged"
  /** ~5 % of names (`n % 97` in 0..4) carry the tag. */
  val TagSelector = Selectors.RegexSelector(Seq("""\.z[0-4]\.example$"""), Seq(Tag))
  /** Batches generated per run: one per measured phase (two when traced). */
  val NumBatches = 2

  def ingestServe(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val t0 = System.nanoTime()
    val (path, build) = buildStore(r)
    val tagged = new File(r.work, "tagged").getAbsolutePath
    val sinks = Seq(IngestPipeline.Sink("all", None, path),
      IngestPipeline.Sink("tagged", Some(Tag), tagged))
    val batches = (0 until NumBatches).map(b => Eve.batch(r.seed, b))
    val raws = batches.map(b =>
      b.values.toSeq.zip(b.sensors).toDF("value", "sensor_id"))
    val store = ObservationStore.load(spark, path)
    val servers = new Servers(store, tcp = false)
    val committed = ArrayBuffer[Int]()
    val commitS = ArrayBuffer[Double]()
    var obsCommitted = 0L
    val layer = mutable.Map[String, ArrayBuffer[Double]]()
    def note(k: String, v: Double) = layer.getOrElseUpdate(k, ArrayBuffer()) += v
    val probeNames = pointStreams(r.seed, Seq("rest")).head.collect {
      case Ops.Rest(s, true) => s }

    // One commit: decode + processBatch, or, traced, the same steps one
    // layer at a time.
    def commit(b: Int, traced: Boolean): Unit = {
      val t = System.nanoTime()
      if (!traced)
        IngestPipeline.processBatch(spark,
          IngestPipeline.decode(raws(b), "suricata"), Seq(TagSelector), sinks,
          NumBuckets)
      else {
        val req = (3L << 40) | committed.size
        val top = r.newId()
        def rec[T](name: String)(f: => T): T = {
          val a = System.nanoTime(); val v = f; val e = System.nanoTime()
          r.span(r.newId(), name, top, req, a, e)
          note(name, (e - a) / 1e9)
          v
        }
        val decoded = rec("decoders") {
          val d = IngestPipeline.decode(raws(b), "suricata").localCheckpoint(true)
          d.count(); d
        }
        val n = decoded.count().toDouble
        note("decoders.rows", n)
        note("decoders.payloads", batches(b).values.length)
        val taggedDf = rec("selectors")(
          Selectors.engine(decoded, Seq(TagSelector)).localCheckpoint(true))
        note("selectors.tagged", Selectors.routeTo(taggedDf, Some(Tag)).count() / n)
        sinks.foreach { sink =>
          val obs = Selectors.routeTo(taggedDf, sink.tag).select(
            col("rrname"), col("sensor_id"), col("rrtype"), col("rdata"),
            col("count"), col("timestamp_start"), col("timestamp_end"))
          if (sink.path != path)
            ObservationStore.mergeBatch(spark, sink.path, obs, NumBuckets)
          else {
            val agg = ObservationStore.aggregate(obs).persist()
            rec("store.aggregate")(agg.count())
            val aggDir = new File(r.work, s"batch-agg-${committed.size}")
            agg.write.parquet(aggDir.getAbsolutePath)
            agg.unpersist()
            val staging = rec("store.stage")(
              ObservationStore.stageMerge(spark, path, obs, NumBuckets))
            val touched = Option(new File(staging, "by_rrname").list())
              .map(_.count(_.startsWith("bucket="))).getOrElse(0)
            note("store.touched", touched.toDouble / NumBuckets)
            note("store.write_amp", Probes.du(new File(staging))._1.toDouble /
              Probes.du(aggDir)._1)
            rec("store.apply")(ObservationStore.applyStagedMerge(spark, path, staging))
          }
        }
        taggedDf.unpersist()
        decoded.unpersist()
      }
      val tEnd = System.nanoTime()
      val s = (tEnd - t) / 1e9
      if (traced) r.span(r.newId(), "ingest.commit", 0L, (3L << 40) | committed.size, t, tEnd)
      committed += b
      commitS += s
      obsCommitted += batches(b).obs
      if (traced) {
        // cold reader: a freshly loaded store lists, reads footers and
        // decodes dictionaries from scratch after the commit
        val fresh = ObservationStore.load(spark, path)
        val name = probeNames(committed.size % probeNames.length)
        val a = System.nanoTime()
        fresh.servePoint(rrname = Some(name))
        note("first_lookup_ms", (System.nanoTime() - a) / 1e6)
      }
    }

    // One commit per measured phase; the readers run for the phase length
    // or until the commit ends, whichever is later. A loop of commits
    // until the deadline would make the phase one commit or two depending
    // on whether the first ends just before or just after it.
    def writer(traced: Boolean): Unit = {
      val (c0, s0) = (commitS.size, obsCommitted)
      commit(committed.size % NumBatches, traced)
      val wall = commitS.drop(c0).sum
      val pre = if (!r.trace) "" else if (traced) "traced." else "untraced."
      r.context(pre + "commits") = commitS.size - c0
      r.put(pre + "ingest.obs_per_s", (obsCommitted - s0) / wall, "obs/s")
      r.put(pre + "ingest.commit_p50_s", Load.median(commitS.drop(c0).toSeq), "s")
    }

    try {
      val streams = pointStreams(r.seed, Seq("gql", "rest"))
      closeWarm(r, servers, streams, 2.0)
      setupDone(r, build, t0)
      var phase = 0
      measure(r, servers, streams, Offset, keep = false) { _ =>
        phase += 1
        writer(traced = r.trace && phase == 2)
      }
      if (r.trace) {
        replayPoints(r, servers, store, sampleOps(streams, Offset, 80))
        def m(k: String) = layer.get(k).map(xs => Load.median(xs.toSeq)).getOrElse(0.0)
        val decS = layer.getOrElse("decoders", ArrayBuffer()).sum
        r.put("decoders.rows_per_s",
          if (decS > 0) layer("decoders.rows").sum / decS else 0.0, "rows/s")
        r.put("decoders.yield_frac", layer.get("decoders.rows").map(_.sum).getOrElse(0.0) /
          math.max(1.0, layer.get("decoders.payloads").map(_.sum).getOrElse(0.0)), "ratio")
        r.put("selectors.engine_s_per_batch", m("selectors"), "s")
        r.put("selectors.tagged_frac", m("selectors.tagged"), "ratio")
        r.put("store.aggregate_s_per_batch", m("store.aggregate"), "s")
        r.put("store.stage_s_per_batch", m("store.stage"), "s")
        r.put("store.apply_s_per_batch", m("store.apply"), "s")
        r.put("store.buckets_touched_frac", m("store.touched"), "ratio")
        r.put("store.write_amp", m("store.write_amp"), "ratio")
        r.put("pointreader.first_lookup_after_commit_ms", m("first_lookup_ms"), "ms")
        for (k <- Seq("ingest.obs_per_s", "ingest.commit_p50_s")) {
          val (ua, tb) = (r.metrics(s"untraced.$k")._1, r.metrics(s"traced.$k")._1)
          r.put(k, ua, r.metrics(s"untraced.$k")._2)
          r.put(s"trace.overhead_${k.stripPrefix("ingest.")}",
            if (ua > 0) tb / ua - 1.0 else 0.0, "ratio")
        }
      }
    } finally servers.stop()
    r.context("batches_committed") = committed.size
    r.context("obs_committed") = obsCommitted
    checkIngest(r, path, tagged, raws, batches, committed.toSeq)
    storeShape(r, path)
  }

  /** Both copies of the served store hold aggregate(base ∪ every decoded
    * batch), and both copies of the tagged sink hold the aggregate of the
    * tagged observations; each decoded batch yields the generator's
    * observation count. Compared by entry count and an order-free
    * checksum over every column. */
  def checkIngest(r: Run, path: String, tagged: String, raws: Seq[DataFrame],
      batches: Seq[Eve.Batch], committed: Seq[Int]): Unit = {
    r.log("measured; checking store contents")
    val spark = r.spark
    val obsCols = Seq("rrname", "sensor_id", "rrtype", "rdata", "count",
      "timestamp_start", "timestamp_end").map(col)
    // decode each committed batch once (cached): its count checks the
    // decoder's yield, and both expected aggregates reuse it
    val decoded = committed.distinct.map { b =>
      val d = IngestPipeline.decode(raws(b), "suricata").select(obsCols: _*).persist()
      val n = d.count()
      if (n != batches(b).obs)
        r.problem(s"batch $b decoded to $n observations, generated ${batches(b).obs}")
      b -> d
    }.toMap
    val ingested = committed.map(decoded).reduce(_ unionAll _)
    val base = Gen.base(spark, r.seed).select(col("rrname"), col("sensor_id"),
      col("rrtype"), col("rdata"), col("count"), col("ts").as("timestamp_start"),
      col("ts").as("timestamp_end"))
    val cols = Model.Key ++ Seq("count", "first_seen", "last_seen")
    def checksum(df: DataFrame): (Long, Long) = {
      val row = df.select(cols.map(col): _*)
        .agg(count(lit(1)), sum(pmod(xxhash64(cols.map(col): _*), lit(1000000007L))))
        .head()
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    }
    def compare(label: String, storePath: String, want: DataFrame): Unit = {
      val expect = checksum(ObservationStore.aggregate(want))
      val s = ObservationStore.load(spark, storePath)
      for ((copy, df) <- Seq("forward" -> s.forward, "inverted" -> s.inverted)) {
        val got = checksum(df)
        if (got != expect) {
          r.failed += 1
          r.problem(s"$label $copy copy: (entries, checksum) $got, expected $expect")
        }
      }
    }
    compare("served store", path, base.unionAll(ingested))
    compare("tagged sink", tagged, Selectors.routeTo(
      Selectors.engine(ingested, Seq(TagSelector)), Some(Tag)).select(obsCols: _*))
    decoded.values.foreach(_.unpersist())
    r.attempted += committed.size
  }
}
