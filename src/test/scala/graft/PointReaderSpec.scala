package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.operators.ObservationStore

/** The fast-path contract: `servePoint` (driver-local parquet reader)
  * must return exactly what `entries` (the Spark plan path) returns on
  * the same disk store — same rows, same types — across access paths,
  * residual filters, limits, misses, and store mutation (merge/expire
  * epoch bumps invalidating the cached bucket→file map). */
class PointReaderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def freshStore(): (String, ObservationStore) = {
    val input = Seq(
      ("foo", "abc", "A", "1.2.3.4", 4L, ts("2018-01-01 00:00:00")),
      ("foo", "abc", "A", "1.2.3.4", 6L, ts("2018-06-01 00:00:00")),
      ("foo", "xyz", "A", "1.2.3.4", 2L, ts("2018-02-01 00:00:00")),
      ("foo", "abc", "AAAA", "::1", 1L, ts("2018-03-01 00:00:00")),
      ("bar", "abc", "A", "1.2.3.5", 10L, ts("2018-03-01 00:00:00")),
      ("baz", "abc", "A", "1.2.3.4", 1L, ts("2018-04-01 00:00:01.123456"))
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-pr").toString
    ObservationStore.writeDual(ObservationStore.aggregate(input), dir,
      numBuckets = 8)
    (dir, ObservationStore.load(spark, dir))
  }

  private def sortedSet(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq).sortBy(_.mkString("\u0001"))

  private def assertSame(store: ObservationStore,
      rrname: Option[String] = None, rdata: Option[String] = None,
      rrtype: Option[String] = None, sensorId: Option[String] = None,
      limit: Int = 1000): Unit = {
    val fast = store.servePointRows(rrname, rdata, rrtype, sensorId, limit)
    assert(fast.isDefined, "fast path should be available on a disk store")
    val plan = store.entries(rrname, rdata, rrtype, sensorId, limit).collect()
    assert(sortedSet(fast.get) == sortedSet(plan.toSeq),
      s"fast=${fast.get} plan=${plan.toSeq}")
  }

  test("servePoint matches entries across access paths and residuals") {
    val (_, store) = freshStore()
    assertSame(store, rrname = Some("foo"))              // forward, 3 rows
    assertSame(store, rdata = Some("1.2.3.4"))           // inverted, 3 rows
    assertSame(store, rrname = Some("foo"), rrtype = Some("A"))
    assertSame(store, rrname = Some("foo"), sensorId = Some("xyz"))
    assertSame(store, rrname = Some("foo"), rdata = Some("1.2.3.4"),
      rrtype = Some("A"), sensorId = Some("abc"))        // fully pinned
    assertSame(store, rrname = Some("nonexistent"))      // miss
    assertSame(store, rdata = Some("9.9.9.9"))           // miss
    intercept[IllegalArgumentException](store.servePoint())
  }

  test("servePrefix matches the entriesPrefix plan scan") {
    val (_, store) = freshStore()
    def assertPrefix(prefix: String): Unit = {
      val fast = store.servePrefix(prefix, limit = Int.MaxValue)
      assert(fast.isDefined)
      val plan = store.entriesPrefix(prefix, limit = Int.MaxValue)
        .collect().toSeq
      assert(
        sortedSet(fast.get.map(o => Row(o.rrname, o.sensor_id, o.rrtype,
          o.rdata, o.count, o.first_seen, o.last_seen))) ==
          sortedSet(plan),
        s"prefix=$prefix fast=${fast.get} plan=$plan")
    }
    assertPrefix("ba")   // bar + baz, two buckets
    assertPrefix("foo")  // exact name as prefix
    assertPrefix("f")    // all the foo rows
    assertPrefix("zzz")  // miss
    assertPrefix("b")    // multi-bucket fan
    intercept[IllegalArgumentException](store.servePrefix(""))
    // limit respected
    assert(store.servePrefix("f", limit = 2).get.size == 2)
  }

  test("serveCidr matches the cidrQuery plan: v4, v6, non-IP, limits, merge") {
    val t = ts("2020-01-01 00:00:00")
    // every rdata spelling the two persisted parsers accept or reject
    val spelled = Seq(
      "10.0.0.1", "10.0.0.2", "10.0.0.255", "9.255.255.255", "11.0.0.1",
      "010.0.0.3", "10.00.1.7",                 // leading-zero IPv4
      "10.0.0.1.example", "ns1.example", "10.0.0", // not IPv4
      "2001:db8:0:0:0:0:0:1", "2001:0db8:0000:0000:0000:0000:0000:0002",
      "2001:db8::3", "2001:DB8::ff", "::1",     // full and :: forms
      "::ffff:10.0.0.9")                        // v4-mapped v6
    // 300 addresses in 10.1.0.0/16, enough for a binding limit
    val bulk = (0 until 300).map(i => s"10.1.${i / 200}.${i % 200}")
    val input = (spelled ++ bulk).zipWithIndex.flatMap { case (d, i) =>
      Seq((s"n$i.example", "s1", "A", d, 1L, t),
        (s"m$i.example", "s2", "A", d, 2L, t))
    }.toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-cidr").toString
    ObservationStore.writeDual(ObservationStore.aggregate(input), dir,
      numBuckets = 8)
    val store = ObservationStore.load(spark, dir)
    def rows(obs: Seq[graft.model.Observation]): Seq[Seq[Any]] =
      sortedSet(obs.map(o => Row(o.rrname, o.sensor_id, o.rrtype, o.rdata,
        o.count, o.first_seen, o.last_seen)))
    def plan(s: ObservationStore, block: String): Seq[Seq[Any]] =
      sortedSet(s.cidrQuery(block, limit = Int.MaxValue).collect().toSeq)
    def assertCidr(block: String, expect: Int): Unit = {
      val fast = rows(store.serveCidr(block, limit = Int.MaxValue).get)
      assert(fast == plan(store, block), s"block=$block")
      assert(fast.size == expect, s"block=$block: ${fast.size} rows")
    }
    assertCidr("0.0.0.0/0", 2 * (7 + 300)) // every IPv4 spelling, no v6
    assertCidr("10.0.0.0/24", 2 * 4)   // .1 .2 .255 and 010.0.0.3
    assertCidr("10.0.0.1/32", 2)       // not 10.0.0.1.example
    assertCidr("10.0.0.3/32", 2)       // 010.0.0.3
    assertCidr("10.0.1.0/24", 2)       // 10.00.1.7
    assertCidr("::/0", 2 * 6)          // every IPv6 spelling, no v4
    assertCidr("2001:db8::/32", 2 * 4)
    assertCidr("2001:db8::ff/128", 2)  // upper-case hex
    assertCidr("2001:db8:0:0:0:0:0:2/128", 2)
    assertCidr("::ffff:0:0/96", 2)     // the v4-mapped address
    assertCidr("192.168.0.0/16", 0)
    assertCidr("fe80::/10", 0)
    // a binding limit: exactly `limit` distinct rows, all from the block
    val all = plan(store, "10.1.0.0/16").toSet
    assert(all.size == 600)
    for (limit <- Seq(1, 50, 599)) {
      val got = rows(store.serveCidr("10.1.0.0/16", limit).get)
      assert(got.size == limit && got.distinct.size == limit, s"limit=$limit")
      assert(got.forall(all), s"limit=$limit")
    }
    assert(rows(store.serveCidr("10.1.0.0/16", 600).get).toSet == all)
    // malformed blocks throw what cidrQuery throws
    intercept[IllegalArgumentException](store.serveCidr("10.0.0.0/33"))
    intercept[IllegalArgumentException](store.serveCidr("::g/64"))
    intercept[MatchError](store.serveCidr("10.0.0.0"))
    // a merge advancing the epoch is served after the refresh
    val batch = Seq(
      ("late.example", "s1", "A", "10.0.0.77", 1L, t, t),
      ("late6.example", "s1", "AAAA", "2001:db8::77", 1L, t, t),
      ("n0.example", "s1", "A", "10.0.0.1", 5L, t, t)
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
      "timestamp_start", "timestamp_end")
    ObservationStore.mergeBatch(spark, dir, batch, numBuckets = 8)
    Thread.sleep(graft.operators.PointReader.EpochCheckMillis + 100)
    val re = ObservationStore.load(spark, dir)
    for (block <- Seq("10.0.0.0/24", "2001:db8::/32")) {
      val fast = rows(store.serveCidr(block, limit = Int.MaxValue).get)
      assert(fast == plan(re, block), s"after merge, block=$block")
    }
    assert(store.serveCidr("10.0.0.0/24").get.size == 2 * 4 + 1)
    assert(store.serveCidr("10.0.0.1/32").get.map(_.count).sorted ==
      Seq(2L, 6L))
    // an in-memory store has no readers: nothing is served
    assert(ObservationStore.inMemory(ObservationStore.aggregate(input))
      .serveCidr("10.0.0.0/8").isEmpty)
  }

  test("multi-page buckets: column-index filtering keeps rows aligned") {
    // Force MANY pages per bucket file (row-count limit 50) so the
    // column-index filter actually prunes pages and the record reader
    // must synchronize row positions across columns mid-row-group —
    // the alignment a single-page store never exercises. 2000 keys
    // across 4 buckets ≈ 10 pages per column chunk.
    val input = spark.range(2000).selectExpr(
      "concat('name-', lpad(cast(id as string), 6, '0')) as rrname",
      "cast(id % 3 as string) as sensor_id",
      "'A' as rrtype",
      "concat('addr-', cast(id % 701 as string)) as rdata",
      "1L as count",
      "timestamp'2020-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) as ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-mp").toString
    val prev = spark.conf.getOption("spark.hadoop.parquet.page.row.count.limit")
    spark.conf.set("spark.hadoop.parquet.page.row.count.limit", "50")
    try ObservationStore.writeDual(ObservationStore.aggregate(input), dir,
      numBuckets = 4)
    finally prev match {
      case Some(v) => spark.conf.set("spark.hadoop.parquet.page.row.count.limit", v)
      case None => spark.conf.unset("spark.hadoop.parquet.page.row.count.limit")
    }
    val store = ObservationStore.load(spark, dir)
    // point hits in the middle of the key range (mid-file pages)
    for (k <- Seq("name-000000", "name-000999", "name-001357", "name-001999")) {
      val fast = store.servePointRows(rrname = Some(k)).get
      val plan = store.entries(rrname = Some(k)).collect().toSeq
      assert(sortedSet(fast) == sortedSet(plan), s"key=$k")
      assert(plan.nonEmpty, s"key=$k should exist")
    }
    // inverted copy too (rdata residuals cross pages)
    val fastInv = store.servePointRows(rdata = Some("addr-42")).get
    val planInv = store.entries(rdata = Some("addr-42")).collect().toSeq
    assert(sortedSet(fastInv) == sortedSet(planInv))
    assert(planInv.size == 2000 / 701 + (if (42 < 2000 % 701) 1 else 0))
    // prefix spanning several pages and buckets
    for (p <- Seq("name-0007", "name-00", "name-001999", "zzz")) {
      val fast = store.servePrefix(p, limit = Int.MaxValue).get
      val plan = store.entriesPrefix(p, limit = Int.MaxValue).collect().toSeq
      assert(fast.size == plan.size, s"prefix=$p")
      assert(sortedSet(fast.map(o => Row(o.rrname, o.sensor_id, o.rrtype,
        o.rdata, o.count, o.first_seen, o.last_seen))) == sortedSet(plan),
        s"prefix=$p")
    }
  }

  /** A store whose hot keys' rows cross page and row-group boundaries:
    * in each copy a 700-row key run sits behind 300 smaller keys' rows,
    * so it spans the 512-row page edge and the 800-row row-group edge
    * (`parquet.block.row.count.limit`). Every page repeats keys enough to
    * stay dictionary-encoded; `plainKeys` shrinks the dictionary page cap
    * so the key chunks fall back to plain pages instead. */
  private def boundaryStore(plainKeys: Boolean): (String, ObservationStore) = {
    val t = Timestamp.valueOf("2020-01-01 00:00:00")
    val hotName = (0 until 700).map(i => ("hot.example", s"s${i / 7}",
      if (i % 2 == 0) "A" else "AAAA", s"10.1.0.${i % 7}", 1L + i, t))
    val hotData = (0 until 700).map(i =>
      (f"r$i%04d.example", s"s${i % 3}", "A", "10.9.9.9", 2L, t))
    val filler = for (i <- 0 until 100; s <- Seq("s0", "s1", "s2"))
      yield Seq((f"a$i%04d.example", s, "A", s"10.2.0.$i", 3L, t),
        (f"z$i%04d.example", s, "TXT", s"10.99.0.$i", 4L, t))
    val input = (hotName ++ hotData ++ filler.flatten)
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-edge").toString
    val confs = Seq("parquet.block.row.count.limit" -> "800") ++
      (if (plainKeys) Seq("parquet.dictionary.page.size" -> "256") else Nil)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try ObservationStore.writeDual(ObservationStore.aggregate(input), dir,
      numBuckets = 1)
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
    (dir, ObservationStore.load(spark, dir))
  }

  /** Per row group of `copy`'s file: (rows, pages whose key range holds
    * `key`, whether the key chunk has plain pages). */
  private def keyLayout(dir: String, copy: String, keyCol: String,
      key: String): Seq[(Long, Int, Boolean)] = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, copy))
      .iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq
    assert(files.size == 1, files)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.toUri),
        new org.apache.hadoop.conf.Configuration()))
    def str(b: java.nio.ByteBuffer) =
      java.nio.charset.StandardCharsets.UTF_8.decode(b.duplicate()).toString
    try r.getFooter.getBlocks.asScala.toSeq.map { block =>
      val chunk = block.getColumns.asScala.find(_.getPath.toDotString == keyCol).get
      val ci = r.readColumnIndex(chunk)
      val pages = ci.getMinValues.asScala.zip(ci.getMaxValues.asScala)
        .count { case (lo, hi) => str(lo) <= key && key <= str(hi) }
      (block.getRowCount, pages, chunk.getEncodingStats.hasNonDictionaryEncodedPages)
    } finally r.close()
  }

  for (plainKeys <- Seq(false, true))
  test(s"columnar read across page and row-group edges (plain key pages: $plainKeys)") {
    import graft.operators.PointReader
    val (dir, store) = boundaryStore(plainKeys)
    // the layout the test relies on: each hot run spans two row groups,
    // and more than one page inside one of them
    for ((copy, keyCol, key) <- Seq(("by_rrname", "rrname", "hot.example"),
        ("by_rdata", "rdata", "10.9.9.9"))) {
      val layout = keyLayout(dir, copy, keyCol, key)
      assert(layout.count(_._2 > 0) >= 2, s"$copy $layout")
      assert(layout.exists(_._2 >= 2), s"$copy $layout")
      assert(layout.exists(_._3) == plainKeys, s"$copy $layout")
    }
    def rows(obs: Seq[graft.model.Observation]): Seq[Seq[Any]] =
      sortedSet(obs.map(o => Row(o.rrname, o.sensor_id, o.rrtype, o.rdata,
        o.count, o.first_seen, o.last_seen)))
    // point answers, with residuals that keep none, some and all rows
    val points = Seq(
      (Some("hot.example"), None, None, None, 700),
      (Some("hot.example"), None, Some("A"), None, 350),
      (Some("hot.example"), None, None, Some("s3"), 7),
      (Some("hot.example"), None, None, Some("nope"), 0),
      (Some("hot.example"), None, Some("TXT"), None, 0),
      (Some("hot.example"), Some("10.1.0.3"), None, Some("s3"), 1),
      (None, Some("10.9.9.9"), None, None, 700),
      (None, Some("10.9.9.9"), Some("A"), None, 700),
      (None, Some("10.9.9.9"), None, Some("s0"), 234),
      (None, Some("10.9.9.9"), Some("A"), Some("s1"), 233),
      (None, Some("10.9.9.9"), Some("TXT"), None, 0),
      (Some("a0099.example"), None, None, None, 3),
      (Some("z0050.example"), None, None, None, 3),
      (Some("missing.example"), None, None, None, 0),
      (None, Some("10.2.0.49"), None, None, 3))
    for ((rrname, rdata, rrtype, sensor, expect) <- points) {
      val fast = store.servePointRows(rrname, rdata, rrtype, sensor).get
      val plan = store.entries(rrname, rdata, rrtype, sensor).collect().toSeq
      assert(sortedSet(fast) == sortedSet(plan), s"$rrname $rdata $rrtype $sensor")
      assert(plan.size == expect, s"$rrname $rdata $rrtype $sensor: ${plan.size}")
    }
    // a binding limit cuts a run in the middle: exactly `limit` distinct
    // rows, every one of them an answer
    for ((rrname, rdata, rrtype, limit) <- Seq(
        (Some("hot.example"), None, None, 350),
        (Some("hot.example"), None, Some("A"), 100),
        (None, Some("10.9.9.9"), None, 650))) {
      val all = sortedSet(store.entries(rrname, rdata, rrtype).collect().toSeq).toSet
      val got = sortedSet(store.servePointRows(rrname, rdata, rrtype, None, limit).get)
      assert(got.size == limit && got.distinct.size == limit, s"$rrname $rdata limit=$limit")
      assert(got.forall(all), s"$rrname $rdata limit=$limit")
    }
    // prefix answers
    for ((prefix, expect) <- Seq("hot" -> 700, "r0" -> 700, "r06" -> 100,
        "a005" -> 30, "z" -> 300, "q" -> 0)) {
      val fast = rows(store.servePrefix(prefix, limit = Int.MaxValue).get)
      val plan = sortedSet(store.entriesPrefix(prefix, limit = Int.MaxValue)
        .collect().toSeq)
      assert(fast == plan, s"prefix=$prefix")
      assert(plan.size == expect, s"prefix=$prefix: ${plan.size}")
    }
    assert(store.servePrefix("r0", limit = 333).get.size == 333)
    // CIDR answers
    for ((block, expect) <- Seq("10.9.9.9/32" -> 700, "10.1.0.0/16" -> 700,
        "10.1.0.0/30" -> 400, "10.2.0.0/24" -> 300, "10.0.0.0/8" -> 2000,
        "11.0.0.0/8" -> 0)) {
      val fast = rows(store.serveCidr(block, limit = Int.MaxValue).get)
      val plan = sortedSet(store.cidrQuery(block, limit = Int.MaxValue)
        .collect().toSeq)
      assert(fast == plan, s"block=$block")
      assert(plan.size == expect, s"block=$block: ${plan.size}")
    }
    assert(store.serveCidr("10.9.9.9/32", limit = 401).get.size == 401)
    // a point lookup decodes the non-key columns of its own rows only,
    // however many rows share their pages
    for ((rrname, rdata, r) <- Seq((Some("hot.example"), None, 700),
        (Some("a0050.example"), None, 3), (None, Some("10.9.9.9"), 700),
        (None, Some("10.99.0.7"), 3), (Some("missing.example"), None, 0))) {
      val before = PointReader.rowsDecoded.get
      assert(store.servePoint(rrname, rdata).get.size == r)
      assert(PointReader.rowsDecoded.get - before == r, s"$rrname $rdata")
    }
  }

  test("servePoint preserves merge roll-up values and sub-second precision") {
    val (_, store) = freshStore()
    val foo = store.servePoint(rrname = Some("foo"), rrtype = Some("A"),
      sensorId = Some("abc")).get
    assert(foo.size == 1)
    assert(foo.head.count == 10L)
    assert(foo.head.first_seen == ts("2018-01-01 00:00:00"))
    assert(foo.head.last_seen == ts("2018-06-01 00:00:00"))
    val baz = store.servePoint(rrname = Some("baz")).get
    assert(baz.head.first_seen == ts("2018-04-01 00:00:01.123456"))
  }

  test("serveAliasRows matches the plan-path aliases self-join") {
    val (_, store) = freshStore()
    def planAliases(rrname: String, perEntryLimit: Int)
        : Map[(String, String, String), Seq[Seq[Any]]] =
      store.aliases(store.entries(rrname = Some(rrname)),
          perEntryLimit = perEntryLimit).collect().toSeq
        .groupBy(r => (r.getAs[String]("e_rrname"),
          r.getAs[String]("e_sensor_id"), r.getAs[String]("e_rdata")))
        .map { case (k, v) => k -> sortedSet(v.map(r => Row(
          r.getAs[String]("rrname"), r.getAs[String]("sensor_id"),
          r.getAs[String]("rrtype"), r.getAs[String]("rdata"),
          r.getAs[Long]("count"), r.getAs[Timestamp]("first_seen"),
          r.getAs[Timestamp]("last_seen")))) }
    def fastAliases(rrname: String, perEntryLimit: Int)
        : Map[(String, String, String), Seq[Seq[Any]]] = {
      val rows = store.servePoint(rrname = Some(rrname)).get
      store.answerAliases(rows, perEntryLimit)
        .collect { case (k, v) if v.nonEmpty =>
          k -> sortedSet(v.map(Row.fromTuple)) }
    }
    // foo/1.2.3.4 aliases to baz (same rdata+sensor abc); the AAAA entry
    // and the xyz-sensor entry resolve their own (possibly empty) groups
    assert(fastAliases("foo", 1000) == planAliases("foo", 1000))
    assert(fastAliases("baz", 1000) == planAliases("baz", 1000))
    assert(fastAliases("foo", 1000).nonEmpty)
    // per-entry cap applies after the (rrname, rrtype) sort in both
    assert(fastAliases("foo", 1) == planAliases("foo", 1))
    // cap 0 = no aliases survive anywhere
    assert(fastAliases("foo", 0).isEmpty)
    // non-aliasable parents (rrtype not in A/AAAA) produce no groups
    val aaaaOnly = store.servePoint(rrname = Some("foo"),
      rrtype = Some("AAAA")).get
    assert(store.answerAliases(aaaaOnly, 1000, aliasableTypes = Seq("A"))
      .isEmpty)
  }

  test("servePoint honors limit") {
    val (_, store) = freshStore()
    val limited = store.servePoint(rrname = Some("foo"), limit = 2).get
    assert(limited.size == 2)
    val one = store.servePoint(rdata = Some("1.2.3.4"), limit = 1).get
    assert(one.size == 1)
  }

  test("in-memory store has no fast path (falls back to None)") {
    val agg = ObservationStore.aggregate(
      Seq(("a", "s", "A", "1.1.1.1", 1L, ts("2020-01-01 00:00:00")))
        .toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts"))
    val mem = ObservationStore.inMemory(agg)
    assert(mem.servePoint(rrname = Some("a")).isEmpty)
    assert(mem.servePrefix("a").isEmpty)
    assert(mem.servePointRows(rdata = Some("1.1.1.1")).isEmpty)
    // the answering methods have no other mode: they refuse, naming
    // the way to a served store
    val refusals = Seq[() => Any](
      () => mem.answerPoint(rrname = Some("a")),
      () => mem.answerPrefix("a"),
      () => mem.answerCidr("1.0.0.0/8"),
      () => mem.answerAliases(Seq.empty))
    refusals.foreach { run =>
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains("writeDual") &&
        e.getMessage.contains("load"), e.getMessage)
    }
  }

  test("an empty store answers empty from the readers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-empty").toString
    ObservationStore.writeDual(ObservationStore.aggregate(
      Seq(("a", "s", "A", "1.1.1.1", 1L, ts("2020-01-01 00:00:00")))
        .toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
        .filter(col("count") < 0)), dir, numBuckets = 4)
    val store = ObservationStore.load(spark, dir)
    assert(store.totalCount() == 0L)
    assert(store.servePoint(rrname = Some("a")).contains(Seq.empty))
    assert(store.servePoint(rdata = Some("1.1.1.1")).contains(Seq.empty))
    assert(store.servePrefix("a").contains(Seq.empty))
    assert(store.serveCidr("0.0.0.0/0").contains(Seq.empty))
    assert(store.serveCidr("::/0").contains(Seq.empty))
    assert(store.entries(rrname = Some("a")).isEmpty)
    // a first merge fills it like any store
    val t = ts("2021-01-01 00:00:00")
    ObservationStore.mergeBatch(spark, dir, Seq(("a", "s", "A", "1.1.1.1", 2L, t, t))
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
        "timestamp_start", "timestamp_end"))
    val merged = ObservationStore.load(spark, dir)
    assert(merged.servePoint(rrname = Some("a")).get.map(_.count) == Seq(2L))
  }

  test("a file of another shape is refused, naming rebucket, until rebucket rewrites it") {
    // INT96 timestamps: what a session without Graft's
    // outputTimestampType writes. The shared session stays untouched.
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val rows = Seq(
      ("foo", "s1", "A", "1.2.3.4", 2L, ts("2018-01-01 00:00:00")),
      ("bar", "s1", "A", "1.2.3.4", 3L, ts("2018-02-01 00:00:00.5")))
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-int96").toString
    ObservationStore.writeDual(ObservationStore.aggregate(other.createDataFrame(rows)
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")), dir,
      numBuckets = 4)
    val int96 = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "by_rrname"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(int96.toUri),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      assert(schema.getType(schema.getFieldIndex("first_seen"))
        .asPrimitiveType.getPrimitiveTypeName.name == "INT96")
    } finally r.close()
    val store = ObservationStore.load(spark, dir)
    for (run <- Seq[() => Any](() => store.answerPoint(rrname = Some("foo")),
        () => store.answerPoint(rdata = Some("1.2.3.4")),
        () => store.answerPrefix("ba"), () => store.answerCidr("1.2.3.0/24"))) {
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("rebucket"), e.getMessage)
    }
    // a miss opens no file, so it answers
    assert(store.answerPoint(rrname = Some("absent")).isEmpty)
    ObservationStore.rebucket(spark, dir, 2)
    val fixed = ObservationStore.load(spark, dir)
    assertSame(fixed, rrname = Some("foo"))
    assertSame(fixed, rdata = Some("1.2.3.4"))
    assert(sortedSet(fixed.answerPrefix("ba").map(o => Row(o.rrname,
      o.sensor_id, o.rrtype, o.rdata, o.count, o.first_seen, o.last_seen))) ==
      sortedSet(fixed.entriesPrefix("ba").collect().toSeq))
    assert(fixed.answerPoint(rrname = Some("bar")).head.first_seen ==
      ts("2018-02-01 00:00:00.5"))
  }

  test("files of both column repetitions in one store serve like the plan") {
    // non-nullable input builds REQUIRED key columns; the merge rewrites
    // the buckets it touches with OPTIONAL ones
    val input = spark.range(40).selectExpr(
      "concat('name-', cast(id as string)) as rrname", "'s1' as sensor_id",
      "'A' as rrtype", "concat('10.0.0.', cast(id as string)) as rdata",
      "1L as count", "timestamp'2020-01-01 00:00:00' as ts")
    assert(!input.schema("rrname").nullable)
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-rep").toString
    ObservationStore.writeDual(ObservationStore.aggregate(input), dir,
      numBuckets = 4)
    val t = ts("2021-01-01 00:00:00")
    ObservationStore.mergeBatch(spark, dir, Seq(
      ("name-1", "s1", "A", "10.0.0.1", 5L, t, t),
      ("name-2", "s1", "A", "10.0.0.2", 5L, t, t)
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
      "timestamp_start", "timestamp_end"))
    val store = ObservationStore.load(spark, dir)
    val plan = store.entriesPrefix("name-", Int.MaxValue).collect().toSeq
    assert(plan.size == 40)
    for (i <- 0 until 40) {
      val (n, d) = (s"name-$i", s"10.0.0.$i")
      assert(sortedSet(store.servePointRows(rrname = Some(n)).get) ==
        sortedSet(plan.filter(_.getAs[String]("rrname") == n)), n)
      assert(sortedSet(store.servePointRows(rdata = Some(d)).get) ==
        sortedSet(plan.filter(_.getAs[String]("rdata") == d)), d)
    }
    assert(store.servePoint(rrname = Some("name-1")).get.map(_.count) == Seq(6L))
  }

  test("fast path sees a committed merge after the epoch check interval") {
    val (dir, store) = freshStore()
    // prime the reader's file map
    assert(store.servePoint(rrname = Some("foo")).get.size == 3)
    val batch = Seq(
      ("foo", "abc", "A", "1.2.3.4", 5L,
        ts("2019-01-01 00:00:00"), ts("2019-01-01 00:00:00")),
      ("new", "abc", "A", "7.7.7.7", 1L,
        ts("2019-02-01 00:00:00"), ts("2019-02-01 00:00:00"))
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count",
      "timestamp_start", "timestamp_end")
    ObservationStore.mergeBatch(spark, dir, batch, numBuckets = 8)
    // wait out the epoch-check TTL so the cached map revalidates
    Thread.sleep(graft.operators.PointReader.EpochCheckMillis + 100)
    val foo = store.servePoint(rrname = Some("foo"), rrtype = Some("A"),
      sensorId = Some("abc")).get
    assert(foo.head.count == 15L, foo)
    assert(store.servePoint(rrname = Some("new")).get.size == 1)
    // and still agrees with the (re-loaded) plan path
    val re = ObservationStore.load(spark, dir)
    assert(sortedSet(store.servePointRows(rrname = Some("new")).get) ==
      sortedSet(re.entries(rrname = Some("new")).collect().toSeq))
  }

  test("sorted-dictionary probes: unsigned order, prefix range, fallback") {
    import graft.operators.PointReader
    def b(s: String) = s.getBytes("UTF-8")
    // unsigned byte order: bytes >= 0x80 sort AFTER ASCII — exactly how
    // the writer sorted the keys (UTF8String binary comparison)
    val entries = Array(b("abc"), b("abd"), b("b"), b("part-1"),
      b("part-10"), b("part-2"), Array(0x80.toByte, 0x01.toByte))
    assert(PointReader.isAscending(entries))
    def point(k: Array[Byte]) =
      !PointReader.KeyTest.point(k).ids(entries, sorted = true).isEmpty
    def prefix(p: Array[Byte]) =
      !PointReader.KeyTest.prefix(p).ids(entries, sorted = true).isEmpty
    assert(point(b("part-10")))
    assert(!point(b("part-11")))
    assert(!point(b(""))) // below all
    assert(!point(Array(0xff.toByte))) // above
    // prefix probes: lower-bound entry either starts with the prefix or
    // nothing does
    assert(prefix(b("part-1"))) // exact+ext
    assert(prefix(b("ab")))
    assert(!prefix(b("part-3")))
    assert(!prefix(b("c")))
    assert(prefix(Array(0x80.toByte)))
    assert(prefix(Array[Byte]())) // all match
    // an unsorted (foreign) dictionary is detected and the callers fall
    // back to the linear probe
    assert(!PointReader.isAscending(Array(b("b"), b("a"))))
  }

  test("servePointRows schema renders by field name (serving contract)") {
    val (_, store) = freshStore()
    val rows = store.servePointRows(rdata = Some("1.2.3.5")).get
    assert(rows.head.getAs[String]("rrname") == "bar")
    assert(rows.head.getAs[Long]("count") == 10L)
    assert(rows.head.getAs[Timestamp]("first_seen") == ts("2018-03-01 00:00:00"))
    // the rows round-trip into a Spark-joinable frame of the schema
    val df = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava,
      graft.model.Model.observationSchema)
    assert(df.filter(col("rrname") === "bar").count() == 1)
  }
}
