package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Dns, Net}
import graft.operators.ObservationStore
import org.apache.spark.unsafe.types.UTF8String

/** Query-surface semantics against the reference's seeded fixture
  * (`query/query_graphql_test.go:151-183`): three observations, sensor
  * `abc`, rrtype `A`: (foo,1.2.3.4,10) (bar,1.2.3.5,10) (baz,1.2.3.4,1). */
class StoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val store = {
    val input = Seq(
      // (rrname, sensor, rrtype, rdata, count, ts) with a duplicate key to
      // prove the merge: foo appears twice -> count 10, min/max roll-up.
      ("foo", "abc", "A", "1.2.3.4", 4L, ts("2018-01-01 00:00:00")),
      ("foo", "abc", "A", "1.2.3.4", 6L, ts("2018-06-01 00:00:00")),
      ("bar", "abc", "A", "1.2.3.5", 10L, ts("2018-03-01 00:00:00")),
      ("baz", "abc", "A", "1.2.3.4", 1L, ts("2018-04-01 00:00:00"))
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
    ObservationStore.inMemory(ObservationStore.aggregate(input))
  }

  test("A1 merge: count=sum, first_seen=min, last_seen=max per 4-key") {
    val foo = store.entries(rrname = Some("foo")).collect()
    assert(foo.length == 1)
    assert(foo.head.getAs[Long]("count") == 10L)
    assert(foo.head.getAs[Timestamp]("first_seen") == ts("2018-01-01 00:00:00"))
    assert(foo.head.getAs[Timestamp]("last_seen") == ts("2018-06-01 00:00:00"))
  }

  test("entries: rrname lookup, rdata lookup, unknown -> empty, arg check") {
    assert(store.entries(rrname = Some("foo")).count() == 1)
    assert(store.entries(rdata = Some("1.2.3.4")).count() == 2)
    assert(store.entries(rrname = Some("nonexistent")).count() == 0)
    assert(store.entries(rrname = Some("foo"), rrtype = Some("TXT")).count() == 0)
    intercept[IllegalArgumentException](store.entries())
  }

  test("entriesTyped: Dataset[Observation] round-trip") {
    val obs = store.entriesTyped(rrname = Some("foo")).collect()
    assert(obs.length == 1)
    assert(obs.head.count == 10L)
    assert(obs.head.rdata == "1.2.3.4")
    // decoder plug registry rejects unknown formats
    intercept[IllegalArgumentException](
      graft.streaming.IngestPipeline.decode(
        Seq(("x", "s")).toDF("value", "sensor_id"), "nope"))
  }

  test("restQuery: subject as rrname OR rdata, bag union") {
    // '1.2.3.4' only matches as rdata -> 2 rows
    assert(store.restQuery("1.2.3.4").count() == 2)
    assert(store.restQuery("foo").count() == 1)
    assert(store.restQuery("nope").count() == 0)
  }

  test("aliases: same rdata+sensor, different rrname, A/AAAA only") {
    val aliases = store.aliases(store.entries(rrname = Some("foo")))
    val names = aliases.select("rrname").as[String].collect().toSet
    assert(names == Set("baz")) // bar has different rdata
    // per-entry limit binds via ranking, not global limit
    assert(store.aliases(store.entries(rrname = Some("foo")), perEntryLimit = 0).count() == 0)
  }

  test("fanOut: per-store limit then union keeps duplicates") {
    val two = store.fanOut(Seq(store, store), rrname = Some("foo"), rdata = None)
    assert(two.count() == 2)
  }

  test("ip_to_long + cidrBounds") {
    def ip(s: String) = Net.ipv4ToLong(UTF8String.fromString(s))
    assert(ip("0.0.0.0") == 0L)
    assert(ip("255.255.255.255") == 0xffffffffL)
    assert(ip("10.0.4.0") == 167773184L)
    assert(ip("1.2.3") == -1L)
    assert(ip("1.2.3.256") == -1L)
    assert(ip("a.b.c.d") == -1L)
    assert(ip("1.2.3.4.5") == -1L)
    assert(Net.cidrBounds("10.0.4.0/22") == (167773184L, 167774207L))
    assert(Net.cidrBounds("0.0.0.0/0") == (0L, 0xffffffffL))
    assert(Net.cidrBounds("1.2.3.4/32") == (ip("1.2.3.4"), ip("1.2.3.4")))
  }

  test("ipv6_to_hex + cidrBounds6") {
    def ip6(s: String): String = {
      val r = Net.ipv6ToHex(UTF8String.fromString(s))
      if (r == null) null else r.toString
    }
    assert(ip6("2001:db8::1") == "20010db8" + "0" * 23 + "1")
    assert(ip6("::") == "0" * 32)
    assert(ip6("::1") == "0" * 31 + "1")
    assert(ip6("1::") == "0001" + "0" * 28)
    assert(ip6("1:2:3:4:5:6:7:8") == "00010002000300040005000600070008")
    assert(ip6("2001:DB8::A") == "20010db8" + "0" * 23 + "a") // case-insensitive
    assert(ip6("::ffff:1.2.3.4") == "0" * 20 + "ffff01020304") // v4-embedded
    assert(ip6("1:2:3:4:5:6:7::") == "00010002000300040005000600070000")
    assert(ip6("1:2:3:4:5:6:1.2.3.4") == "000100020003000400050006" + "01020304")
    // rejects
    assert(ip6("1::2::3") == null) // two '::'
    assert(ip6("1:2:3:4:5:6:7") == null) // 7 groups without '::'
    assert(ip6("1:2:3:4:5:6:7:8:9") == null)
    assert(ip6("1:2:3:4:5:6:7:8::") == null) // '::' must expand >= 1 group
    assert(ip6("12345::") == null) // > 4 hex digits
    assert(ip6("g::") == null)
    assert(ip6("1.2.3.4") == null) // plain v4 is not v6
    assert(ip6("1:1.2.3.4:5::") == null) // dotted quad only as tail
    assert(ip6("1.2.3.4::") == null) // ...of the WHOLE address, not of '::''s left
    assert(ip6("1:1.2.3.4::5") == null)
    assert(ip6(":1:2:3:4:5:6:7") == null) // stray leading ':'
    // bounds
    assert(Net.cidrBounds6("2001:db8::/32") ==
      ("20010db8" + "0" * 24, "20010db8" + "f" * 24))
    assert(Net.cidrBounds6("::/0") == ("0" * 32, "f" * 32))
    assert(Net.cidrBounds6("2001:db8::1000/118") ==
      ("20010db8" + "0" * 20 + "1000", "20010db8" + "0" * 20 + "13ff"))
    assert(Net.cidrBounds6("::1/128") == ("0" * 31 + "1", "0" * 31 + "1"))
    // /53 cuts mid-nibble: nibble 13 keeps only its top bit (0 in the
    // base), so hi fills the free 3 bits -> '7', then 'f' from nibble 14
    assert(Net.cidrBounds6("ffff:ffff:ffff:8000::/53") ==
      ("ffffffffffff8" + "0" * 19, "ffffffffffff87" + "f" * 18))
    intercept[IllegalArgumentException](Net.cidrBounds6("2001:db8::/129"))
    intercept[IllegalArgumentException](Net.cidrBounds6("nope/64"))
  }

  test("cidrQuery v6 through a layout-3 disk store") {
    val dir = java.nio.file.Files.createTempDirectory("graft-v6").toString
    val input = Seq(
      ("a", "s1", "AAAA", "2001:db8::1", 1L, ts("2020-01-01 00:00:00")),
      ("b", "s1", "AAAA", "2001:db8::ffff", 1L, ts("2020-01-01 00:00:00")),
      ("c", "s1", "AAAA", "2001:db9::1", 1L, ts("2020-01-01 00:00:00")),
      ("d", "s1", "A", "1.2.3.4", 1L, ts("2020-01-01 00:00:00"))
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
    ObservationStore.writeDual(ObservationStore.aggregate(input), dir,
      numBuckets = 4)
    assert(ObservationStore.readLayout(spark, dir).contains(3L))
    val st = ObservationStore.load(spark, dir)
    assert(st.cidrQuery("2001:db8::/64").select("rrname").as[String]
      .collect().toSet == Set("a", "b"))
    assert(st.cidrQuery("2001:db8::1/128").select("rrname").as[String]
      .collect().toSet == Set("a"))
    // v4 path still works beside it, and layout cols never leak out
    assert(st.cidrQuery("1.2.3.0/24").select("rrname").as[String]
      .collect().toSet == Set("d"))
    assert(!st.cidrQuery("2001:db8::/64").columns.exists(
      Seq("bucket", "rdata_ip", "rdata_ip6").contains))
    // the in-memory fallback (no persisted column) agrees
    val mem = ObservationStore.inMemory(ObservationStore.aggregate(input))
    assert(mem.cidrQuery("2001:db8::/64").select("rrname").as[String]
      .collect().toSet == Set("a", "b"))
  }

  test("staged merge: a crash at any point fully applies or fully discards") {
    import org.apache.spark.sql.functions.col
    def obs(rows: Seq[(String, String, String, String, Long, String)]) =
      rows.map { case (n, s, t, r, c, d) => (n, s, t, r, c, ts(d)) }
        .toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
    val initial = obs(Seq(
      ("foo", "s1", "A", "1.1.1.1", 1L, "2020-01-01 00:00:00"),
      ("bar", "s1", "A", "2.2.2.2", 2L, "2020-01-02 00:00:00")))
    val batch = obs(Seq(
      ("foo", "s1", "A", "1.1.1.1", 3L, "2020-02-01 00:00:00"),
      ("new", "s2", "A", "3.3.3.3", 5L, "2020-02-02 00:00:00")))
    def freshStore(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString
      ObservationStore.writeDual(ObservationStore.aggregate(initial),
        s"$dir/st", numBuckets = 4)
      s"$dir/st"
    }
    def snapshot(path: String): (Seq[Seq[Any]], Seq[Seq[Any]], Option[Long]) = {
      val st = ObservationStore.load(spark, path)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.drop("bucket", "rdata_ip", "rdata_ip6")
          .orderBy("rrname", "sensor_id", "rrtype", "rdata")
          .collect().map(_.toSeq).toSeq
      (rows(st.forward), rows(st.inverted),
        ObservationStore.readEpoch(spark, path))
    }

    // control: the uninterrupted merge
    val control = freshStore()
    ObservationStore.mergeBatch(spark, control, batch, numBuckets = 4)
    val expected = snapshot(control)
    assert(expected._3.contains(2L)) // writeDual epoch 1, merge epoch 2

    // crash BEFORE the manifest: staged data without a commit mark is a
    // leftover only the WRITER may discard — a reader must leave it (it
    // could be a live writer mid-stage), and the next merge cleans it up
    // and re-runs cleanly on the untouched store
    val preManifest = freshStore()
    val junk = new java.io.File(s"$preManifest/_staging_2/by_rrname/bucket=0")
    assert(junk.mkdirs())
    ObservationStore.recoverMerge(spark, preManifest) // reader-safe default
    assert(new java.io.File(s"$preManifest/_staging_2").exists())
    assert(snapshot(preManifest)._3.contains(1L)) // load leaves it too
    assert(new java.io.File(s"$preManifest/_staging_2").exists())
    ObservationStore.mergeBatch(spark, preManifest, batch, numBuckets = 4)
    assert(snapshot(preManifest) == expected)
    assert(!new java.io.File(s"$preManifest/_staging_2").exists())

    // crash AFTER the manifest, before any rename: recovery replays the
    // whole swap and commits the epoch exactly once
    val postManifest = freshStore()
    ObservationStore.stageMerge(spark, postManifest, batch, numBuckets = 4)
    assert(new java.io.File(s"$postManifest/_staging_2/_manifest.json").exists())
    ObservationStore.recoverMerge(spark, postManifest)
    assert(snapshot(postManifest) == expected)
    assert(!new java.io.File(s"$postManifest/_staging_2").exists())

    // crash MID-SWAP: one forward bucket already renamed, the rest (and
    // the whole inverted copy) still staged — load() self-heals
    val midSwap = freshStore()
    val staging = ObservationStore.stageMerge(spark, midSwap, batch,
      numBuckets = 4)
    val stagedFwd = new java.io.File(s"$staging/by_rrname")
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(stagedFwd.nonEmpty)
    val first = stagedFwd.head
    val dest = new java.io.File(s"$midSwap/by_rrname/${first.getName}")
    if (dest.exists()) {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(dest)
    }
    assert(first.renameTo(dest))
    assert(snapshot(midSwap) == expected) // snapshot() loads → recovers
    assert(!new java.io.File(staging).exists())

    // recovery is idempotent on a healthy store
    ObservationStore.recoverMerge(spark, control)
    assert(snapshot(control) == expected)

    // COMMITTED merge whose staged bucket was lost (deleted out from
    // under it) with no applied copy at the destination either: recovery
    // must FAIL LOUDLY, not skip the bucket and commit a diverged epoch
    val lost = freshStore()
    val lostStaging = ObservationStore.stageMerge(spark, lost, batch,
      numBuckets = 4)
    def rmRec(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rmRec)
      f.delete(): Unit
    }
    val lostFwd = new java.io.File(s"$lostStaging/by_rrname")
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(lostFwd.nonEmpty)
    rmRec(lostFwd.head) // staged copy gone...
    val lostDest = new java.io.File(s"$lost/by_rrname/${lostFwd.head.getName}")
    if (lostDest.exists()) rmRec(lostDest) // ...and no applied copy either
    intercept[java.io.IOException] {
      ObservationStore.recoverMerge(spark, lost)
    }

    // piece stranded in the ASIDE slot (an interleaved recoverer moved
    // the freshly-applied dest into staging/_replaced before failing):
    // src gone + dest gone + aside present must HEAL, not report corrupt
    val strand = freshStore()
    val strandStaging = ObservationStore.stageMerge(spark, strand, batch,
      numBuckets = 4)
    val strandFwd = new java.io.File(s"$strandStaging/by_rrname")
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(strandFwd.nonEmpty)
    val aside = new java.io.File(
      s"$strandStaging/_replaced/by_rrname/${strandFwd.head.getName}")
    assert(aside.getParentFile.mkdirs())
    val strandDest =
      new java.io.File(s"$strand/by_rrname/${strandFwd.head.getName}")
    assert(strandFwd.head.renameTo(aside)) // merged piece → aside slot
    if (strandDest.exists()) rmRec(strandDest) // live copy gone too
    assert(snapshot(strand) == expected) // load → recover → heals
    assert(!new java.io.File(strandStaging).exists())
  }

  test("expire: retention drop from both copies, crash replay, empty buckets") {
    import org.apache.spark.sql.functions.col
    def obs(rows: Seq[(String, String, String, String, Long, String)]) =
      rows.map { case (n, s, t, r, c, d) => (n, s, t, r, c, ts(d)) }
        .toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
    val mixed = obs(Seq(
      ("old1", "s1", "A", "1.1.1.1", 1L, "2019-03-01 00:00:00"),
      ("old2", "s1", "A", "2.2.2.2", 2L, "2019-06-01 00:00:00"),
      ("young", "s1", "A", "3.3.3.3", 3L, "2021-01-01 00:00:00"),
      // same key seen old AND young: survives, first_seen stays old
      ("both", "s2", "A", "4.4.4.4", 4L, "2019-01-01 00:00:00"),
      ("both", "s2", "A", "4.4.4.4", 5L, "2021-06-01 00:00:00")))
    val cutoff = ts("2020-01-01 00:00:00")
    def fresh(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft-expire").toString
      ObservationStore.writeDual(ObservationStore.aggregate(mixed),
        s"$dir/st", numBuckets = 4)
      s"$dir/st"
    }
    def names(path: String) = {
      val st = ObservationStore.load(spark, path)
      (st.forward.select("rrname").as[String].collect().toSet,
        st.inverted.select("rrname").as[String].collect().toSet)
    }

    // control: entries last seen before the cutoff vanish from BOTH
    // copies; an entry with activity on both sides survives whole
    val control = fresh()
    assert(ObservationStore.expire(spark, control, cutoff) == 2L)
    assert(names(control) == (Set("young", "both"), Set("young", "both")))
    val survived = ObservationStore.load(spark, control).forward
      .filter(col("rrname") === "both").select("count", "first_seen")
      .collect().head
    assert(survived.getLong(0) == 9L) // merged count intact
    assert(survived.getTimestamp(1) == ts("2019-01-01 00:00:00")) // old first_seen kept
    assert(ObservationStore.readEpoch(spark, control).contains(2L))
    // idempotent: nothing old remains → no-op, no epoch bump
    assert(ObservationStore.expire(spark, control, cutoff) == 0L)
    assert(ObservationStore.readEpoch(spark, control).contains(2L))

    // crash between stage and apply: the manifest makes it replay on load
    val crash = fresh()
    val (staged, dropped) = ObservationStore.stageExpire(spark, crash, cutoff)
    assert(staged.nonEmpty && dropped == 2L)
    assert(names(crash) == (Set("young", "both"), Set("young", "both")))
    assert(!new java.io.File(staged.get).exists())
    assert(ObservationStore.readEpoch(spark, crash).contains(2L))

    // every entry expires: all buckets swap to staged EMPTY buckets —
    // the store stays loadable and queryable, just empty
    val total = fresh()
    assert(ObservationStore.expire(spark, total,
      ts("2022-01-01 00:00:00")) == 4L)
    val st = ObservationStore.load(spark, total)
    assert(st.totalCount() == 0L)
    assert(st.entries(rrname = Some("old1")).isEmpty)
  }

  test("deleteWhere: predicate drop from both copies, no-op, epoch") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      ("evil-a", "s1", "A", "1.1.1.1", 1L, ts("2021-01-01 00:00:00")),
      ("evil-b", "s1", "A", "2.2.2.2", 2L, ts("2021-02-01 00:00:00")),
      ("keep-a", "s1", "A", "3.3.3.3", 3L, ts("2021-03-01 00:00:00")),
      ("keep-b", "s2", "A", "1.1.1.1", 4L, ts("2021-04-01 00:00:00")))
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-delw").toString
    ObservationStore.writeDual(ObservationStore.aggregate(rows),
      s"$dir/st", numBuckets = 4)
    // targeted takedown: the predicate key pattern leaves BOTH copies
    assert(ObservationStore.deleteWhere(spark, s"$dir/st",
      col("rrname").startsWith("evil-")) == 2L)
    val st = ObservationStore.load(spark, s"$dir/st")
    assert(st.forward.select("rrname").as[String].collect().toSet ==
      Set("keep-a", "keep-b"))
    assert(st.inverted.select("rrname").as[String].collect().toSet ==
      Set("keep-a", "keep-b"))
    // the inverted copy still serves by its own key: rdata 1.1.1.1 now
    // maps only to the surviving keep-b
    assert(st.entries(rdata = Some("1.1.1.1"))
      .select("rrname").as[String].collect().toSeq == Seq("keep-b"))
    assert(ObservationStore.readEpoch(spark, s"$dir/st").contains(2L))
    // nothing matches: no-op, no epoch bump
    assert(ObservationStore.deleteWhere(spark, s"$dir/st",
      col("rrname").startsWith("evil-")) == 0L)
    assert(ObservationStore.readEpoch(spark, s"$dir/st").contains(2L))
  }

  test("deleteWhere: NULL-evaluating predicate keeps the row, count agrees") {
    import org.apache.spark.sql.functions.col
    // try_cast of a dotted address is SQL NULL, so `NULL > 5` is
    // NULL — a row must be dropped only when the predicate is
    // DEFINITELY true; NULL rows stay AND are excluded from the
    // dropped count (a bare filter(!pred) would silently delete them
    // while counting them as kept)
    val rows = Seq(
      ("num-hi", "s1", "TXT", "10", 1L, ts("2021-01-01 00:00:00")),
      ("num-lo", "s1", "TXT", "3", 2L, ts("2021-02-01 00:00:00")),
      ("addr", "s1", "A", "1.2.3.4", 3L, ts("2021-03-01 00:00:00")))
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-delwn").toString
    ObservationStore.writeDual(ObservationStore.aggregate(rows),
      s"$dir/st", numBuckets = 4)
    assert(ObservationStore.deleteWhere(spark, s"$dir/st",
      org.apache.spark.sql.functions.expr("try_cast(rdata AS int)") > 5)
      == 1L)
    val st = ObservationStore.load(spark, s"$dir/st")
    assert(st.forward.select("rrname").as[String].collect().toSet ==
      Set("num-lo", "addr"))
    assert(st.inverted.select("rrname").as[String].collect().toSet ==
      Set("num-lo", "addr"))
  }

  test("diffSnapshots: added/removed/changed only, null-safe change test") {
    import org.apache.spark.sql.functions.col
    def snap(rows: Seq[(String, String, String, String, Long, java.sql.Timestamp)]) =
      ObservationStore.aggregate(rows
        .toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts"))
    val before = snap(Seq(
      ("same", "s1", "A", "1.1.1.1", 1L, ts("2020-01-01 00:00:00")),
      ("gone", "s1", "A", "2.2.2.2", 2L, ts("2020-01-01 00:00:00")),
      ("bump", "s1", "A", "3.3.3.3", 3L, ts("2020-01-01 00:00:00"))))
    val after = snap(Seq(
      ("same", "s1", "A", "1.1.1.1", 1L, ts("2020-01-01 00:00:00")),
      ("bump", "s1", "A", "3.3.3.3", 3L, ts("2020-01-01 00:00:00")),
      ("bump", "s1", "A", "3.3.3.3", 4L, ts("2020-06-01 00:00:00")),
      ("newk", "s1", "A", "4.4.4.4", 5L, ts("2020-01-01 00:00:00"))))
    val d = ObservationStore.diffSnapshots(before, after)
      .collect().map(r => r.getAs[String]("rrname") ->
        (r.getAs[String]("status"),
          Option(r.getAs[java.lang.Long]("old_count")).map(_.toLong),
          Option(r.getAs[java.lang.Long]("new_count")).map(_.toLong))).toMap
    assert(!d.contains("same")) // unchanged keys never appear
    assert(d("gone") == (("removed", Some(2L), None)))
    assert(d("newk") == (("added", None, Some(5L))))
    assert(d("bump") == (("changed", Some(3L), Some(7L))))
    // a value-only change (same count, later last_seen) still surfaces
    val tsOnly = ObservationStore.diffSnapshots(before,
      snap(Seq(
        ("same", "s1", "A", "1.1.1.1", 1L, ts("2021-01-01 00:00:00")),
        ("gone", "s1", "A", "2.2.2.2", 2L, ts("2020-01-01 00:00:00")),
        ("bump", "s1", "A", "3.3.3.3", 3L, ts("2020-01-01 00:00:00")))))
      .filter(col("rrname") === "same").collect()
    assert(tsOnly.length == 1 &&
      tsOnly.head.getAs[String]("status") == "changed")
  }

  test("compact: multi-file buckets fold to one file, data unchanged") {
    val input = Seq(
      ("foo", "s1", "A", "1.1.1.1", 1L, ts("2019-03-01 00:00:00")),
      ("bar", "s1", "A", "2.2.2.2", 2L, ts("2019-06-01 00:00:00")),
      ("baz", "s1", "A", "3.3.3.3", 3L, ts("2021-01-01 00:00:00")),
      ("qux", "s2", "A", "4.4.4.4", 4L, ts("2019-01-01 00:00:00"))
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")
      .toString
    ObservationStore.writeDual(ObservationStore.aggregate(input),
      s"$dir/st", numBuckets = 4)
    def filesPerBucket(sub: String): Seq[Int] =
      new java.io.File(s"$dir/st/$sub").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    def rows(): Set[Seq[Any]] =
      ObservationStore.load(spark, s"$dir/st").forward
        .drop("bucket").collect().map(_.toSeq).toSet

    // every file the store machinery writes carries the seek-column
    // BLOOM FILTER (negative lookups skip all row groups); asserted on
    // the footer so a silently-ignored writer option fails. (The
    // fragmentation util below rewrites raw files without blooms —
    // real churn comes from merges, which share writeCopy's options.)
    def bloomOf(sub: String, key: String, present: String): Unit = {
      import scala.jdk.CollectionConverters._
      val files = new java.io.File(s"$dir/st/$sub").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty)
      val hits = files.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          new org.apache.parquet.io.LocalInputFile(f.toPath))
        try {
          val block = r.getFooter.getBlocks.get(0)
          val cm = block.getColumns.asScala
            .find(_.getPath.toDotString == key).get
          val bloom = r.getBloomFilterDataReader(block).readBloomFilter(cm)
          assert(bloom != null, s"$sub/$key bloom missing in $f")
          bloom.findHash(bloom.hash(
            org.apache.parquet.io.api.Binary.fromString(present)))
        } finally r.close()
      }
      // no false negatives: the bucket actually holding `present` must
      // report it — proving hash plumbing end to end, not just presence
      assert(hits.contains(true), s"$sub/$key bloom misses $present")
    }
    bloomOf("by_rrname", "rrname", "foo")
    bloomOf("by_rdata", "rdata", "1.1.1.1")

    // fresh store: single-file buckets → compaction is a NO-OP (no
    // epoch bump — reader caches stay warm)
    assert(ObservationStore.compact(spark, s"$dir/st") == 0L)
    assert(ObservationStore.readEpoch(spark, s"$dir/st").contains(1L))

    val before = rows()
    queries.util.fragmentStoreCopies(spark, s"$dir/st", nFiles = 3)
    val fragmented = filesPerBucket("by_rrname")
    assert(fragmented.exists(_ > 1), fragmented)
    assert(rows() == before) // fragmentation is layout-only

    val multiBefore = Seq("by_rrname", "by_rdata")
      .map(sub => filesPerBucket(sub).count(_ > 1)).sum
    val n = ObservationStore.compact(spark, s"$dir/st")
    assert(n == multiBefore && n > 0) // every multi-file bucket counted
    assert(filesPerBucket("by_rrname").forall(_ == 1))
    assert(filesPerBucket("by_rdata").forall(_ == 1))
    assert(rows() == before)
    assert(ObservationStore.readEpoch(spark, s"$dir/st").contains(2L))
    // compacted store still serves point lookups on BOTH paths
    val st = ObservationStore.load(spark, s"$dir/st")
    assert(st.entries(rrname = Some("foo")).count() == 1)
    assert(st.servePoint(rdata = Some("2.2.2.2")).get.size == 1)
    // idempotent: already compact → no-op, no epoch bump
    assert(ObservationStore.compact(spark, s"$dir/st") == 0L)
    assert(ObservationStore.readEpoch(spark, s"$dir/st").contains(2L))
  }

  test("rebucket: whole-copy swap changes the count without orphans") {
    val input = Seq(
      ("foo", "s1", "A", "1.1.1.1", 1L, ts("2019-03-01 00:00:00")),
      ("bar", "s1", "A", "2.2.2.2", 2L, ts("2019-06-01 00:00:00")),
      ("baz", "s1", "A", "3.3.3.3", 3L, ts("2021-01-01 00:00:00")),
      ("qux", "s2", "A", "4.4.4.4", 4L, ts("2019-01-01 00:00:00"))
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-rebucket")
      .toString
    ObservationStore.writeDual(ObservationStore.aggregate(input),
      s"$dir/st", numBuckets = 8)
    def buckets(sub: String): Set[Long] =
      new java.io.File(s"$dir/st/$sub").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
        .map(_.getName.stripPrefix("bucket=").toLong).toSet
    def rows(): Set[Seq[Any]] =
      ObservationStore.load(spark, s"$dir/st").forward
        .drop("bucket").collect().map(_.toSeq).toSet
    val before = rows()

    // shrink: the old count's high bucket dirs must NOT survive
    assert(ObservationStore.rebucket(spark, s"$dir/st", 3) == 8)
    assert(ObservationStore.readNumBuckets(spark, s"$dir/st")
      .contains(3))
    assert(ObservationStore.readEpoch(spark, s"$dir/st").contains(2L))
    Seq("by_rrname", "by_rdata").foreach { sub =>
      assert(buckets(sub).forall(_ < 3), s"$sub: ${buckets(sub)}")
    }
    assert(rows() == before)
    // both serving paths agree under the new pruning count
    val st = ObservationStore.load(spark, s"$dir/st")
    assert(st.entries(rrname = Some("foo")).count() == 1)
    assert(st.servePoint(rdata = Some("2.2.2.2")).get.size == 1)

    // same-count call: no-op, no epoch bump
    assert(ObservationStore.rebucket(spark, s"$dir/st", 3) == 3)
    assert(ObservationStore.readEpoch(spark, s"$dir/st").contains(2L))

    // a merge AFTER rebucket hashes under the NEW committed count
    ObservationStore.mergeBatch(spark, s"$dir/st", Seq(
      ("new", "s1", "A", "9.9.9.9", 5L, ts("2022-01-01 00:00:00")))
      .toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts"))
    val st2 = ObservationStore.load(spark, s"$dir/st")
    assert(st2.entries(rrname = Some("new")).count() == 1)
    assert(st2.servePoint(rrname = Some("new")).get.size == 1)

    // a pre-meta store is upgraded by the same command: a whole rewrite
    // needs no recorded count
    val beforeUpgrade = rows()
    assert(new java.io.File(s"$dir/st/_graft_meta.json").delete())
    assert(ObservationStore.rebucket(spark, s"$dir/st", 4) == 0)
    assert(ObservationStore.readNumBuckets(spark, s"$dir/st").contains(4))
    assert(ObservationStore.readLayout(spark, s"$dir/st")
      .contains(ObservationStore.CurrentLayout))
    assert(rows() == beforeUpgrade)
  }

  /** Every file under `dir` with its bytes: a byte-level snapshot. */
  private def tree(dir: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => root.relativize(f).toString ->
        java.nio.file.Files.readAllBytes(f).toSeq).toMap
  }

  test("a first build that lost its meta is refused, never merged twice") {
    val dir = java.nio.file.Files.createTempDirectory("graft-firstbuild")
      .toString + "/st"
    val batch = Seq(
      ("foo", "s1", "A", "1.1.1.1", 2L, ts("2020-01-01 00:00:00")),
      ("bar", "s1", "A", "2.2.2.2", 3L, ts("2020-01-02 00:00:00"))
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
    ObservationStore.mergeBatch(spark, dir, batch, numBuckets = 4,
      batchId = Some(0L))
    // the state a crash between the copies and the meta used to leave
    assert(new java.io.File(s"$dir/_graft_meta.json").delete())
    val before = tree(dir)
    // the stream redelivers batch 0
    val e = intercept[IllegalArgumentException](
      ObservationStore.mergeBatch(spark, dir, batch, numBuckets = 4,
        batchId = Some(0L)))
    assert(e.getMessage.contains("rebucket"), e.getMessage)
    assert(tree(dir) == before)
  }

  test("legacy stores are refused by every store command until rebucket upgrades them") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.IndexRouting
    val input = Seq(
      ("foo.example", "s1", "A", "10.0.0.1", 2L, ts("2019-03-01 00:00:00")),
      ("foo.example", "s2", "AAAA", "2001:db8::1", 1L, ts("2019-04-01 00:00:00")),
      ("bar.example", "s1", "A", "10.0.0.2", 3L, ts("2020-06-01 00:00:00")),
      ("baz.other", "s1", "A", "10.0.0.1", 4L, ts("2021-01-01 00:00:00"))
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
    val agg = ObservationStore.aggregate(input)
    // plan answers, taken before any legacy store exists
    val mem = ObservationStore.inMemory(agg)
    def answers(st: ObservationStore) =
      (st.answerPoint(rrname = Some("foo.example")).toSet,
        st.answerPoint(rdata = Some("10.0.0.1")).toSet,
        st.answerPrefix("foo.").toSet,
        st.answerCidr("10.0.0.0/24").toSet,
        st.answerCidr("2001:db8::/32").toSet)
    val expected = answers(mem)
    assert(expected._2.size == 2 && expected._4.size == 3)

    def legacy(name: String)(damage: String => Unit): String = {
      val d = java.nio.file.Files.createTempDirectory(s"graft-$name")
        .toString + "/st"
      ObservationStore.writeDual(agg, d, numBuckets = 8)
      damage(d)
      d
    }
    val preMeta = legacy("premeta") { d =>
      assert(new java.io.File(s"$d/_graft_meta.json").delete())
    }
    val layout2 = legacy("layout2") { d =>
      // by_rdata rewritten without rdata_ip6, and the meta says layout 2
      spark.read.parquet(s"$d/by_rdata").drop("rdata_ip6")
        .write.partitionBy("bucket").parquet(s"$d/by_rdata_v2")
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$d/by_rdata"), true)
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$d/by_rdata_v2"),
        new org.apache.hadoop.fs.Path(s"$d/by_rdata")))
      val meta = java.nio.file.Paths.get(s"$d/_graft_meta.json")
      java.nio.file.Files.writeString(meta,
        java.nio.file.Files.readString(meta).replace(""""layout":3""",
          """"layout":2"""))
      // the local filesystem's checksum of the old bytes
      assert(new java.io.File(s"$d/._graft_meta.json.crc").delete())
      assert(ObservationStore.readLayout(spark, d).contains(2L))
      assert(!spark.read.parquet(s"$d/by_rdata").columns.contains("rdata_ip6"))
    }

    Seq(preMeta, layout2).foreach { d =>
      val before = tree(d)
      val commands: Seq[(String, () => Any)] = Seq(
        "load" -> (() => ObservationStore.load(spark, d)),
        "mergeBatch" -> (() => ObservationStore.mergeBatch(spark, d, input)),
        "expire" -> (() => ObservationStore.expire(spark, d,
          ts("2020-01-01 00:00:00"))),
        "deleteWhere" -> (() => ObservationStore.deleteWhere(spark, d,
          col("rrname") === "bar.example")),
        "compact" -> (() => ObservationStore.compact(spark, d)),
        "IndexRouting.install" -> (() => IndexRouting.install(spark, d)))
      commands.foreach { case (name, run) =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains("rebucket"), s"$name: ${e.getMessage}")
      }
      // nothing staged, nothing changed
      assert(!new java.io.File(d).list().exists(_.startsWith("_staging_")))
      assert(tree(d) == before)

      Main.run(spark, Seq("rebucket", "--store", d, "--buckets", "4"))
      assert(ObservationStore.readNumBuckets(spark, d).contains(4))
      assert(ObservationStore.readLayout(spark, d)
        .contains(ObservationStore.CurrentLayout))
      val st = ObservationStore.load(spark, d)
      assert(st.servePoint(rrname = Some("foo.example")).isDefined)
      assert(answers(st) == expected)
    }
  }

  test("rebucket crash replay: a committed whole-copy manifest applies") {
    val input = Seq(
      ("foo", "s1", "A", "1.1.1.1", 1L, ts("2019-03-01 00:00:00")),
      ("bar", "s1", "A", "2.2.2.2", 2L, ts("2019-06-01 00:00:00"))
    ).toDF("rrname", "sensor_id", "rrtype", "rdata", "count", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-rbcrash")
      .toString
    // live store at 8 buckets (epoch 1); a fully-staged rebucket to 2
    // whose process died right after the manifest write
    ObservationStore.writeDual(ObservationStore.aggregate(input),
      s"$dir/st", numBuckets = 8)
    val before = ObservationStore.load(spark, s"$dir/st").forward
      .drop("bucket").collect().map(_.toSeq).toSet
    ObservationStore.writeDual(ObservationStore.aggregate(input),
      s"$dir/other", numBuckets = 2)
    val staging = new java.io.File(s"$dir/st/_staging_2")
    assert(staging.mkdirs())
    Seq("by_rrname", "by_rdata").foreach { sub =>
      assert(new java.io.File(s"$dir/other/$sub")
        .renameTo(new java.io.File(staging, sub)))
    }
    val mf = new java.io.FileWriter(s"$dir/st/_staging_2/_manifest.json")
    mf.write("""{"target_epoch":2,"num_buckets":2,""" +
      s""""layout":${ObservationStore.CurrentLayout},""" +
      """"staged_by_rrname":"","staged_by_rdata":"","whole_copies":1}""")
    mf.close()
    // any open (reader or writer) replays the committed swap
    val st = ObservationStore.load(spark, s"$dir/st")
    assert(ObservationStore.readNumBuckets(spark, s"$dir/st").contains(2))
    assert(ObservationStore.readEpoch(spark, s"$dir/st").contains(2L))
    assert(st.forward.drop("bucket").collect().map(_.toSeq).toSet ==
      before)
    assert(new java.io.File(s"$dir/st/by_rrname").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("bucket=")) <= 2)
    assert(!staging.exists())
  }

  test("dns wire-format helpers match reference quirks") {
    assert(Dns.parseDomainString(Array[Byte](3, 'f', 'o', 'o', 3, 'b', 'a', 'r', 0)) == "foo.bar")
    // malformed label length -> raw bytes fallback
    assert(Dns.parseDomainString(Array[Byte](99, 'x')) == new String(Array[Byte](99, 'x'), "ISO-8859-1"))
    assert(Dns.rrtypeName(1) == "A")
    assert(Dns.rrtypeName(28) == "AAAA")
    assert(Dns.rrtypeName(999) == "999")
    assert(Dns.renderRData(Array[Byte](1, 2, 3, 4), 1) == "1.2.3.4")
    assert(Dns.renderRData(Array[Byte](1, 2, 3), 1) == "") // corrupt A record
    assert(Dns.renderRData(Array[Byte](3, 'w', 'w', 'w', 0), 5) == "www")
  }
}
