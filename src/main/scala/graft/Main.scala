package graft

import org.apache.spark.sql.SparkSession

import graft.operators.{ObservationStore, Tools}
import graft.serve.QueryServer

/** Top-level CLI mirroring the reference's command surface
  * (`cmd/balboa/cmds/root.go` subcommands + the backend-console tools) so
  * a reference operator has a familiar switch-over path:
  *
  * {{{
  * graft.Main build  --obs <parquet> --store <dir> [--buckets 64]
  * graft.Main merge  --obs <parquet> --store <dir>
  * graft.Main serve  --store <dir> [--port 8080]
  * graft.Main query  <subject|cidr> --store <dir> [--limit 1000]
  * graft.Main dump   --store <dir> --out <dir>
  * graft.Main replay --dump <dir> --store <dir> [--buckets 64]
  * graft.Main backup --store <dir> --out <dir>
  * graft.Main rebucket --store <dir> --buckets <n>
  * }}}
  *
  * `serve` ≙ `balboa serve` (GraphQL + REST endpoints, QueryServer);
  * `query` ≙ `balboa query [netmask]` (`cmd/balboa/cmds/query.go:60-61`) —
  * but CIDR subjects run SERVER-side as one range scan on the persisted
  * numeric `rdata_ip` column instead of the reference's client-side
  * per-IP expansion; `dump`/`replay`/`backup` ≙ the backend-console
  * tools (`backend/balboa-backend-console/main.c:44-150`). `build` and
  * `merge` are the Spark-native bulk paths (there is no wire protocol —
  * observation batches arrive as parquet/stream micro-batches).
  *
  * A store has one on-disk shape (a meta recording its bucket count and
  * the current layout). Every store command refuses a legacy store — one
  * without a meta, or of an older layout — and `rebucket` upgrades it in
  * one whole-copy rewrite.
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { System.err.println(usage); sys.exit(2) }
    val spark = Graft.localSession("graft-" + args.head)
    try {
      val server = run(spark, args.toSeq)
      // serve is a daemon: the HTTP server answers until the process is
      // killed. Without this block, the finally would stop the
      // SparkContext the instant start() returned (HttpServer.start is
      // non-blocking) and every request would 500 against a dead engine.
      if (server != null) new java.util.concurrent.CountDownLatch(1).await()
    } finally spark.stop()
  }

  val usage: String =
    """usage: graft.Main <build|merge|serve|query|dump|replay|backup|expire|compact|rebucket|curate|dedup|dump-balboa|replay-balboa|index|search|scan|warc-extract|warc-ingest|ann-index|ann-search|ann-delete|ann-vacuum> [args]
      |  build  --obs <parquet> --store <dir> [--buckets 64]
      |  merge  --obs <parquet> --store <dir>
      |  serve  --store <dir> [--port 8080] [--tcp-port <p>]
      |  query  <subject|cidr> --store <dir> [--limit 1000]
      |  dump   --store <dir> --out <dir>
      |  replay --dump <dir> --store <dir> [--buckets 64]
      |  backup --store <dir> --out <dir>
      |  expire --store <dir> --before <ISO date/date-time/instant, UTC>
      |  compact --store <dir>
      |  rebucket --store <dir> --buckets <new count>   (also upgrades a legacy store)
      |  curate --docs <parquet> --out <dir> [--shards 64] [--budget 8192]
      |  dedup  --docs <parquet> --out <dir>
      |  dump-balboa   --store <dir> --out <dir>         (native wire format)
      |  replay-balboa --dump <dir> --store <dir> [--buckets 64]
      |  index  --docs <parquet> --out <dir> [--buckets 64]
      |  search <term...> --index <dir> [--limit 10]
      |  scan   <pattern...> --docs <parquet> --out <dir> [--id-col doc_id] [--text-col text]
      |  warc-extract --warc <dir> --out <parquet>
      |  warc-ingest  --spool <dir> --corpus <dir> --rejects <dir> --ckpt <dir> [--min-tokens 3] [--mode once|daemon]
      |  ann-index  --embeddings <parquet> --out <dir> [--centroids 8] [--id-col vec_id] [--emb-col embedding]
      |  ann-search <id> --index <dir> --embeddings <parquet> [--limit 10] [--nprobe 2]
      |  ann-delete <id...> --index <dir>
      |  ann-vacuum --index <dir>
      |""".stripMargin

  /** Parse `--flag value` pairs; bare tokens (after the subcommand) are
    * positional. */
  private[graft] def parseFlags(
      args: Seq[String]): (Seq[String], Map[String, String]) = {
    val flags = scala.collection.mutable.Map[String, String]()
    val pos = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        if (i + 1 >= args.length)
          throw new IllegalArgumentException(s"missing value for $a")
        flags(a.drop(2)) = args(i + 1)
        i += 2
      } else { pos += a; i += 1 }
    }
    (pos.toSeq, flags.toMap)
  }

  private def required(flags: Map[String, String], name: String): String =
    flags.getOrElse(name,
      throw new IllegalArgumentException(s"missing required --$name"))

  /** What `serve` started: the HTTP server plus the optional native-TCP
    * listener, stoppable as one unit — a side-channel var here would let
    * a caller stop the returned HTTP server and leak the TCP listener. */
  final case class Servers(http: QueryServer,
      tcp: Option[graft.serve.BalboaTcpServer]) {
    def boundPort: Int = http.boundPort
    def stop(): Unit = { tcp.foreach(_.stop()); http.stop() }
  }

  /** Entry point with an injectable session (tests drive this
    * directly). `serve` returns the started servers so callers can stop
    * them; every other command returns null. */
  private[graft] def run(spark: SparkSession,
      args: Seq[String]): Servers = {
    val (pos, flags) = parseFlags(args.tail)
    args.head match {
      case "build" =>
        val (obsPath, storePath) = (required(flags, "obs"), required(flags, "store"))
        ObservationStore.writeDual(
          ObservationStore.aggregate(spark.read.parquet(obsPath)), storePath,
          flags.get("buckets").map(_.toInt).getOrElse(64))
        null
      case "merge" =>
        val (obsPath, storePath) = (required(flags, "obs"), required(flags, "store"))
        ObservationStore.mergeBatch(spark, storePath,
          spark.read.parquet(obsPath))
        null
      case "serve" =>
        val store = ObservationStore.load(spark, required(flags, "store"))
        val server = new QueryServer(store,
          flags.get("port").map(_.toInt).getOrElse(8080))
        server.start()
        System.err.println(s"[graft] serving on port ${server.boundPort}")
        // optional native-TCP protocol beside HTTP — a live balboa
        // frontend points its backend address here (drop-in, Q12 wire)
        val tcp = flags.get("tcp-port").map { p =>
          val t = new graft.serve.BalboaTcpServer(store, p.toInt)
          t.start()
          System.err.println(
            s"[graft] balboa tcp protocol on port ${t.boundPort}")
          t
        }
        Servers(server, tcp)
      case "query" =>
        val subject = pos.headOption.getOrElse(
          throw new IllegalArgumentException("query needs a subject"))
        val store = ObservationStore.load(spark, required(flags, "store"))
        val limit = flags.get("limit").map(_.toInt).getOrElse(1000)
        val df =
          if (subject.contains("/")) store.cidrQuery(subject, limit)
          else store.restQuery(subject, limit)
        val it = df.toJSON.toLocalIterator()
        while (it.hasNext) println(it.next())
        null
      case "dump" =>
        val store = ObservationStore.load(spark, required(flags, "store"))
        Tools.dump(store.forward.drop("bucket"), required(flags, "out"))
        null
      case "replay" =>
        Tools.replay(spark, required(flags, "dump"),
          required(flags, "store"),
          flags.get("buckets").map(_.toInt).getOrElse(64))
        null
      case "backup" =>
        Tools.backup(spark, required(flags, "store"), required(flags, "out"))
        null
      case "expire" =>
        // retention pruning: drop entries last seen before the cutoff,
        // crash-atomically, both copies. Accepts an ISO date
        // (2020-01-01), naive date-time (2020-01-01T00:00:00, read as
        // UTC), or explicit instant (2020-01-01T00:00:00Z / +offset).
        val cutoffArg = required(flags, "before")
        val instant =
          try {
            if (!cutoffArg.contains("T"))
              java.time.LocalDate.parse(cutoffArg).atStartOfDay()
                .toInstant(java.time.ZoneOffset.UTC)
            else if (cutoffArg.endsWith("Z") || cutoffArg.contains("+") ||
              cutoffArg.lastIndexOf('-') > cutoffArg.indexOf('T'))
              java.time.OffsetDateTime.parse(cutoffArg).toInstant
            else java.time.LocalDateTime.parse(cutoffArg)
              .toInstant(java.time.ZoneOffset.UTC)
          } catch {
            case e: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"expire --before: cannot parse '$cutoffArg' " +
                  s"(${e.getMessage})\n$usage")
          }
        val cutoff = java.sql.Timestamp.from(instant)
        val n = ObservationStore.expire(spark, required(flags, "store"), cutoff)
        System.err.println(s"[graft] expired $n entries")
        null
      case "compact" =>
        val n = ObservationStore.compact(spark, required(flags, "store"))
        System.err.println(s"[graft] compacted $n bucket directories")
        null
      case "rebucket" =>
        val to = required(flags, "buckets").toInt
        val from = ObservationStore.rebucket(spark,
          required(flags, "store"), to)
        System.err.println(s"[graft] rebucketed $from -> $to buckets")
        null
      case "curate" =>
        // the shared Curation.curateChain (same thresholds as the
        // curate_export gate) → token-budget packing of the train split;
        // writes one parquet per split under --out
        import org.apache.spark.sql.functions._
        val (docsPath, outPath) = (required(flags, "docs"), required(flags, "out"))
        val nShards = flags.get("shards").map(_.toInt).getOrElse(64)
        val budget = flags.get("budget").map(_.toLong).getOrElse(8192L)
        // materialized once: three downstream actions (holdout write,
        // packing, join-back) would otherwise each re-run the full
        // scan + redact + dedup chain
        val survivors = operators.Curation
          .curateChain(spark.read.parquet(docsPath))
          .localCheckpoint(false)
        survivors.filter(col("split") =!= "train")
          .write.mode("overwrite").partitionBy("split")
          .parquet(s"$outPath/holdout")
        val packed = operators.Curation.packForTraining(
            survivors.filter(col("split") === "train"), "text", "doc_id",
            nShards, budget)
          .withColumnRenamed("id", "doc_id")
        packed.join(survivors.select(col("doc_id"), col("text")), "doc_id")
          .write.mode("overwrite").partitionBy("shard")
          .parquet(s"$outPath/train")
        null
      case "dedup" =>
        // exact-dedup survivors of a (doc_id, text) corpus — the
        // Dedup.exactDuplicates operator, joined back for the text (the
        // keeper's own text, not an arbitrary first())
        import org.apache.spark.sql.functions._
        val (docsPath, outPath) = (required(flags, "docs"), required(flags, "out"))
        val d = spark.read.parquet(docsPath)
        val dup = operators.Dedup.exactDuplicates(d, "text", "doc_id")
        d.withColumn("content_hash", md5(col("text")))
          .join(dup, "content_hash")
          .filter(col("doc_id") === col("keep_id"))
          .select(col("doc_id"), col("text"), col("n_copies"))
          .write.mode("overwrite").parquet(outPath)
        null
      case "dump-balboa" =>
        // the reference's NATIVE MessagePack dump stream — consumable by
        // the reference's own tooling, and vice versa
        val store = ObservationStore.load(spark, required(flags, "store"))
        Tools.dumpBalboa(store.forward.drop("bucket"), required(flags, "out"))
        null
      case "replay-balboa" =>
        Tools.replayBalboa(spark, required(flags, "dump"),
          required(flags, "store"),
          flags.get("buckets").map(_.toInt).getOrElse(64))
        null
      case "index" =>
        operators.Retrieval.writeIndex(
          spark.read.parquet(required(flags, "docs")),
          flags.getOrElse("text-col", "text"),
          flags.getOrElse("id-col", "doc_id"),
          required(flags, "out"),
          flags.get("buckets").map(_.toInt).getOrElse(64))
        null
      case "search" =>
        if (pos.isEmpty)
          throw new IllegalArgumentException("search needs query terms")
        val df = operators.Retrieval.indexTopK(spark,
          required(flags, "index"), pos,
          flags.get("limit").map(_.toInt).getOrElse(10))
        val it = df.toJSON.toLocalIterator()
        while (it.hasNext) println(it.next())
        null
      case "scan" =>
        // blocklist/lexicon scan: one Aho-Corasick pass per document,
        // (doc_id, pattern, n_hits) rows for every hit
        if (pos.isEmpty)
          throw new IllegalArgumentException("scan needs patterns")
        operators.TextAnalysis.multiPatternHits(
            spark.read.parquet(required(flags, "docs")),
            flags.getOrElse("id-col", "doc_id"),
            flags.getOrElse("text-col", "text"), pos)
          .write.mode("overwrite").parquet(required(flags, "out"))
        null
      case "ann-index" =>
        // persisted IVF index over an (id, embedding) parquet; centroid
        // ids default to the first 8 vectors (k-means seeding is the
        // library surface — Similarity.kMeans — when callers want it)
        val e = spark.read.parquet(required(flags, "embeddings"))
        val nc = flags.get("centroids").map(_.toInt).getOrElse(8)
        operators.Similarity.writeIvfIndex(e,
          flags.getOrElse("id-col", "vec_id"),
          flags.getOrElse("emb-col", "embedding"),
          0L until nc.toLong, required(flags, "out"))
        null
      case "ann-search" =>
        val id = pos.headOption.getOrElse(
          throw new IllegalArgumentException("ann-search needs a query id"))
          .toLong
        val idxPath = required(flags, "index")
        val e = spark.read.parquet(required(flags, "embeddings"))
        val idCol = flags.getOrElse("id-col", "vec_id")
        val q = e.filter(org.apache.spark.sql.functions.col(idCol) === id)
          .select(flags.getOrElse("emb-col", "embedding"))
          .head().getSeq[Float](0)
        val df = operators.Similarity.ivfIndexTopK(spark, idxPath, q,
          queryId = id, k = flags.get("limit").map(_.toInt).getOrElse(10),
          nprobe = flags.get("nprobe").map(_.toInt).getOrElse(2))
        val it = df.toJSON.toLocalIterator()
        while (it.hasNext) println(it.next())
        null
      case "ann-delete" =>
        if (pos.isEmpty)
          throw new IllegalArgumentException("ann-delete needs vector ids")
        operators.Similarity.deleteFromIvfIndex(spark,
          required(flags, "index"), pos.map(_.toLong))
        null
      case "ann-vacuum" =>
        val n = operators.Similarity.vacuumIvfIndex(spark,
          required(flags, "index"))
        System.err.println(s"[graft] vacuumed $n vectors")
        null
      case "warc-ingest" =>
        // the crawl→corpus loop as a CLI: watch a spool dir for finished
        // WARC segments, curate each discovered archive's documents
        // (streaming.WarcIngest). --mode once drains what is currently
        // spooled and exits (cron-style backfill); default is a daemon
        // that keeps watching until killed. Checkpointed discovery makes
        // either mode exactly-once across restarts.
        val q = streaming.WarcIngest.start(spark,
          required(flags, "spool"), required(flags, "corpus"),
          required(flags, "rejects"), required(flags, "ckpt"),
          minTokens = flags.get("min-tokens").map(_.toInt).getOrElse(3))
        if (flags.get("mode").contains("once")) {
          q.processAllAvailable(); q.stop()
        } else q.awaitTermination()
        null
      case "warc-extract" =>
        // Common-Crawl ingest entry: WARC files -> (url, ts, mime, title,
        // text) parquet, boilerplate-stripped and ready for the curation
        // chain (curate/dedup/index read its output directly)
        val recs = sources.Warc.read(spark, required(flags, "warc"))
        import org.apache.spark.sql.functions.col
        val html = col("payload").cast("string")
        recs.select(col("url"), col("ts"), col("content_type"),
            operators.TextAnalysis.htmlTitle(html).as("title"),
            operators.TextAnalysis.htmlExtract(html).as("text"))
          .write.mode("overwrite").parquet(required(flags, "out"))
        null
      case other =>
        throw new IllegalArgumentException(s"unknown command: $other\n$usage")
    }
  }
}
