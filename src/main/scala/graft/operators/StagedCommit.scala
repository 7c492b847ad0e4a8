package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE staged-commit engine shared by every persisted family: the
  * dual observation store, the BM25 index, the positional index, the
  * IVF and IVF-PQ indexes, the n-gram LM, the MinHash band index and the
  * BPE vocabulary. Every write of every family — first build, rebuild,
  * merge, delete, vacuum — is one [[mutate]] over a stage step that
  * writes the family's pieces under `_staging_<generation>`; nothing
  * writes the live tree in place (the one exception is the append-only
  * `_tombstones` table a delete request extends). A family describes
  * itself with a [[Family]] value; everything around its writes lives
  * here:
  *
  *  - the `_graft_meta.json` codec ([[readMeta]]): the epoch, the fields
  *    a family carries over from its manifest, and the streaming
  *    `last_batch_id`, which a write without a batch id keeps;
  *  - the manifest: [[stage]] writes it in one create call — the commit
  *    point, LISTING every staged piece, and in `removed` every live
  *    piece the generation drops (the `_tombstones` part files a rebuild
  *    or vacuum read — never the whole table, so a delete appended
  *    meanwhile survives — and a vacuum's emptied leaves) — and
  *    [[apply]] reads it back;
  *  - [[applyPieces]]: swap each staged piece into the live tree by an
  *    idempotent rename (staged present → swap; already applied → skip;
  *    present in NEITHER place → fail loudly rather than commit a
  *    generation with pieces missing), move each removed piece aside
  *    (and a directory that leaves empty), bump the generation exactly
  *    once, drop the staging dir;
  *  - [[recover]]: resolve interrupted writes on open — a staging dir
  *    WITH a manifest is committed and replays; one WITHOUT is either a
  *    crash leftover or a write a live writer is staging right now, so
  *    only the writer path (`deleteUncommitted = true`) may discard it;
  *  - [[mutate]]: the one writer sequence (recover, skip a committed
  *    batch id, stage, apply) — a build stages whole tables, so the
  *    epoch and batch id commit with them and a build that dies midway
  *    leaves only a staging dir;
  *  - [[stream]]: the one Structured-Streaming driver (build on the first
  *    batch, merge on the rest).
  *
  * Everything runs under [[RecoveryLock]] (recovery always executes on
  * the driver), closing the delete+rename window between concurrent
  * recoverers of the same path. Keeping this logic in one place is
  * load-bearing: a crash-safety fix must reach every family at once, or
  * the layouts silently diverge in exactly the scenarios this exists
  * for. */
private[operators] object StagedCommit {

  /** A manifest whose write was torn mid-crash — the ONLY condition
    * [[recover]] may treat as "not committed" and discard. A dedicated
    * type so transient failures that also surface as
    * IllegalStateException (e.g. a stopped SparkContext during
    * shutdown) propagate instead of deleting a committed merge. */
  final class TornManifest(msg: String) extends IllegalStateException(msg)

  /** A manifest list field naming staged pieces under `dir` — relative
    * to both the staging dir and the live root, "" for the root itself.
    * An absent field marks a torn manifest, unless `ifAbsent` derives
    * the pieces from the staging dir instead. A manifest writes a list
    * with an `ifAbsent` rule before the strict ones, so a torn write
    * always cuts a strict list. */
  final case class PieceList(field: String, dir: String = "",
      ifAbsent: Option[(SparkSession, String) => Seq[String]] = None)

  /** A persisted family's commit shape: its manifest lists, and the
    * manifest fields its meta carries (e.g. the store's `num_buckets`
    * and `layout`), read back on every apply. */
  final case class Family(lists: Seq[PieceList], carried: Seq[String] = Nil)

  /** What a stage step wrote: the staged names per list field, any
    * other numbers the manifest records (a family's carried fields, the
    * store's `whole_copies` flag), and the live pieces (paths relative
    * to the root) the generation drops without a replacement. */
  final case class Manifest(lists: Seq[(String, Seq[String])],
      fields: Seq[(String, Long)] = Nil, removed: Seq[String] = Nil)

  /** Where a stage step writes: the staging `dir`, the `epoch` it
    * commits, and the artifact's `meta` as it stood. */
  final case class Staging(dir: String, epoch: Long, meta: Map[String, Long])

  private val MetaFile = "_graft_meta.json"
  private val ManifestFile = "_manifest.json"
  // one number rule for every meta and manifest field: optional sign,
  // then digits
  private val NumPair = """"(\w+)"\s*:\s*(-?\d+)""".r

  private def readText(spark: SparkSession, file: String): Option[String] = {
    val (f, p) = ObservationStore.fs(spark, file)
    try {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** One JSON object written by a single create call — a torn write
    * fails to parse and reads as absent. */
  private def writeJson(spark: SparkSession, file: String,
      nums: Seq[(String, Long)], lists: Seq[(String, Seq[String])]): Unit = {
    val body = (nums.map { case (k, v) => s""""$k":$v""" } ++
      lists.map { case (k, v) => s""""$k":"${v.mkString(",")}"""" })
      .mkString("{", ",", "}")
    val (f, p) = ObservationStore.fs(spark, file)
    val out = f.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def nums(json: String): Map[String, Long] =
    NumPair.findAllMatchIn(json).map(m => m.group(1) -> m.group(2).toLong)
      .toMap

  /** The numeric fields of `path`'s `_graft_meta.json`; empty when the
    * artifact has none (not built yet, or written before meta files). */
  def readMeta(spark: SparkSession, path: String): Map[String, Long] =
    readText(spark, s"$path/$MetaFile").map(nums).getOrElse(Map.empty)

  def metaField(spark: SparkSession, path: String,
      name: String): Option[Long] =
    readMeta(spark, path).get(name)

  private def readManifest(spark: SparkSession, staging: String): String =
    readText(spark, s"$staging/$ManifestFile").getOrElse(
      throw new java.io.FileNotFoundException(s"$staging/$ManifestFile"))

  /** Comma-separated list field, None when absent. */
  private def listField(manifest: String, name: String): Option[Seq[String]] =
    (""""""" + name + """"\s*:\s*"([^"]*)"""").r.findFirstMatchIn(manifest)
      .map(_.group(1).split(",").toSeq.filter(_.nonEmpty))

  /** Steps 3–5 of [[mutate]], callable alone so crash tests can stop
    * after the manifest: clear `_staging_<epoch+1>` (it can only be
    * manifest-less leftovers here), let `body` write the family's pieces
    * into it, and commit the [[Manifest]] it returns together with
    * `batchId`. A `body` that returns no manifest, or throws, leaves no
    * staging dir behind. Returns the staging dir (None when nothing was
    * staged) and `body`'s result. */
  def stage[T](spark: SparkSession, path: String, batchId: Option[Long])(
      body: Staging => (Option[Manifest], T)): (Option[String], T) = {
    val meta = readMeta(spark, path)
    val epoch = meta.getOrElse("epoch", 0L) + 1L
    val dir = s"$path/_staging_$epoch"
    val (f, sp) = ObservationStore.fs(spark, dir)
    def drop(): Unit = if (f.exists(sp)) { f.delete(sp, true); () }
    drop()
    val (manifest, result) =
      try body(Staging(dir, epoch, meta))
      catch { case e: Throwable => drop(); throw e }
    manifest match {
      case None => drop(); (None, result)
      case Some(m) =>
        // the epoch and batch id first, `removed` next, the family's
        // lists last: a torn write loses a list's closing quote and
        // reads as torn
        writeJson(spark, s"$dir/$ManifestFile", ("target_epoch" -> epoch) +:
          batchId.map("batch_id" -> _).toSeq ++: m.fields,
          ("removed" -> m.removed) +: m.lists)
        (Some(dir), result)
    }
  }

  /** Replay a committed staging dir: swap every piece its manifest lists
    * into the live tree, move every `removed` piece aside, then commit
    * the manifest's epoch, carried fields and batch id as the meta —
    * once, in one create call, so the batch id (else the one the prior
    * meta records: a write without a batch id never erases the
    * exactly-once marker) is atomic with the epoch. */
  def apply(spark: SparkSession, path: String, family: Family,
      staging: String): Unit = {
    val manifest = readManifest(spark, staging)
    val m = nums(manifest)
    def num(name: String): Long = m.getOrElse(name,
      throw new TornManifest(s"staged manifest missing $name: $manifest"))
    val epoch = num("target_epoch")
    val carried = family.carried.map(name => name -> num(name))
    val pieces =
      // whole-copy swaps (the store's rebucket): each list's directory
      // is ONE piece
      if (m.get("whole_copies").contains(1L)) family.lists.map(_.dir)
      else family.lists.flatMap { l =>
        listField(manifest, l.field)
          .orElse(l.ifAbsent.map(_(spark, staging)))
          .getOrElse(throw new TornManifest(
            s"staged manifest missing ${l.field}: $manifest"))
          .map(n => if (l.dir.isEmpty) n else s"${l.dir}/$n")
      }
    // absent in manifests staged before the field existed
    val removed = listField(manifest, "removed").getOrElse(Nil)
    applyPieces(spark, path, staging, pieces, removed, epoch) {
      val prior = readMeta(spark, path)
      if (prior.getOrElse("epoch", 0L) < epoch)
        writeJson(spark, s"$path/$MetaFile", ("epoch" -> epoch) +:
          carried ++: m.get("batch_id").orElse(prior.get("last_batch_id"))
            .map("last_batch_id" -> _).toSeq, Nil)
    }
  }

  /** The one writer sequence behind every staged mutation: recover as
    * the writer, skip a batch id the artifact already committed (the
    * exactly-once replay rule — the marker rides the epoch's meta
    * write), then run `stageStep` (the family's stage step, which ends
    * in [[stage]]) and [[apply]] what it staged. None when the batch was
    * skipped. */
  def mutate[T](spark: SparkSession, path: String, family: Family,
      batchId: Option[Long] = None)(
      stageStep: => (Option[String], T)): Option[T] = {
    recover(spark, path, family, deleteUncommitted = true)
    if (batchId.exists(b => metaField(spark, path, "last_batch_id")
        .exists(_ >= b))) None
    else {
      val (staging, result) = stageStep
      staging.foreach(apply(spark, path, family, _))
      Some(result)
    }
  }

  /** The one Structured-Streaming driver for a persisted family: every
    * non-empty micro-batch `build`s the artifact when it has no
    * `_graft_meta.json` yet and `merge`s into it otherwise, both under
    * the micro-batch id. A build commits its tables, epoch and that id
    * as one manifest, so a first batch that died mid-build replays as a
    * clean rebuild and a committed one as an exactly-once skip — probing
    * a data directory instead would let a half-built artifact replay as
    * a double-counting merge. */
  def stream(spark: SparkSession, data: DataFrame, path: String,
      checkpointDir: String)(build: (DataFrame, Long) => Unit,
      merge: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    data.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        if (batch.isEmpty) ()
        else if (!ObservationStore.pathExists(spark, s"$path/$MetaFile"))
          build(batch, bid)
        else merge(batch, bid)
      }
      .start()

  /** Stage schema-only EMPTY pieces into every directory in `targets`
    * with ONE Spark job: the limit-0 frame writes once (into the first
    * target) and the single footer-only parquet file it produced
    * fs-copies into the rest. Fully-dead partitions a layout keeps (the
    * store's and the text indexes' buckets) must stage explicit empties
    * (a pieced swap would otherwise strand the live files), and a mass
    * takedown can kill THOUSANDS of buckets — one serial limit-0 job per
    * bucket is O(dead) driver job launches; this is one job plus
    * metadata-sized copies. */
  def stageEmptyPieces(spark: SparkSession,
      schemaOnly: org.apache.spark.sql.DataFrame,
      targets: Seq[String]): Unit = {
    if (targets.isEmpty) return
    schemaOnly.limit(0).coalesce(1)
      .write.mode("overwrite").parquet(targets.head)
    if (targets.sizeIs == 1) return
    val (f, hp) = ObservationStore.fs(spark, targets.head)
    val part = f.listStatus(hp).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"stageEmptyPieces: no parquet file written at ${targets.head}"))
    val conf = spark.sessionState.newHadoopConf()
    targets.tail.foreach { t =>
      val (tf, tp) = ObservationStore.fs(spark, t)
      if (tf.exists(tp)) tf.delete(tp, true)
      tf.mkdirs(tp)
      org.apache.hadoop.fs.FileUtil.copy(f, part, tf,
        new org.apache.hadoop.fs.Path(tp, part.getName), false, conf): Unit
    }
  }

  /** Names of the partition subdirectories actually staged under
    * `dir` with the given prefix (e.g. "bucket=", "cluster=") — what a
    * writer records in the manifest as the authoritative piece list. */
  def stagedPartDirs(spark: SparkSession, dir: String,
      prefix: String): Seq[String] = {
    val (f, p) = ObservationStore.fs(spark, dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName).sorted.toSeq
  }

  /** Swap `pieces` (paths relative to BOTH the staging dir and the live
    * root, e.g. "by_rrname/bucket=3", "terms", "vectors/cluster=7")
    * from `staging` into `path`, move the live `removed` pieces aside,
    * then commit `targetGen` once and drop the staging dir. Idempotent
    * at every step — safe to replay from any crash point, and tolerant
    * of a concurrent recoverer winning an individual rename.
    *
    * The swap never DELETES a live piece: the old `dest` (or a removed
    * piece) is moved ASIDE (atomic rename into `staging/_replaced/`)
    * before the staged piece renames in, so a concurrent recoverer of
    * the same manifest cannot destroy data — every piece exists in at
    * least one of {staging, live, aside} at every instant, interleavings
    * at worst strand a piece in the aside slot, and the aside branch
    * below heals that on replay. A removed piece already gone from the
    * live tree is done. The aside copies die with the staging dir. */
  private def applyPieces(spark: SparkSession, path: String,
      staging: String, pieces: Seq[String], removed: Seq[String],
      targetGen: Long)(commitGen: => Unit): Unit =
    RecoveryLock.withLock(path) {
      val (f, _) = ObservationStore.fs(spark, staging)
      def live(rel: String) = new org.apache.hadoop.fs.Path(s"$path/$rel")
      def aside(rel: String) =
        new org.apache.hadoop.fs.Path(s"$staging/_replaced/$rel")
      def moveAside(rel: String): Unit = {
        // only move a live piece aside while OUR manifest is still live:
        // a concurrent recoverer that finished this manifest deletes the
        // staging dir, and blindly recreating it would park the committed
        // piece in a manifest-less staging dir (which a later writer-path
        // recover would discard)
        if (!f.exists(new org.apache.hadoop.fs.Path(staging, ManifestFile)))
          throw new java.io.IOException(
            s"staging $staging vanished mid-apply (concurrent " +
              "recoverer finished this manifest) — aborting replay")
        f.mkdirs(aside(rel).getParent)
        // the aside rename MUST be verified: on local/HDFS filesystems,
        // renaming into a still-existing non-empty directory can NEST src
        // under dest and report success — silent corruption, strictly
        // worse than failing here
        if (!f.rename(live(rel), aside(rel)) && f.exists(live(rel)))
          throw new java.io.IOException(
            s"cannot move live piece aside: ${live(rel)} -> ${aside(rel)}")
      }
      pieces.foreach { rel =>
        val src = new org.apache.hadoop.fs.Path(s"$staging/$rel")
        val dest = live(rel)
        if (f.exists(src)) {
          if (f.exists(dest)) moveAside(rel)
          else f.mkdirs(dest.getParent) // a new piece's parent (band_idx=)
          if (!f.rename(src, dest) && !(f.exists(dest) && !f.exists(src)))
            // a concurrent recoverer may win the rename between our
            // exists-checks — dest present + src gone is success
            throw new java.io.IOException(s"rename $src -> $dest failed")
        } else if (!f.exists(dest)) {
          // src gone, dest gone: an interleaved recoverer can strand the
          // freshly-applied piece in the aside slot (it moved dest aside
          // after the other's swap) — restore it before declaring corrupt
          if (!(f.exists(aside(rel)) && f.rename(aside(rel), dest)))
            throw new java.io.IOException(
              s"staged merge corrupt: $rel missing from $staging, $path " +
                s"and the aside slot — refusing to commit " +
                s"generation $targetGen")
        }
      }
      // removals after every swap: a lost staged piece fails above
      // before the generation drops anything
      removed.foreach(rel => if (f.exists(live(rel))) moveAside(rel))
      // a directory the removals emptied goes too (the `_tombstones`
      // table once its last part is folded, a band dir whose last leaf
      // died): nothing but hidden files (`_SUCCESS`, checksums) left —
      // never a `_temporary` dir, an append still in flight
      removed.filter(_.contains('/'))
        .map(rel => live(rel.substring(0, rel.lastIndexOf('/'))))
        .distinct.foreach { d =>
          if (f.exists(d) && f.listStatus(d).forall(st => st.isFile &&
            (st.getPath.getName.startsWith("_") ||
              st.getPath.getName.startsWith("."))))
            f.delete(d, true)
        }
      // the generation commits LAST, and only once (commitGen checks
      // the recorded epoch) — recovery after a crash between the swaps
      // and this write re-enters with the same target
      commitGen
      f.delete(new org.apache.hadoop.fs.Path(staging), true)
      ()
    }

  /** Salvage committed pieces stranded in a staging dir's `_replaced`
    * slot before that dir is discarded: a recoverer that stalled while a
    * concurrent process finished the same manifest can park the ONLY
    * copy of a committed piece under `_replaced` of a re-created,
    * manifest-less staging dir (its own apply then fails loudly). A
    * stranded piece is recognizable by its live counterpart being
    * MISSING — restore it; a piece whose live counterpart exists is the
    * pre-merge data the swap replaced, and dies with the dir. */
  private def salvageAside(f: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path, liveRoot: String): Unit = {
    def walk(aside: org.apache.hadoop.fs.Path,
        live: org.apache.hadoop.fs.Path, depth: Int): Unit = {
      if (!f.exists(live)) {
        f.mkdirs(live.getParent)
        if (!f.rename(aside, live) && !f.exists(live))
          throw new java.io.IOException(
            s"cannot restore stranded committed piece $aside -> $live")
      } else if (depth < 3 && f.getFileStatus(aside).isDirectory &&
        f.getFileStatus(live).isDirectory) {
        // live CONTAINER exists (e.g. by_rrname) — the stranded piece
        // may be a partition below it
        f.listStatus(aside).foreach(st => walk(st.getPath,
          new org.apache.hadoop.fs.Path(live, st.getPath.getName),
          depth + 1))
      }
    }
    val r = new org.apache.hadoop.fs.Path(staging, "_replaced")
    if (f.exists(r))
      f.listStatus(r).foreach(st => walk(st.getPath,
        new org.apache.hadoop.fs.Path(s"$liveRoot/${st.getPath.getName}"),
        1))
  }

  /** Resolve interrupted merges under `path`: committed staging (has a
    * manifest) replays through [[apply]]; unparsable manifests and
    * manifest-less staging are discarded ONLY on the writer path —
    * a reader may be looking at a live writer mid-stage/mid-manifest.
    * Every discard first salvages stranded `_replaced` pieces. */
  def recover(spark: SparkSession, path: String, family: Family,
      deleteUncommitted: Boolean): Unit =
    RecoveryLock.withLock(path) {
      val (f, p) = ObservationStore.fs(spark, path)
      if (!f.exists(p)) return
      f.listStatus(p).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith("_staging_"))
        .foreach { s =>
          val staging = s.getPath
          if (f.exists(new org.apache.hadoop.fs.Path(staging,
            ManifestFile))) {
            try apply(spark, path, family, staging.toString)
            catch { case _: TornManifest =>
              // ONLY a provably-torn manifest may be discarded; any
              // other failure (including transient IllegalStateException
              // like a stopped SparkContext) propagates — deleting on it
              // would destroy a committed merge
              if (deleteUncommitted) {
                salvageAside(f, staging, path)
                f.delete(staging, true); ()
              }
            }
          } else if (deleteUncommitted) {
            salvageAside(f, staging, path)
            f.delete(staging, true)
            ()
          }
        }
    }
}
