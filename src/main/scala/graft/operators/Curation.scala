package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: PII redaction, passage-level (CCNet-style)
  * dedup, repetition quality signals (Gopher-style), deterministic
  * domain-mixture sampling, and global n-gram statistics.
  *
  * Scale design, per operator:
  *  - PII redaction: pure per-row regex work (codegen'd `regexp_replace` /
  *    `regexp_extract_all`) — narrow, shuffle-free, linear in corpus bytes;
  *  - passage dedup: one shuffle on the passage hash (the inverted step
  *    every paragraph-dedup system has), one shuffle back on doc id for
  *    reassembly — never an all-pairs product;
  *  - repetition signals: per-row array arithmetic only (cost bounded by
  *    doc-length², fine for LLM-sized documents), no shuffle at all —
  *    unlike a naive explode+groupBy which would shuffle every n-gram
  *    occurrence of a 100 TB corpus;
  *  - mixture sampling: stateless hash thresholding — embarrassingly
  *    parallel, reproducible on any cluster size (no RNG, no
  *    `sample()` whose output depends on partitioning);
  *  - n-gram top-k: map-side partial aggregation shrinks the shuffle to
  *    distinct grams, and the final top-k sorts only the aggregated set
  *    (`orderBy.limit` → TakeOrderedAndProject, no full sort at scale).
  *
  * All arithmetic is exact-integer or md5-derived — every operator has a
  * bit-exact DuckDB oracle.
  *
  * TOKENIZATION PRECONDITION: every word-level operator here splits text
  * on a SINGLE space (`split(c, " ")`). Text whose words are separated by
  * runs of whitespace (double spaces, tabs, newlines) will mint
  * empty-string "words" that count toward lengths and n-grams —
  * normalize with `regexp_replace(text, "\\s+", " ")` (and trim) before
  * these operators, or use [[Retrieval]]'s `\s+` tokenizer semantics as
  * the model. Kept single-space rather than `\s+` here because the
  * convention is shared verbatim by every gate's DuckDB oracle and by
  * [[TextAnalysis]]; a curation pipeline normalizes whitespace once at
  * ingest, where a search index cannot assume that.
  */
object Curation {

  /** First 15 md5 hex digits of a value as a 60-bit long — THE hash
    * convention every sampling/sketch operator here shares
    * ([[org.apache.spark.sql.graft.KmvDistinct]]'s `hash60`, digit for
    * digit; `queries.util.hash60Sql` is the DuckDB mirror). One
    * definition so the cross-engine determinism anchor cannot drift. */
  private[graft] def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  // ------------------------------------------------------------- PII

  /** Redaction patterns — deliberately restricted to the regex subset with
    * identical semantics in Java (Spark) and RE2 (DuckDB): character
    * classes, bounded repetition, alternation; no backreferences or
    * lookaround. Order matters (emails before bare domains would, e.g.,
    * matter if both were present) and is fixed: email, phone, IPv4. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** TPC-H/ITU-ish phone shape: CC-NNN-NNN-NNNN. */
  val phonePattern = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val ipv4Pattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** The scrubbed text alone (class order fixed: email, phone, IPv4). */
  def redactText(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipv4Pattern, "<IP>")

  /** Count + redact emails, phone numbers and IPv4 literals. Output keeps
    * the match counts (audit trail) alongside the scrubbed text; counting
    * runs on the ORIGINAL text per class, then replacement is applied in
    * the fixed class order. */
  def redactPii(text: Column): Seq[Column] = {
    val nEmail = size(regexp_extract_all(text, lit(emailPattern), lit(0)))
    val nPhone = size(regexp_extract_all(text, lit(phonePattern), lit(0)))
    val nIp = size(regexp_extract_all(text, lit(ipv4Pattern), lit(0)))
    Seq(nEmail.cast("long").as("n_emails"),
      nPhone.cast("long").as("n_phones"),
      nIp.cast("long").as("n_ips"),
      redactText(text).as("redacted"))
  }

  /** Credit-card candidate: 13–19 digits, optionally single-space/dash
    * separated between digits. Same Java/RE2-portable subset as the
    * other PII patterns; greedy repetition is leftmost-first in both
    * engines. Length floor 13 keeps phone shapes (12 digits) out. */
  val ccCandidatePattern = "[0-9](?:[ -]?[0-9]){12,18}"

  /** Luhn (mod-10) checksum verdict over a digit string (separators
    * already stripped): from the rightmost digit, every second digit
    * doubles (minus 9 when >9) and the total must divide by 10 — the
    * checksum every real card number carries, so digit runs that merely
    * LOOK like card numbers (order ids, timestamps) don't redact.
    * Exact integers, one `aggregate` HOF — narrow, codegen'd. */
  def luhnValid(digits: Column): Column = {
    val n = length(digits)
    (aggregate(sequence(lit(1), n), lit(0), (acc, i) => {
      val x = substr(digits, i, lit(1)).cast("int")
      val dbl = x * 2
      acc + when(pmod(n - i, lit(2)) === 1,
        when(dbl > 9, dbl - 9).otherwise(dbl)).otherwise(x)
    }) % 10) === 0
  }

  /** Checksum-validated credit-card detection + redaction — the P19
    * classes catch shapes, this catches NUMBERS: candidates come from
    * [[ccCandidatePattern]], only Luhn-valid ones count and redact
    * (every occurrence, dashes/spaces preserved around the
    * placeholder). Output keeps candidate and valid counts (the gap is
    * the false-positive audit trail). Pure per-row HOF work, zero
    * shuffle. */
  def ccColumns(text: Column): Seq[Column] = {
    val cands =
      regexp_extract_all(text, lit(ccCandidatePattern), lit(0))
    val valid =
      filter(cands, c => luhnValid(regexp_replace(c, "[ -]", "")))
    Seq(size(cands).cast("long").as("n_cc_candidates"),
      size(valid).cast("long").as("n_ccs"),
      aggregate(valid, text,
        (acc, m) => replace(acc, m, lit("<CC>"))).as("cc_redacted"))
  }

  // -------------------------------------------- passage-level dedup

  /** Non-overlapping passages of `passageTokens` whitespace tokens, in
    * document order. The unit of CCNet-style paragraph dedup, adapted to
    * single-line documents (for newline-delimited corpora, split on
    * newlines instead — same pipeline from here on). */
  def passages(text: Column, passageTokens: Int): Column = {
    val toks = split(text, " ")
    val nPass = ceil(size(toks).cast("double") / passageTokens).cast("int")
    transform(sequence(lit(0), nPass - 1),
      i => concat_ws(" ", slice(toks, i * passageTokens + 1, lit(passageTokens))))
  }

  /** Corpus-level passage dedup: every passage keeps its FIRST occurrence
    * (minimum (doc, position) in global order) and later occurrences are
    * dropped — the CCNet paragraph-hash scheme. Output per document: the
    * reassembled deduplicated text plus passage counts.
    *
    * Two shuffles total: one on the passage hash to pick winners (map-side
    * partial `min` first), one on doc id to reassemble — both scale
    * linearly; there is no pairwise comparison anywhere. */
  def passageDedup(df: DataFrame, textCol: String, idCol: String,
      passageTokens: Int = 10): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
        posexplode(passages(col(textCol), passageTokens))
          .as(Seq("idx", "passage")))
      .withColumn("h", md5(col("passage")))
    // winner of a hash = minimum (id, idx); min over a struct orders
    // lexicographically, so one aggregation finds it
    val winners = exploded.groupBy(col("h"))
      .agg(min(struct(col("id"), col("idx"))).as("w"))
      .select(col("h"), col("w.id").as("w_id"), col("w.idx").as("w_idx"))
    val marked = exploded.join(winners, "h")
      .withColumn("kept", col("id") === col("w_id") && col("idx") === col("w_idx"))
    marked.groupBy(col("id"))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("idx"), col("passage"))))),
            s => s.getField("passage"))).as("text_dedup"))
  }

  // -------------------------------------------- repetition signals

  /** Gopher-style repetition signals, computed per row with array
    * arithmetic only (no explode, no shuffle): the fraction of the
    * document covered by its most frequent word 2-gram, and the fraction
    * of word 3-gram occurrences that are duplicates of an earlier
    * occurrence. High values ⇒ boilerplate / degenerate repetition.
    *
    * Multiplicities come from ONE `aggregate` pass over the SORTED gram
    * array (run-length counting): the collection argument of a Catalyst
    * higher-order function is evaluated once per row and each lambda step
    * is O(1), so per-row cost is O(n log n) for the sort. The tempting
    * `transform(array_distinct(g), x -> size(filter(g, …)))` form is
    * O(n²) — and worse, the inner reference to `g` re-evaluates the whole
    * gram-construction subtree per element (nested Catalyst lambdas
    * inline their captures), which measured ~8× slower end-to-end. */
  def repetitionColumns(text: Column): Seq[Column] = {
    def grams(n: Int): Column = allGrams(text, n)
    // run-length scan over the sorted grams: (prev, run, best, dup) where
    // dup totals occurrences belonging to runs of length ≥ 2
    def runStats(g: Column): Column =
      aggregate(
        array_sort(g),
        struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
          lit(0L).as("best"), lit(0L).as("dup")),
        (acc, x) => {
          val same = acc.getField("prev").isNotNull && acc.getField("prev") === x
          val run = when(same, acc.getField("run") + 1L).otherwise(lit(1L))
          val dup = acc.getField("dup") +
            when(run === 2L, 2L).when(run > 2L, 1L).otherwise(0L)
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"), dup.as("dup"))
        })
    val s2 = runStats(grams(2))
    val s3 = runStats(grams(3))
    val n2 = size(grams(2)).cast("long")
    val n3 = size(grams(3)).cast("long")
    val top2 = s2.getField("best")
    val dup3 = s3.getField("dup")
    // a doc shorter than n words has zero n-grams: its repetition is 0.0
    // by definition (the unguarded division would throw under ANSI)
    Seq(
      n2.as("n_2grams"),
      top2.as("top_2gram_count"),
      when(n2 === 0, 0.0)
        .otherwise(top2.cast("double") / n2.cast("double"))
        .as("top_2gram_frac"),
      n3.as("n_3grams"),
      dup3.as("dup_3gram_count"),
      when(n3 === 0, 0.0)
        .otherwise(dup3.cast("double") / n3.cast("double"))
        .as("dup_3gram_frac"))
  }

  // -------------------------------------------- decontamination

  /** Exact n-gram decontamination against an evaluation/benchmark set —
    * the GPT-3 convention: a training document is contaminated if it
    * shares any full word n-gram (n=13 there) with the eval set. Returns
    * one row per corpus document with its distinct-gram count, how many of
    * those grams appear anywhere in the eval set, and a 0/1 flag.
    *
    * Scale shape: eval sets are tiny relative to the corpus (benchmarks
    * are MBs, the corpus is TBs), so the distinct eval-gram set is
    * BROADCAST — the corpus side is one narrow explode + broadcast-hash
    * probe with NO shuffle of corpus grams; the only shuffle is the
    * per-document count aggregation (map-side combined). Contrast with
    * joining both gram streams on the gram key, which would shuffle the
    * full corpus once per decontamination run. Grams are md5'd on BOTH
    * sides before the join (the [[duplicateSpans]] trick): the broadcast
    * and the probe keys are fixed 32-char digests instead of 13-word
    * strings — an order-of-magnitude smaller broadcast on real text, and
    * the hash-equality matches string-equality up to md5 collisions,
    * which the whole dedup stack already accepts. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, textCol: String,
      idCol: String, n: Int = 13): DataFrame = {
    val evalGrams = evalSet
      .select(explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .select(md5(col("gram")).as("g"))
      .distinct()
      .withColumn("_hit", lit(1L))
    val corpusGrams = corpus
      .select(col(idCol).as("doc_id"), Dedup.shingles(col(textCol), n).as("sh"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"),
        explode(col("sh")).as("gram"))
      .select(col("doc_id"), col("n_grams"), md5(col("gram")).as("g"))
    corpusGrams.join(broadcast(evalGrams), Seq("g"), "left")
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_shared_grams"))
      .withColumn("contaminated", (col("n_shared_grams") > 0).cast("long"))
  }

  /** Corpus SNAPSHOT DIFF: doc-level added/removed/changed/unchanged
    * between two corpus versions, keyed on id with change detected by
    * content hash — the planning step of an INCREMENTAL curation run
    * (re-tokenize/re-score/re-index only `added ∪ changed`, tombstone
    * `removed`, skip the unchanged bulk; the crawl-side counterpart is
    * [[Robots]]' crawl_diff, this is the corpus side). One full-outer
    * equi-join on the id with md5 digests computed map-side — linear,
    * no content shuffled (the hashes travel, not the text). */
  def corpusDiff(oldCorpus: DataFrame, newCorpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = oldCorpus.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("_oh"))
    val n = newCorpus.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("_nh"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("_oh").isNull, "added")
          .when(col("_nh").isNull, "removed")
          .when(col("_oh") === col("_nh"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Per-key RELATIVE quality filter (the CCNet stance): keep a row iff
    * its score clears its OWN key's quantile, not a global constant — a
    * fixed threshold tuned on one domain silently empties another (legal
    * text "fails" a web-prose threshold; short-form domains fail length
    * cuts), so adaptive curation thresholds are per-domain by
    * construction. `quantile` is exact interpolated (the
    * `length_quantiles` determinism argument: on integer scores the
    * interpolated value is a small rational both engines compute
    * identically, so `score >= q` is engine-stable).
    *
    * Shape: one map-side-combined percentile aggregation over keys
    * (key-count-sized result, broadcast into the filter join); the
    * corpus itself is only scanned, never shuffled. */
  def relativeFilter(df: DataFrame, keyCol: String, scoreCol: String,
      quantile: Double = 0.5): DataFrame = {
    require(quantile > 0 && quantile < 1,
      s"quantile in (0,1), got $quantile")
    // null-safe join: a null key is its own stratum (percentile
    // grouping already puts it there) — a plain equi-join would silently
    // VANISH every null-key row regardless of score, the worst failure
    // mode a keep/drop operator can have
    val cuts = df.groupBy(col(keyCol))
      .agg(percentile(col(scoreCol), lit(quantile)).as("_cut"))
      .withColumnRenamed(keyCol, "_cutkey")
    df.join(broadcast(cuts), col(keyCol) <=> col("_cutkey"))
      .filter(col(scoreCol) >= col("_cut"))
      .drop("_cutkey", "_cut")
  }

  /** N-gram NOVELTY against a reference corpus — the memorization /
    * freshness signal of a training-data pipeline (what fraction of a
    * candidate document is n-grams the model's existing corpus already
    * contains?): per document, the count of its distinct n-grams that do
    * NOT occur in `reference`, plus the integer-percent novelty ratio.
    *
    * Same gram machinery as [[decontaminate]] but the join DIRECTION and
    * SIZE assumptions flip: an eval set is small (broadcast), a reference
    * corpus is another 100 TB corpus — so the membership probe is a
    * SHUFFLE left join on the md5'd gram (linear in gram count, no
    * broadcast assumption), with map-side-combined distinct() on the
    * reference side shrinking it to unique grams first. Documents with
    * fewer than n tokens have no grams and score 0 novel / 100 pct
    * (nothing memorized, vacuously novel — the conventional reading). */
  def ngramNovelty(docs: DataFrame, reference: DataFrame, textCol: String,
      idCol: String, n: Int = 3): DataFrame = {
    val refGrams = reference
      .select(explode(Dedup.shingles(col(textCol), n)).as("gram"))
      .select(md5(col("gram")).as("g"))
      .distinct()
      .withColumn("_seen", lit(1L))
    val docGrams = docs
      .select(col(idCol).as("doc_id"), Dedup.shingles(col(textCol), n).as("sh"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"),
        explode_outer(col("sh")).as("gram"))
      .select(col("doc_id"), col("n_grams"), md5(col("gram")).as("g"))
    docGrams.join(refGrams, Seq("g"), "left")
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(sum(when(col("g").isNotNull && col("_seen").isNull, 1L)
        .otherwise(0L)).as("n_novel"))
      .withColumn("novelty_pct",
        when(col("n_grams") === 0, 100L)
          .otherwise(expr("n_novel * 100 div n_grams")))
  }

  // -------------------------------------------- mixture sampling

  /** Deterministic domain-mixture sampling: keep a row iff its content
    * hash falls under the domain's target rate (percent). Content-hash
    * thresholding — not `DataFrame.sample` — so the decision is a pure
    * function of (domain, content): reproducible across runs, engines,
    * partitionings and cluster sizes, and duplicate documents are sampled
    * identically (no leakage of one copy into the sample when another is
    * excluded). Rates are in percent (granularity 1/100 over a 16-bit
    * hash bucket). */
  def mixtureSample(df: DataFrame, domainCol: String, textCol: String,
      ratesPercent: Map[String, Int], defaultPercent: Int = 0): DataFrame = {
    val bucket = conv(substring(md5(col(textCol)), 1, 4), 16, 10)
      .cast("long") % 100
    val rate = ratesPercent.foldLeft(lit(defaultPercent): Column) {
      case (acc, (dom, r)) => when(col(domainCol) === dom, lit(r)).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** α = 0.5 temperature-rebalanced mixture sampling — the multilingual
    * rebalancing convention (sample domain d in proportion to √|d|, so
    * head domains are down-sampled hard and tail domains keep almost
    * everything). `targetTotal` is the EXPECTED output size; per-domain
    * per-mille accept rates are
    * `rate_d = min(1000, (1000·targetTotal·isqrt(c_d)) div (S·c_d))`,
    * `S = Σ_d isqrt(c_d)`, `isqrt = floor(sqrt(·))`.
    *
    * Determinism: IEEE-754 `sqrt` is CORRECTLY ROUNDED (unlike log/exp),
    * so `floor(sqrt(count))` is bit-identical on any engine for counts
    * < 2⁵² — which is what lets a √-law sampler keep a hash-stable
    * oracle. Acceptance is content-hash thresholding like
    * [[mixtureSample]]: a pure function of (domain, content), so the
    * sample is reproducible across runs/partitionings and duplicate
    * documents are sampled identically. (Rates use a 20-bit hash bucket
    * mod 1000 — distribution bias ≤ 0.1%, inherent to modular
    * thresholding and mirrored exactly by the oracle.)
    *
    * Scale shape: one domain-count aggregation (domain-cardinality-sized
    * result, broadcast back to the corpus) + a narrow filter pass.
    * Overflow bound: 1000·targetTotal·isqrt(c) must stay under 2⁶³ —
    * holds for any target ≤ 10¹² over any physical corpus. */
  def temperatureSample(df: DataFrame, domainCol: String, textCol: String,
      targetTotal: Long): DataFrame = {
    require(targetTotal > 0, s"targetTotal must be positive, got $targetTotal")
    val counts = df.groupBy(col(domainCol).as("_dom"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_w", floor(sqrt(col("_c").cast("double"))).cast("long"))
      .localCheckpoint(false) // feeds both the S scalar and the rate join
    val s = counts.agg(sum(col("_w"))).head().getLong(0)
    val rates = counts.withColumn("_rate",
      least(lit(1000L), expr(s"(1000 * $targetTotal * _w) div ($s * _c)")))
    val bucket = conv(substring(md5(col(textCol)), 1, 5), 16, 10)
      .cast("long") % 1000
    df.join(broadcast(rates.select(col("_dom"), col("_rate"))),
        col(domainCol) === col("_dom"))
      .filter(bucket < col("_rate"))
      .drop("_dom", "_rate")
  }

  /** Exact-quota stratified sampling: exactly `min(n, |stratum|)` rows
    * per stratum, chosen by content-hash order (md5 of the text, ties →
    * id) — the deterministic complement to rate-based [[mixtureSample]]
    * for "exactly 10k docs per language" requirements. One shuffle on the
    * stratum key; the per-stratum ranking window partitions are the
    * strata themselves, so skew follows the declared strata, not data
    * surprises. */
  def stratifiedSample(df: DataFrame, stratumCol: String, textCol: String,
      idCol: String, nPerStratum: Int): DataFrame = {
    require(nPerStratum > 0, s"nPerStratum must be positive, got $nPerStratum")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(textCol)), col(idCol))
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= nPerStratum)
      .drop("_rk")
  }

  /** Key-skew profile — the pre-shuffle diagnostic for a 100 TB join or
    * aggregation: per-key counts (map-side combined, one shuffle of
    * distinct keys), reduced to a single row of distribution facts. The
    * `max_over_avg_permille` ratio is the salting/AQE-skew-join decision
    * input (1000 = perfectly uniform). Exact integers only; computed as
    * `max·1000 div (rows div keys)` — `max·1000·keys` would overflow
    * Long at exactly the billion-key scales this exists for, while
    * `max·1000` stays far under 2⁶³ for any physical key. (`rows div
    * keys` ≥ 1 always: every counted key has ≥ 1 row.) */
  def keySkew(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_key_rows"),
        min(col("n")).as("min_key_rows"))
      .select(col("n_keys"), col("n_rows"), col("max_key_rows"),
        col("min_key_rows"),
        expr("max_key_rows * 1000 div (n_rows div n_keys)")
          .as("max_over_avg_permille"))

  /** Rendezvous (highest-random-weight) shard assignment — the
    * consistent placement a GROWING cluster needs: item → the shard
    * with the highest `hash60(item:shard)`. Where mod-N placement
    * reshuffles (N−1)/N of the corpus when N changes, HRW moves ONLY
    * the items of a removed shard (and, on add, exactly the items the
    * new shard now wins — 1/N in expectation): the Thaler–Ravishankar
    * construction, all md5-derived so any engine and any later run
    * agrees on every placement.
    *
    * Shape: pure NARROW map — |shards| hash evaluations per row folded
    * by `array_max` over (hash, shard) structs (greatest hash wins,
    * shard name breaks the astronomically-unlikely tie), zero shuffle;
    * the shard LIST rides the plan as literals, so it's for
    * node/bucket-scale fan-outs (tens to hundreds), not millions. */
  def rendezvousAssign(df: DataFrame, itemCol: String,
      shards: Seq[String], shardCol: String = "shard"): DataFrame = {
    require(shards.nonEmpty, "rendezvousAssign: empty shard list")
    require(shards.distinct.size == shards.size,
      s"rendezvousAssign: duplicate shard names")
    val scored = array(shards.map(s => struct(
      hash60(concat(col(itemCol).cast("string"), lit(":" + s))).as("h"),
      lit(s).as("s"))): _*)
    // a NULL item is absence, not a value (the module convention): all
    // its hashes are NULL, and without this guard the struct tie-break
    // would silently pile every NULL row onto the lexicographically
    // largest shard — it gets a NULL (unassigned) shard instead
    df.withColumn(shardCol,
      when(col(itemCol).isNull, lit(null).cast("string"))
        .otherwise(array_max(scored).getField("s")))
  }

  /** One-pass per-column data profile — the ANALYZE-style audit a
    * pipeline runs before trusting a new data drop: for every requested
    * column, row count, null count, EXACT distinct count, and min/max
    * rendered as strings (one output schema for any column type).
    *
    * Shape: ONE aggregate over ONE scan. The exact multi-column
    * distincts make Catalyst plan an Expand (one duplicated stream per
    * distinct aggregate) — the right trade at audit cadence; at
    * continuous 100 TB cadence swap n_distinct to [[kmvDistinct]] (the
    * mergeable single-stream sketch) and keep the rest. The single
    * result row reshapes to one row per column on the driver —
    * cols × 6 values, never data-sized. */
  def profileTable(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileTable needs at least one column")
    val spark = df.sparkSession
    import spark.implicits._
    val aggs = cols.flatMap(c => Seq(
      count(lit(1)).as(s"${c}__rows"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      countDistinct(col(c)).as(s"${c}__nd"),
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    def l(f: String): Long =
      if (r.isNullAt(r.fieldIndex(f))) 0L else r.getAs[Long](f)
    cols.map { c =>
      (c, l(s"${c}__rows"), l(s"${c}__nulls"), l(s"${c}__nd"),
        r.getAs[String](s"${c}__min"), r.getAs[String](s"${c}__max"))
    }.toDF("column_name", "n_rows", "n_null", "n_distinct",
      "min_value", "max_value")
  }

  // ------------------------------------------- ordering & data mixing

  /** Sequential 0-based rank of each row within its `groupCol`, ordered
    * by `orderCols` — the scalable replacement for
    * `row_number() OVER (PARTITION BY group ORDER BY ...) - 1`.
    *
    * SCALE: the window form ships an ENTIRE group into one task — a
    * single source/domain of a 100 TB corpus can be terabytes, and the
    * "last reducer" holds all of it. Here one range repartition on
    * (group ++ order) builds a TOTAL order split across bounded-size
    * partitions, a zipWithIndex pass assigns global positions (the one
    * RDD drop in the repo: Spark has no sequential-index expression;
    * its second pass re-reads the already-materialized shuffle files,
    * so it costs a narrow scan, not a recompute), and the group rank is
    * the global index minus the group's first index — a one-row-per-
    * group aggregate broadcast back. The rank depends only on the total
    * order, never on where range sampling put partition boundaries.
    *
    * `orderCols` must be unique within a group (ties would rank
    * nondeterministically). Distinct groups are assumed bounded
    * (sources / domains / splits — one aggregate row each); rows PER
    * group are unbounded, which is the point. */
  def stableRank(df: DataFrame, groupCol: String, orderCols: Seq[String],
      rankCol: String = "rank"): DataFrame = {
    require(orderCols.nonEmpty, "stableRank needs at least one order column")
    val keys = (groupCol +: orderCols).map(col)
    val sorted = df.repartitionByRange(keys: _*)
      .sortWithinPartitions(keys: _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "_gidx", org.apache.spark.sql.types.LongType, nullable = false))
    val withIdx = sorted.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }, schema)
    val offsets = withIdx.groupBy(col(groupCol).as("_g"))
      .agg(min(col("_gidx")).as("_goff"))
    // null-safe join: a NULL group is still a group (the window form
    // ranks it; dropping its rows here would be silent data loss)
    withIdx.join(broadcast(offsets), col(groupCol) <=> col("_g"))
      .withColumn(rankCol, col("_gidx") - col("_goff"))
      .drop("_g", "_gidx", "_goff")
  }

  /** Stride-scheduled deterministic interleave of weighted groups — the
    * training-order "data mixing" step: sort by the returned
    * `sched_key` (group as tiebreak) and every prefix of the order
    * holds each group in proportion to its weight (within one stride
    * round) — the steady mixing SGD wants — with no RNG and no
    * dependence on cluster size or partitioning.
    *
    * Group g's i-th row (i = [[stableRank]] over `orderCols`) gets
    * `sched_key = (i+1) · L/w_g` with L = lcm(weights): classic stride
    * scheduling, exact integers end to end, so ties and order are
    * engine-portable. Rows of groups absent from `weights` are dropped
    * (weight 0 = not in the mix). Cost = stableRank's one range
    * shuffle plus a broadcast-map lookup; the sort by sched_key is the
    * consumer's (it is exactly the write-time range partition of
    * [[packForTraining]]-style sharding, not an extra global sort
    * here). */
  def mixSchedule(df: DataFrame, groupCol: String, orderCols: Seq[String],
      weights: Map[String, Long]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixSchedule: weights must be positive")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val l = weights.values.reduce((a, b) => a / gcd(a, b) * b)
    val strides = weights.map { case (g, w) => (g, l / w) }
    stableRank(df.filter(col(groupCol)
        .isInCollection(weights.keys.toSeq)),
        groupCol, orderCols, "mix_rank")
      .withColumn("sched_key", (col("mix_rank") + 1) *
        element_at(typedLit(strides), col(groupCol)))
  }

  /** Global token-budget selection — "take the best `budget` tokens":
    * rows are ranked by a TOTAL order over `orderCols` (which must be
    * unique across rows — ties would make the cut nondeterministic) and
    * kept while the running `weightCol` total BEFORE the row is under
    * `budget`; the straddling row is KEPT (the contiguous convention
    * shared with [[packForTraining]]), so a positive budget always
    * selects at least one row when any exists.
    *
    * SCALE: the textbook form is `SUM(w) OVER (ORDER BY ...)` — an
    * unpartitioned window that ships the entire corpus through ONE
    * task. Here one range repartition builds the total order across
    * bounded-size partitions and is MATERIALIZED once (localCheckpoint
    * — pins both the sampled range boundaries and the sorted row order
    * for the two consumers below, the DistributedOrder rule); a first
    * pass sums each partition's weights as a codegen aggregation
    * (numPartitions longs to the driver — no external-Row conversion
    * and no second sort, r16: the old `.rdd` pass re-sorted and
    * re-converted the whole corpus just to add longs); the exclusive
    * prefix offsets are broadcast back, and a second pass emits each
    * row's exact global running total from the checkpointed rows.
    * Partitions whose offset already meets the budget are skipped
    * WITHOUT scanning, and a partition stops at its first over-budget
    * row — at 100 TB the second pass converts only the selected
    * prefix, not the corpus.
    *
    * Output: the input columns plus `totalCol` (the inclusive global
    * running total), filtered to the selection. `weightCol` must be
    * non-negative, non-null longs — exact integers keep the cut
    * engine-portable, and a negative weight would break the
    * monotonicity the early-stop relies on (both are checked). */
  def budgetSelect(df: DataFrame, weightCol: String,
      orderCols: Seq[Column], budget: Long,
      totalCol: String = "running_total"): DataFrame = {
    require(orderCols.nonEmpty, "budgetSelect needs at least one order column")
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val sorted = df.withColumn(weightCol, col(weightCol).cast("long"))
      .repartitionByRange(orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .localCheckpoint(false)
    val wIdx = sorted.schema.fieldIndex(weightCol)
    def weightAt(r: org.apache.spark.sql.Row): Long = {
      require(!r.isNullAt(wIdx), s"budgetSelect: null $weightCol")
      val v = r.getLong(wIdx)
      require(v >= 0, s"budgetSelect: negative $weightCol ($v)")
      v
    }
    // codegen pass over the checkpoint: try_sum yields null on overflow
    // whatever the session's ANSI mode, and a null sum over non-null
    // weights fails like Math.addExact; null/negative weights are
    // rejected with the same loud contract the row pass enforced —
    // including in partitions the budget would let pass 2 skip
    val stats = sorted.groupBy(spark_partition_id().as("_pid"))
      .agg(try_sum(col(weightCol)).as("_s"),
        count(lit(1)).as("_n"), count(col(weightCol)).as("_nw"),
        min(col(weightCol)).as("_min"))
      .collect()
    stats.foreach { r =>
      require(r.getLong(2) == r.getLong(3),
        s"budgetSelect: null $weightCol")
      require(r.getLong(2) == 0L || r.getLong(4) >= 0L,
        s"budgetSelect: negative $weightCol (${r.getLong(4)})")
      if (r.getLong(3) > 0L && r.isNullAt(1))
        throw new ArithmeticException(
          s"budgetSelect: $weightCol total overflows a long")
    }
    val nParts = sorted.rdd.getNumPartitions
    val partSums = Array.fill(nParts)(0L)
    stats.foreach(r => partSums(r.getInt(0)) = r.getLong(1))
    val offsets = partSums.scanLeft(0L)(Math.addExact) // exclusive prefix
    val bcOff = sorted.sparkSession.sparkContext.broadcast(offsets)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        totalCol, org.apache.spark.sql.types.LongType, nullable = false))
    val rows = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      val start = bcOff.value(i)
      if (start >= budget) Iterator.empty
      else {
        var run = start
        it.map { r =>
          val before = run
          run = Math.addExact(run, weightAt(r))
          (before, org.apache.spark.sql.Row.fromSeq(r.toSeq :+ run))
        }.takeWhile(_._1 < budget).map(_._2)
      }
    }
    sorted.sparkSession.createDataFrame(rows, schema)
  }

  /** Per-group [[budgetSelect]] — "cap every domain at `budget`
    * tokens": within each `groupCol` value, rows are ranked by
    * `orderCols` and kept while the group's running `weightCol` total
    * before the row is under `budget` (straddling row kept, same
    * convention). The scalable replacement for
    * `SUM(w) OVER (PARTITION BY g ORDER BY ...)`, whose window ships
    * an ENTIRE group — a whole domain of a 100 TB corpus — into one
    * task.
    *
    * Same partition-offset scan as [[budgetSelect]], keyed: the range
    * repartition totals order on (group ++ order), so groups are
    * contiguous runs split across bounded partitions; pass 1 sums each
    * (partition, group) slice — distinct groups are assumed bounded
    * (sources/domains, the [[stableRank]] contract), so the offset
    * table is small — and pass 2 threads each group's running total
    * through its runs. A NULL group is a group (dropping it would be
    * silent data loss). */
  def budgetSelectByGroup(df: DataFrame, weightCol: String,
      groupCol: String, orderCols: Seq[Column], budget: Long,
      totalCol: String = "running_total"): DataFrame = {
    require(orderCols.nonEmpty,
      "budgetSelectByGroup needs at least one order column")
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val sorted = df.withColumn(weightCol, col(weightCol).cast("long"))
      .repartitionByRange((col(groupCol) +: orderCols): _*)
      .sortWithinPartitions((col(groupCol) +: orderCols): _*)
      .localCheckpoint(false) // pins boundaries + sorted order for both
                              // passes (the budgetSelect reshape)
    val wIdx = sorted.schema.fieldIndex(weightCol)
    val gIdx = sorted.schema.fieldIndex(groupCol)
    def weightAt(r: org.apache.spark.sql.Row): Long = {
      require(!r.isNullAt(wIdx), s"budgetSelectByGroup: null $weightCol")
      val v = r.getLong(wIdx)
      require(v >= 0, s"budgetSelectByGroup: negative $weightCol ($v)")
      v
    }
    // pass 1 as a codegen aggregation over the checkpoint (no
    // external-Row conversion, no re-sort — the budgetSelect reshape);
    // try_sum's null on overflow fails like Math.addExact, in any ANSI
    // mode
    val partSums = sorted
      .groupBy(spark_partition_id().as("_pid"), col(groupCol).as("_g"))
      .agg(try_sum(col(weightCol)).as("_s"),
        count(lit(1)).as("_n"), count(col(weightCol)).as("_nw"),
        min(col(weightCol)).as("_min"))
      .collect()
      .map { r =>
        require(r.getLong(3) == r.getLong(4),
          s"budgetSelectByGroup: null $weightCol")
        require(r.getLong(3) == 0L || r.getLong(5) >= 0L,
          s"budgetSelectByGroup: negative $weightCol (${r.getLong(5)})")
        if (r.getLong(4) > 0L && r.isNullAt(2))
          throw new ArithmeticException(
            s"budgetSelectByGroup: $weightCol total overflows a long")
        (r.getInt(0), r.get(1), r.getLong(2))
      }
    // exclusive prefix offset of each group at each partition
    val offsets: Map[(Int, Any), Long] = {
      val acc = scala.collection.mutable.HashMap.empty[Any, Long]
      partSums.sortBy(_._1).map { case (pid, g, s) =>
        val off = acc.getOrElse(g, 0L)
        acc(g) = Math.addExact(off, s)
        (pid, g) -> off
      }.toMap
    }
    val bcOff = sorted.sparkSession.sparkContext.broadcast(offsets)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        totalCol, org.apache.spark.sql.types.LongType, nullable = false))
    val rows = sorted.rdd.mapPartitionsWithIndex { (i, it) =>
      val off = bcOff.value
      val run = scala.collection.mutable.HashMap.empty[Any, Long]
      it.flatMap { r =>
        val g = r.get(gIdx)
        val before = run.getOrElse(g, off.getOrElse((i, g), 0L))
        run(g) = Math.addExact(before, weightAt(r))
        if (before < budget)
          Some(org.apache.spark.sql.Row.fromSeq(r.toSeq :+ run(g)))
        else None
      }
    }
    sorted.sparkSession.createDataFrame(rows, schema)
  }

  /** Importance weighting for target-distribution data selection — the
    * DSIR idea (Xie et al. 2023, "Data Selection via Importance
    * Resampling") re-expressed in exact integers: hashed word-bucket
    * counts give a RAW (whole-corpus) and TARGET (`targetFilter` rows)
    * distribution over `nBuckets` md5-derived buckets; each document
    * scores the sum of its tokens' scaled likelihood ratios
    * `(tgt[b]+1)·scale div (raw[b]+1)` (add-one smoothing). The
    * corpus/target size constant cancels in ranking, so totals are
    * never multiplied in (also keeps every product far inside a Long).
    *
    * DOCUMENTED DEVIATION: DSIR sums LOG ratios (a geometric mean);
    * libm log is not correctly-rounded-portable, so this sums the
    * ratios themselves — per-token monotone in the same direction,
    * exact-integer, bit-stable across engines (the BM25 ratio-idf
    * rationale). Rankings can differ from the paper's where a single
    * extreme bucket dominates a long document.
    *
    * Shape: one token explode feeding two bucket-sized aggregations
    * (`nBuckets` rows — broadcastable at any corpus scale) and one
    * map-side-combined per-document sum over a broadcast ratio table.
    * Nothing joins document-against-document. */
  def importanceWeights(df: DataFrame, textCol: String, idCol: String,
      targetFilter: Column, nBuckets: Int = 1024,
      scale: Long = 1000000L): DataFrame = {
    require(nBuckets > 0 && nBuckets <= (1 << 16),
      s"nBuckets in [1, 65536], got $nBuckets")
    val tok = df.select(col(idCol).as("doc_id"),
        targetFilter.cast("boolean").as("is_t"),
        explode(split(col(textCol), " ")).as("word"))
      .withColumn("b",
        conv(substring(md5(col("word")), 1, 4), 16, 10).cast("long")
          % nBuckets)
      .localCheckpoint(false) // feeds raw counts, target counts, doc sum
    val raw = tok.groupBy(col("b")).agg(count(lit(1)).as("raw_n"))
    val tgt = tok.filter(col("is_t")).groupBy(col("b"))
      .agg(count(lit(1)).as("tgt_n"))
    val ratios = raw.join(tgt, Seq("b"), "left")
      .select(col("b"),
        expr(s"((coalesce(tgt_n, 0) + 1) * $scale) div (raw_n + 1)")
          .as("ratio"))
    tok.join(broadcast(ratios), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("ratio")).cast("long").as("importance_sum"))
      .withColumn("importance_mean",
        expr("importance_sum div n_tokens"))
  }

  /** Per-(document, adjacent-word-pair) occurrence counts — the shared
    * front half of [[lmScores]] and [[pmiCollocations]]. Counting per
    * doc FIRST means a document repeating 'of the' n times sends ONE
    * weighted row through any downstream join, not n identical rows. */
  private def bigramOccurrences(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    df.select(col(idCol).as("doc_id"),
        explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .groupBy(col("doc_id"), col("p.w1"), col("p.w2"))
      .agg(count(lit(1)).as("n"))
  }

  /** Bigram language-model corpus-fit scores — the KenLM-style
    * perplexity filter re-expressed in exact integers: add-one-smoothed
    * bigram conditionals `(c(w1,w2)+1)·scale div (c(w1)+V)` are trained
    * over the corpus itself (c(w1) = full unigram count, V = vocabulary
    * size) and every document scores the sum over its own bigram
    * occurrences. High scores = text made of common continuations;
    * outlier (garbled / off-distribution) documents score low —
    * the standard LM-based quality signal.
    *
    * DOCUMENTED DEVIATION (same rationale as [[importanceWeights]]):
    * KenLM sums LOG probabilities; libm log is not bit-portable, so this
    * sums the scaled probabilities themselves — per-bigram monotone,
    * exact-integer, hash-stable. `lm_mean` (score div n_bigrams) is the
    * length-normalized filter column. `scale` must satisfy
    * (max bigram count + 1)·scale < 2⁶³ — at 1e9 that allows ~9.2e9
    * occurrences of one bigram; lower it for larger corpora.
    *
    * Shape: one explode → bigram-count and unigram-count aggregations
    * (vocabulary-sized); scoring joins occurrences to counts ON THE
    * BIGRAM KEY — a plain shuffle equi-join that never assumes the
    * bigram table is broadcastable (at web scale it isn't) — then one
    * map-side-combined per-document sum. The 1-row vocabulary size
    * rides a broadcast. Documents with fewer than 2 tokens have no
    * bigrams and drop out (score undefined, not 0). */
  def lmScores(df: DataFrame, textCol: String, idCol: String,
      scale: Long = 1000000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val toks = split(col(textCol), " ")
    val pairs = bigramOccurrences(df, textCol, idCol)
      .localCheckpoint(false) // feeds bigram counts AND the doc sum
    val c1 = df.select(explode(toks).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c1"))
      .localCheckpoint(false) // feeds the vocab size AND the scoring join
    val vocab = c1.agg(count(lit(1)).as("vsz"))
    val c2 = pairs.groupBy(col("w1"), col("w2"))
      .agg(sum(col("n")).cast("long").as("c2"))
    pairs.join(c2, Seq("w1", "w2"))
      .join(c1.withColumnRenamed("word", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("n"),
        expr(s"((c2 + 1) * $scale) div (c1 + vsz)").as("p_scaled"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("n_bigrams"),
        sum(col("n") * col("p_scaled")).cast("long").as("lm_score"))
      .withColumn("lm_mean", expr("lm_score div n_bigrams"))
  }

  /** Corpus bigram counts — ONE definition shared by [[writeLm]] and
    * [[stageLmMerge]] (the phraseFold rule: a tokenization change can
    * never make the rebuilt and incrementally-merged artifacts
    * diverge). */
  private def lmBigramCounts(df: DataFrame, textCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    df.select(explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).cast("long").as("c2"))
  }

  /** Corpus unigram counts — shared like [[lmBigramCounts]]. */
  private def lmUnigramCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).cast("long").as("c1"))

  /** Persist the bigram-LM count tables trained on `df` at `path` —
    * `(w1, w2, c2)` bigram counts, `(word, c1)` unigram counts, and the
    * 1-row vocabulary size — the train-once-score-many artifact
    * ([[graft.operators.BpeVocab]]'s stance for the tokenizer, applied
    * to the LM): production scores every new batch against ONE trained
    * model instead of re-counting the reference corpus per run. A
    * (re)build is one staged generation of all three tables; a `batchId`
    * the tables already committed is skipped ([[mergeLm]] folds later
    * batches in). Tables are vocabulary-sized, not corpus-sized. */
  def writeLm(df: DataFrame, textCol: String, path: String,
      batchId: Option[Long] = None): Unit =
    StagedCommit.mutate(df.sparkSession, path, Lm, batchId)(
      Some(stageLmBuild(df, textCol, path, batchId)) -> ()): Unit

  /** [[writeLm]]'s stage step: the three tables counted from `df` and
    * staged whole; package-visible so crash tests can stop here. */
  private[graft] def stageLmBuild(df: DataFrame, textCol: String,
      path: String, batchId: Option[Long] = None): String = {
    require(!df.isEmpty, "writeLm: corpus is empty")
    StagedCommit.stage(df.sparkSession, path, batchId) { stg =>
      lmBigramCounts(df, textCol)
        .write.mode("overwrite").parquet(s"${stg.dir}/bigrams")
      writeLmUnigrams(lmUnigramCounts(df, textCol)
        .localCheckpoint(false), stg) // feeds the table AND the vocab size
      Some(LmManifest) -> ()
    }._1.get
  }

  /** The LM's commit shape: three whole tables per generation. */
  private val Lm = StagedCommit.Family(Seq(
    StagedCommit.PieceList("staged_tables")))

  /** Incremental LM maintenance: fold a batch of NEW documents into the
    * persisted count tables — counts merge ADDITIVELY (one vocabulary-
    * sized aggregation per table; the batch, not the corpus, is
    * re-counted), under the house staged-commit lifecycle: stage merged
    * tables elsewhere, commit by manifest, swap idempotently, bump the
    * generation LAST — a crash anywhere replays or discards cleanly and
    * a scorer never sees bigram counts from one generation with unigram
    * counts from another. `batchId` gives stream-replay exactly-once
    * (the [[Retrieval.mergeIndex]] contract: an already-committed batch
    * id is skipped, not double-counted). */
  def mergeLm(spark: SparkSession, path: String, batch: DataFrame,
      textCol: String, batchId: Option[Long] = None): Unit =
    StagedCommit.mutate(spark, path, Lm, batchId)(
      Some(stageLmMerge(spark, path, batch, textCol, batchId)) -> ()): Unit

  /** Stage the merged LM tables and commit the manifest; package-visible
    * so crash tests can stop here (the stageIndexMerge convention). */
  private[graft] def stageLmMerge(spark: SparkSession, path: String,
      batch: DataFrame, textCol: String,
      batchId: Option[Long] = None): String = {
    require(!batch.isEmpty, "mergeLm: batch is empty")
    StagedCommit.stage(spark, path, batchId) { stg =>
      spark.read.parquet(s"$path/bigrams")
        .unionAll(lmBigramCounts(batch, textCol))
        .groupBy(col("w1"), col("w2"))
        .agg(sum(col("c2")).cast("long").as("c2"))
        .write.mode("overwrite").parquet(s"${stg.dir}/bigrams")
      val mergedC1 = spark.read.parquet(s"$path/unigrams")
        .unionAll(lmUnigramCounts(batch, textCol))
        .groupBy(col("word")).agg(sum(col("c1")).cast("long").as("c1"))
        .localCheckpoint(false) // feeds the table AND the vocab recount
      writeLmUnigrams(mergedC1, stg)
      Some(LmManifest) -> ()
    }._1.get
  }

  /** The unigram table and the vocabulary size counted from it. */
  private def writeLmUnigrams(c1: DataFrame,
      stg: StagedCommit.Staging): Unit = {
    c1.write.mode("overwrite").parquet(s"${stg.dir}/unigrams")
    c1.agg(count(lit(1)).cast("long").as("vsz"))
      .write.mode("overwrite").parquet(s"${stg.dir}/stats")
  }

  private val LmManifest =
    StagedCommit.Manifest(Seq("staged_tables" ->
      Seq("bigrams", "unigrams", "stats")))

  /** Retraction on the persisted LM tables — the statistics-exact
    * delete ([[Retrieval.deleteFromIndex]]'s n-gram twin): the counts
    * are additive, so deleting documents is a staged merge with the
    * SIGN FLIPPED — the deleted docs' bigram/unigram counts subtract,
    * zero-count rows drop, the vocabulary size recounts, and all three
    * tables swap as one generation under the existing LM manifest (no
    * tombstone phase needed: counts are self-contained, so the whole
    * retraction is a single staged mutation). Deleting text never
    * merged in drives some count NEGATIVE — detected on the
    * vocabulary-sized merged tables and REFUSED before the manifest
    * exists, so a bad request can never commit (the vacuumIndex
    * never-indexed guard).
    *
    * `batchId` makes the delete-ONCE subtraction replay-safe — the
    * mergeLm stream contract applied to retraction: the id commits
    * atomically with the generation, so a Spark-retried deletion batch
    * (or a crashed-and-retried [[graft.operators.Forget
    * .forgetDocuments]] fan-out) skips instead of refusing on the
    * negative-count guard. The id space is the artifact's one monotone
    * counter, shared with merges. */
  def deleteFromLm(spark: SparkSession, path: String, docs: DataFrame,
      textCol: String, batchId: Option[Long] = None): Unit = {
    require(!docs.isEmpty, "deleteFromLm: nothing to delete")
    StagedCommit.mutate(spark, path, Lm, batchId) {
      StagedCommit.stage(spark, path, batchId) { stg =>
        def subtracted(live: DataFrame, dead: DataFrame, keys: Seq[String],
            cnt: String): DataFrame =
          live.unionAll(dead.select((keys.map(col) :+ (-col(cnt)).as(cnt)): _*))
            .groupBy(keys.map(col): _*)
            .agg(sum(col(cnt)).cast("long").as(cnt))
        val b2 = subtracted(spark.read.parquet(s"$path/bigrams"),
          lmBigramCounts(docs, textCol), Seq("w1", "w2"), "c2")
          .localCheckpoint(false) // feeds the guard AND the write
        val c1 = subtracted(spark.read.parquet(s"$path/unigrams"),
          lmUnigramCounts(docs, textCol), Seq("word"), "c1")
          .localCheckpoint(false)
        def minOf(d: DataFrame, cnt: String): Long =
          Option(d.agg(min(col(cnt))).head().getAs[java.lang.Long](0))
            .map(_.longValue).getOrElse(0L)
        // the throw drops the staging dir: nothing can commit
        if (math.min(minOf(b2, "c2"), minOf(c1, "c1")) < 0L)
          throw new IllegalArgumentException(
            "deleteFromLm: subtraction drove a count negative — the " +
              "deleted documents were not (all) in the trained corpus; " +
              "refusing to commit corrupted statistics")
        b2.filter(col("c2") > 0)
          .write.mode("overwrite").parquet(s"${stg.dir}/bigrams")
        writeLmUnigrams(c1.filter(col("c1") > 0).localCheckpoint(false), stg)
        Some(LmManifest) -> ()
      }
    }: Unit
  }

  /** Resolve an interrupted [[mergeLm]] (committed staging is finished,
    * uncommitted is the writer's to discard — the single-writer
    * contract shared with every staged artifact here). */
  def recoverLm(spark: SparkSession, path: String,
      deleteUncommitted: Boolean = false): Unit =
    StagedCommit.recover(spark, path, Lm, deleteUncommitted)

  /** Structured-Streaming maintenance of the LM tables — the
    * [[Retrieval.streamIndex]] twin: first batch trains, every later
    * micro-batch folds in via [[mergeLm]] with batch-id exactly-once, so
    * the reference model a scorer loads tracks the ingested corpus
    * without rebuilds. */
  def streamLm(spark: SparkSession, docs: DataFrame, textCol: String,
      path: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StagedCommit.stream(spark, docs, path, checkpointDir)(
      (batch, bid) => writeLm(batch, textCol, path, Some(bid)),
      (batch, bid) => mergeLm(spark, path, batch, textCol, Some(bid)))

  /** [[lmScores]] against a [[writeLm]] artifact. On the training corpus
    * itself the result is IDENTICAL to [[lmScores]] (every observed
    * bigram has its counts — the gate's equivalence); on NEW documents
    * unseen bigrams/unigrams score under the same add-one smoothing with
    * zero counts (`(0+1)·scale div (0+V)`), which the in-memory form
    * cannot express (its inner join drops what the corpus never saw) —
    * the whole point of scoring against a trained reference model. */
  def lmScoresLoaded(spark: SparkSession, path: String, df: DataFrame,
      textCol: String, idCol: String,
      scale: Long = 1000000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val pairs = bigramOccurrences(df, textCol, idCol)
    val c2 = spark.read.parquet(s"$path/bigrams")
    val c1 = spark.read.parquet(s"$path/unigrams")
    val vocab = spark.read.parquet(s"$path/stats")
    pairs.join(c2, Seq("w1", "w2"), "left")
      .join(c1.withColumnRenamed("word", "w1"), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("n"),
        expr(s"((coalesce(c2, 0L) + 1) * $scale) " +
          "div (coalesce(c1, 0L) + vsz)").as("p_scaled"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("n_bigrams"),
        sum(col("n") * col("p_scaled")).cast("long").as("lm_score"))
      .withColumn("lm_mean", expr("lm_score div n_bigrams"))
  }

  /** Good-Turing frequency-of-frequencies table (Gale & Sampson's
    * "Good-Turing frequency estimation without tears" setup): for each
    * observed word count r, `n_r` = how many distinct words occur exactly
    * r times, and the Turing-smoothed adjusted count
    * `r* = (r+1)·N_{r+1}/N_r` in parts-per-million integer form (exact
    * integer division, engine-portable — no floats). The r* column is 0
    * where N_{r+1} is unobserved (the raw estimator's famous gap — the
    * caller smooths the tail; emitting the raw table keeps the operator
    * oracle-exact). `p_unseen_ppb = N_1·10⁹ div total_tokens` rides along
    * on every row: the Good-Turing probability mass reserved for unseen
    * words, the number LM-based quality scorers actually want.
    *
    * Shape: one token explode → word counts (map-side combined), then a
    * count-of-counts aggregation over the DISTINCT VOCABULARY (orders of
    * magnitude smaller than the corpus), then a self-join of the tiny
    * (r, n_r) table with itself at r+1 — broadcast by size. Linear in
    * tokens, one real shuffle. */
  def goodTuring(df: DataFrame, textCol: String): DataFrame = {
    val counts = df.select(explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("r"))
      .localCheckpoint(false) // feeds N_r, N_1 and the token total
    val nr = counts.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
      .localCheckpoint(false) // referenced twice (self-join at r+1)
    val totals = counts.agg(
      sum(col("r")).cast("long").as("total_tokens"),
      sum(when(col("r") === 1, 1L).otherwise(0L)).as("n_1"))
    nr.join(broadcast(nr.select((col("r") - 1).as("r"),
        col("n_r").as("n_r_next"))), Seq("r"), "left")
      .crossJoin(broadcast(totals))
      .select(col("r"), col("n_r"),
        expr("(r + 1) * coalesce(n_r_next, 0) * 1000000 div n_r")
          .as("r_star_ppm"),
        expr("n_1 * 1000000000 div total_tokens").as("p_unseen_ppb"))
  }

  /** Train a multinomial Naive Bayes text classifier INSIDE the engine —
    * the fastText-style label/quality/domain classifier step of a
    * curation pipeline (e.g. CCNet's quality buckets, source-domain
    * routing) expressed as two aggregations instead of an external
    * training loop.
    *
    * Output: the DENSE `|vocab| × |labels|` conditional table
    * `(label, word, p_scaled, p_unseen)` with add-one smoothing —
    * `p_scaled = (c(word,label)+1)·scale div (tokens(label)+|vocab|)`,
    * `p_unseen` the same with count 0 (what a word unseen in that label
    * contributes at classification time; carried per row so the model is
    * self-contained). Labels are few, so the dense table is |vocab|·|L|
    * rows — same order as the vocabulary itself; it is NEVER assumed
    * broadcastable (see [[nbClassify]]).
    *
    * DOCUMENTED DEVIATION (same rationale as [[lmScores]]): NB sums log
    * probabilities; libm log is not bit-portable, so scoring sums the
    * scaled probabilities themselves — per-token monotone, exact-integer,
    * hash-stable. `scale` must satisfy (tokens(label)+1)·scale < 2⁶³
    * (lower it for larger corpora).
    *
    * Shape: one token explode → (label, word) counts; class totals and
    * vocabulary size are label-count-sized / single-row aggregates that
    * ride broadcasts; the dense expansion is a broadcast cross of the
    * vocabulary with the tiny label dimension. One shuffle end to end. */
  def nbTrain(df: DataFrame, textCol: String, labelCol: String,
      scale: Long = 1000000000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val wc = df.select(col(labelCol).cast("string").as("label"),
        explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("label"), col("word"))
      .agg(count(lit(1)).cast("long").as("cwl"))
      .localCheckpoint(false) // feeds class totals, vocab, and the table
    val classTotals = wc.groupBy(col("label"))
      .agg(sum(col("cwl")).cast("long").as("ctok"))
    val vocab = wc.select(col("word")).distinct()
    val vsz = vocab.agg(count(lit(1)).as("vsz"))
    vocab.crossJoin(broadcast(classTotals))
      .join(wc, Seq("label", "word"), "left")
      .crossJoin(broadcast(vsz))
      .select(col("label"), col("word"),
        expr(s"((coalesce(cwl, CAST(0 AS BIGINT)) + 1) * $scale) " +
          "div (ctok + vsz)").as("p_scaled"),
        expr(s"$scale div (ctok + vsz)").as("p_unseen"))
  }

  /** Classify with an [[nbTrain]] model: each document's score per label
    * is the sum over its token OCCURRENCES of the label's scaled token
    * conditional (unseen-in-label words contribute `p_unseen`); the
    * prediction is the argmax, ties broken toward the GREATER label
    * string — a fixed, engine-independent rule.
    *
    * Shape: per-(doc, word) counts (one explode + one map-side-combined
    * aggregation — a document repeating a word n times sends ONE row
    * through the join), a broadcast cross with the tiny label dimension,
    * then a plain shuffle equi-join against the model ON (label, word) —
    * the model is never assumed broadcastable (at web scale the
    * vocabulary isn't) — and one per-(doc, label) sum. The argmax is a
    * struct max, not a sort. */
  def nbClassify(df: DataFrame, textCol: String, idCol: String,
      model: DataFrame): DataFrame = {
    val occ = df.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).cast("long").as("n"))
    val labels = model.select(col("label"), col("p_unseen")).distinct()
    val scored = occ.crossJoin(broadcast(labels))
      .join(model.select(col("label"), col("word"), col("p_scaled")),
        Seq("label", "word"), "left")
      .select(col("doc_id"), col("label"),
        (col("n") * coalesce(col("p_scaled"), col("p_unseen"))).as("s"))
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("s")).cast("long").as("score"))
    scored.groupBy(col("doc_id"))
      .agg(max(struct(col("score"), col("label"))).as("m"))
      .select(col("doc_id"), col("m.label").as("pred_label"),
        col("m.score").as("score"))
  }

  /** Top-k word collocations by scaled pointwise mutual information:
    * `pmi_scaled = (c₁₂ · N · scale) div (c(w1) · c(w2))` where c₁₂ is
    * the bigram count, c(w) the full unigram counts and N the total
    * bigram count — the standard PMI association measure minus the log
    * (monotone transform; same bit-portability rationale as
    * [[lmScores]]). `minCount` cuts the classic PMI low-frequency noise.
    * `c₁₂·N·scale` is accumulated in DECIMAL(38,0) — 128-bit
    * intermediates, so a billion-bigram corpus with frequent pairs
    * cannot overflow the pre-division product (a Long would blow at
    * c₁₂·N ≈ 9.2e12 with the default scale); the final quotient is a
    * plain BIGINT.
    *
    * Shape: one explode straight into a global (w1, w2) count — PMI
    * never needs the per-document split, so it skips [[lmScores]]'
    * doc-keyed front half (map-side partial aggregation already
    * compresses repeated bigrams; routing through a per-doc pre-count
    * would add a full extra shuffle of the widest intermediate) — two
    * unigram-count equi-joins (shuffle joins — the vocabulary is never
    * assumed broadcastable), a 1-row broadcast total, TakeOrdered
    * top-k. */
  def pmiCollocations(df: DataFrame, textCol: String,
      minCount: Long = 5L, k: Int = 20,
      scale: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(scale > 0, s"scale must be positive, got $scale")
    val toks = split(col(textCol), " ")
    val c2 = df.select(explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .groupBy(col("p.w1"), col("p.w2"))
      .agg(count(lit(1)).cast("long").as("c12"))
      .localCheckpoint(false) // feeds the total AND the scored join
    val uni = df.select(explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cw"))
      .localCheckpoint(false) // joined twice (w1 side and w2 side)
    val total = c2.agg(sum(col("c12")).cast("long").as("nb"))
    c2.filter(col("c12") >= minCount)
      .join(uni.select(col("word").as("w1"), col("cw").as("cw1")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("cw").as("cw2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("c12"),
        expr(s"cast((cast(c12 as decimal(38,0)) * nb * $scale) " +
          "div (cast(cw1 as decimal(38,0)) * cw2) as bigint)")
          .as("pmi_scaled"))
      .orderBy(col("pmi_scaled").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Sequential Poisson (priority) weighted sampling WITHOUT replacement
    * (Ohlsson 1998 — the deterministic cousin of Efraimidis–Spirakis):
    * each row gets priority u/w, u = a 60-bit md5-derived uniform of its
    * id and w = its weight; the sample is the k SMALLEST priorities, so
    * inclusion odds grow with weight. No RNG — the sample is a pure
    * function of the data (re-runs, engines and partitionings agree,
    * ties broken by id; u/w is one IEEE division of exact integers, so
    * even the float priorities are bit-identical). One narrow pass +
    * TakeOrdered top-k: no shuffle at any corpus size. Rows with a NULL
    * id or a non-positive weight are excluded (a NULL id hashes to a
    * NULL priority, which ascending order would put FIRST — silently
    * pinning id-less rows into every sample; a non-positive weight has
    * no inclusion probability by definition). The weight is returned
    * unchanged — fractional weights stay fractional. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = hash60(col(idCol)).cast("double")
    df.filter(col(idCol).isNotNull && col(weightCol) > 0)
      .select(col(idCol).as("id"),
        col(weightCol).as("weight"),
        (u / col(weightCol).cast("double")).as("priority"))
      .orderBy(col("priority").asc, col("id").asc)
      .limit(k)
  }

  /** K-minimum-values distinct-count SKETCH as an aggregate Column — the
    * O(k)-state companion to [[saltedDistinctCount]]: exact up to k
    * distinct values, the KMV estimator beyond, mergeable across
    * partitions like any built-in aggregate (custom
    * TypedImperativeAggregate — see
    * [[org.apache.spark.sql.graft.KmvDistinct]]). All hashing is
    * md5-derived, so estimates are bit-identical across engines,
    * partitionings and runs — unlike HLL-family sketches, this one can
    * sit behind a hash-stable oracle gate. */
  def kmvDistinct(c: Column, k: Int = 256): Column =
    org.apache.spark.sql.GraftShims.column(
      org.apache.spark.sql.graft.KmvDistinct(
        org.apache.spark.sql.GraftShims.expression(c), k)
        .toAggregateExpression())

  /** EXACT heavy hitters at scale — every item with frequency
    * strictly above n/k, by the classic two-pass sketch-then-verify
    * shape: pass 1 runs a Misra–Gries summary (k counters, Misra &
    * Gries 1982) INSIDE each partition — by pigeonhole any item with
    * global frequency > n/k exceeds its partition's n_p/k in at least
    * one partition, so the union of per-partition candidate sets is a
    * guaranteed SUPERSET of the answer; pass 2 exact-counts the
    * candidates only (broadcast semi-join gate + map-side-combined
    * count) and applies the threshold to EXACT counts, so the output
    * has no approximation at all — the sketch only pruned.
    *
    * Why not plain groupBy-count-filter: that shuffles one partial per
    * DISTINCT item (a 100 TB corpus has billions — the shuffle IS the
    * cost); here the shuffle carries only candidate items, ≤ k per
    * partition regardless of vocabulary. Candidates never visit the
    * driver (the semi-join is planwise). NULL items are ignored
    * (documented; a null is absence, not a value). Output:
    * `(item, cnt)` with `cnt·k > n`, exact. */
  def heavyHitters(df: DataFrame, itemCol: String, k: Int): DataFrame = {
    require(k >= 2, s"heavyHitters: k must be >= 2, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val items = df.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
    // pass 1: ONE scan yields both the MG candidates and the row count
    // (one summary row per partition; a separate items.count() would be
    // a third full corpus read). localCheckpoint materializes the
    // partition-count-sized summary once; candidates and total both
    // read it, never the corpus, and neither visits the driver.
    val summaries = items.as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { s =>
        n += 1L
        if (m.contains(s)) m(s) += 1L
        else if (m.size < k - 1) m(s) = 1L
        else {
          // decrement-all (amortized O(1): each sweep retires k arrivals)
          m.keysIterator.toArray.foreach { key =>
            val nv = m(key) - 1L
            if (nv == 0L) m.remove(key) else m(key) = nv
          }
        }
      }
      Iterator.single((n, m.keysIterator.toArray))
    }.toDF("_n", "_cands").localCheckpoint(false)
    val cands = summaries.select(explode(col("_cands")).as("item")).distinct()
    val totals = summaries.agg(sum(col("_n")).as("_total"))
    // pass 2: exact counts of candidates only
    items.join(broadcast(cands), Seq("item"), "left_semi")
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals))
      .filter(col("cnt") * lit(k.toLong) > col("_total"))
      .drop("_total")
  }

  /** The k-min-values SKETCH of a column (sorted array of the k smallest
    * distinct 60-bit hashes — [[kmvDistinct]]'s buffer, not its
    * estimate); input to [[kmvOverlap]]'s set arithmetic. */
  def kmvSketch(c: Column, k: Int = 256): Column =
    org.apache.spark.sql.GraftShims.column(
      org.apache.spark.sql.graft.KmvSketch(
        org.apache.spark.sql.GraftShims.expression(c), k)
        .toAggregateExpression())

  /** Cross-corpus set-overlap estimation from two O(k) KMV sketches —
    * |A|, |B|, |A∪B|, |A∩B| and Jaccard WITHOUT an exact distinct of
    * either side (the train-vs-eval / corpus-vs-corpus overlap question
    * at 100 TB, where exact distinct-intersection shuffles every value
    * of both). The theta-sketch estimator (Beyer et al. 2007): the
    * union's k smallest hashes fix a threshold θ; ρ = how many of those
    * sit in BOTH sides' sketches; Jaccard ≈ ρ/m and |A∩B| ≈ ρ·est(∪)/m
    * (m = |union k-min| — when the union has fewer than k distinct
    * hashes every estimate collapses to the EXACT count). All md5-
    * derived and exact-integer (BigDecimal div for the 2⁶⁰ scaling), so
    * the whole estimator — not just the plumbing — has a bit-exact
    * DuckDB mirror.
    *
    * Shape: each side is one map-side-combined aggregation to a k-long
    * array; the set arithmetic is a 1-row × 1-row join. Output columns:
    * est_a, est_b, est_union, est_intersection, jaccard_permille. */
  def kmvOverlap(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
      k: Int = 256): DataFrame = {
    val sa = a.agg(kmvSketch(col(aCol), k).as("ha"))
    val sb = b.agg(kmvSketch(col(bCol), k).as("hb"))
    val two60 = "1152921504606846976" // 2^60, exact in DECIMAL(38,0)
    def est(arr: String): Column =
      when(size(col(arr)) < k, size(col(arr)).cast("long"))
        .otherwise(expr(
          s"cast(cast(${k - 1} as decimal(38,0)) * $two60 div element_at($arr, $k) as bigint)"))
    sa.crossJoin(sb)
      .withColumn("hu",
        slice(array_sort(array_union(col("ha"), col("hb"))), 1, k))
      .withColumn("m", size(col("hu")).cast("long"))
      .withColumn("rho", size(array_intersect(col("hu"),
        array_intersect(col("ha"), col("hb")))).cast("long"))
      .withColumn("est_union", est("hu"))
      .select(
        est("ha").as("est_a"),
        est("hb").as("est_b"),
        col("est_union"),
        when(col("m") === 0L, lit(0L)).otherwise(expr(
          "cast(cast(rho as decimal(38,0)) * est_union div m as bigint)"))
          .as("est_intersection"),
        when(col("m") === 0L, lit(0L))
          .otherwise(expr("rho * 1000 div m")).as("jaccard_permille"))
  }

  /** Bounded per-group top-k aggregate column (see
    * [[org.apache.spark.sql.graft.TopKPairs]]): O(k) state per group with
    * map-side partial aggregation — the scale-correct replacement for
    * `row_number() OVER (PARTITION BY key ORDER BY ord) <= k`, whose
    * window sort holds each group's FULL contents on one task. Output is
    * the best-first `array<struct<ord, payload>>`; `posexplode` recovers
    * (rank-1, row). Ties order by payload (desc when `largest`), matching
    * a `ORDER BY ord DESC, payload DESC` window exactly. */
  def topKPairs(ordCol: Column, payload: Column, k: Int,
      largest: Boolean = true): Column =
    org.apache.spark.sql.GraftShims.column(
      org.apache.spark.sql.graft.TopKPairs(
        org.apache.spark.sql.GraftShims.expression(ordCol),
        org.apache.spark.sql.GraftShims.expression(payload), k, largest)
        .toAggregateExpression())

  /** Mergeable quantile sketch — distribution quantiles from O(k) state:
    * the k rows with the SMALLEST md5(id) hashes are a uniform sample of
    * the input (hash order is value-blind and RNG-free), so sample
    * quantiles estimate population quantiles with the standard ~1/√k
    * error; and bottom-k-by-hash is MERGEABLE ([[topKPairs]] with the
    * hash as the ordinal, map-side combine), which a "first k rows"
    * sample is not. The KMV stance applied to quantiles: exact
    * `percentile` over 100 TB funnels every value through one sort
    * path, this caps state at k pairs per mapper. Hash convention =
    * [[kmvDistinct]]'s first-15-md5-hex-digits, digit for digit.
    *
    * Determinism: the sample is a pure function of the id set, so the
    * interpolated quantiles — emitted ×100 as integer cents, the
    * `length_quantiles` exactness pattern — are bit-stable and DuckDB-
    * mirrorable (ORDER BY hash, value LIMIT k + quantile_cont). When
    * k ≥ n the sample is the whole input and the estimates collapse to
    * the EXACT quantiles (the unsaturated-sketch property, as at
    * [[kmvOverlap]]).
    *
    * Output: ONE row — `n_total`, `n_sample`, and `p<q>_cents` per
    * requested per-mille quantile (empty input → empty output). Null
    * ids/values are dropped by the sketch ([[topKPairs]]' null
    * contract); pre-coalesce if they must count. */
  def sketchQuantiles(df: DataFrame, idCol: String, valueCol: String,
      k: Int = 256,
      qsPermille: Seq[Int] = Seq(250, 500, 750, 900)): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(qsPermille.nonEmpty &&
      qsPermille.forall(q => q >= 1 && q <= 999),
      s"quantiles in [1, 999] permille, got $qsPermille")
    val h = hash60(col(idCol))
    val one = df.agg(
      topKPairs(h, col(valueCol).cast("long"), k, largest = false)
        .as("sample"),
      count(lit(1)).as("n_total"))
    val quantAggs = qsPermille.map(q =>
      round(percentile(col("v"), lit(q / 1000.0)) * 100).cast("long")
        .as(s"p${q}_cents"))
    one.select(col("n_total"), explode(col("sample.payload")).as("v"))
      .groupBy(col("n_total"))
      .agg(count(lit(1)).as("n_sample"), quantAggs: _*)
  }

  /** Per-key [[sketchQuantiles]] — the grouped form: one O(k) bottom-k-
    * by-hash sample PER KEY (map-side combined), quantiles over each
    * key's sample. Per-source length/quality distribution monitoring at
    * corpus scale: exact per-key percentiles sort every value of every
    * key ([[Events.sessionize]]-style whole-group windows — the skewed
    * key becomes the last reducer); this caps every key's state at k
    * pairs. The second aggregation runs over |keys|·k rows and REUSES
    * the first's hash partitioning (no second exchange — plan-asserted
    * in the spec). Same exactness/collapse contract as
    * [[sketchQuantiles]]; a key whose values are all null still
    * reports its `n_total`, with `n_sample` 0 and null quantiles
    * (`explode_outer` — degenerate sources are exactly what a
    * distribution monitor must not lose). */
  def sketchQuantilesByKey(df: DataFrame, keyCol: String, idCol: String,
      valueCol: String, k: Int = 256,
      qsPermille: Seq[Int] = Seq(250, 500, 750)): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(qsPermille.nonEmpty &&
      qsPermille.forall(q => q >= 1 && q <= 999),
      s"quantiles in [1, 999] permille, got $qsPermille")
    val h = hash60(col(idCol))
    val perKey = df.groupBy(col(keyCol))
      .agg(topKPairs(h, col(valueCol).cast("long"), k, largest = false)
        .as("sample"),
        count(lit(1)).as("n_total"))
    val quantAggs = qsPermille.map(q =>
      round(percentile(col("v"), lit(q / 1000.0)) * 100).cast("long")
        .as(s"p${q}_cents"))
    perKey
      .select(col(keyCol), col("n_total"),
        explode_outer(col("sample.payload")).as("v"))
      .groupBy(col(keyCol), col("n_total"))
      .agg(count(col("v")).as("n_sample"), quantAggs: _*)
  }

  /** Two-sample Kolmogorov–Smirnov drift from two O(k) hash samples —
    * "did this source's length/quality/score distribution shift" as ONE
    * exact-integer statistic: KS = max CDF gap = `max |cntA·nb −
    * cntB·na| / (na·nb)` over the merged sample values, emitted as
    * floor permille (no float CDFs; the cross-multiplied form is
    * hash-stable in any engine). The distribution-drift companion to
    * [[kmvOverlap]]'s set overlap: retrain triggers, source-quality
    * regression alarms, pre/post-filter shift checks.
    *
    * Each side is one [[sketchQuantiles]]-style bottom-k-by-hash sample
    * (uniform, RNG-free, mergeable — the corpus is never sorted); the
    * KS fold then runs on ≤ 2k rows, so its unpartitioned cumulative
    * window is BOUNDED BY CONSTRUCTION (k is a constant, not data) —
    * the stance every sketch second stage here takes. Sample KS
    * converges to population KS at the usual √k rate; k ≥ n collapses
    * both samples to the full sets and the statistic is exact.
    *
    * Output: ONE row — `n_a_sample`, `n_b_sample`, `ks_permille` (null
    * if either side is empty — no distance to an empty distribution). */
  def sketchKsDrift(a: DataFrame, aIdCol: String, aValCol: String,
      b: DataFrame, bIdCol: String, bValCol: String,
      k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    def sample(df: DataFrame, idc: String, vc: String, side: String) = {
      df.agg(topKPairs(hash60(col(idc)), col(vc).cast("long"), k,
          largest = false).as("s"))
        .select(explode(col("s.payload")).as("v"),
          lit(side).as("side"))
    }
    val merged = sample(a, aIdCol, aValCol, "a")
      .unionByName(sample(b, bIdCol, bValCol, "b"))
    val per = merged.groupBy(col("v"))
      .agg(sum(when(col("side") === "a", 1L).otherwise(0L)).as("da"),
        sum(when(col("side") === "b", 1L).otherwise(0L)).as("db"))
    // totals ride the SAME single window sort as the cumulative counts
    // (full-frame sums) — a separate total aggregation would re-execute
    // the two full-input sample scans feeding `merged`
    val w = Window.orderBy(col("v"))
    val cum = per
      .withColumn("ca", sum(col("da")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cb", sum(col("db")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("na", sum(col("da")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("nb", sum(col("db")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // a global agg yields its one row even over empty input — the
    // both-sides-empty case keeps the one-row contract (0, 0, null)
    cum
      .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
        max(abs(col("ca") * col("nb") - col("cb") * col("na")))
          .as("ks_scaled"))
      .select(coalesce(col("na"), lit(0L)).as("n_a_sample"),
        coalesce(col("nb"), lit(0L)).as("n_b_sample"),
        when(col("na").isNull || col("nb").isNull ||
            col("na") === 0L || col("nb") === 0L, lit(null).cast("long"))
          .otherwise(expr("ks_scaled * 1000 div (na * nb)"))
          .as("ks_permille"))
  }

  /** Robust outlier flags from sketch median + MAD — the
    * quality-outlier detector that mean/stddev cannot be (one 10⁹-char
    * document drags a mean filter past every normal row; the median and
    * the median absolute deviation ignore it). Two-phase on ONE O(k)
    * bottom-k-by-hash sample ([[sketchQuantiles]]' machinery — the same
    * ids are sampled for both phases by construction): median m over
    * the sample, MAD = median |v − m| over the SAME sample, both
    * broadcast back onto a narrow scoring pass — the corpus being
    * scored is never shuffled.
    *
    * Exact integers end to end: m as ×100 cents (interpolated median of
    * longs is a multiple of 0.5), per-row deviation |100·v − m_cents|·2
    * as half-cents, MAD likewise ×2, and the flag is the cross-
    * multiplication `dev·1000 > threshold‰·mad` — no float z-scores to
    * drift, DuckDB-mirrorable digit for digit. MAD = 0 (≥ half the
    * sample at the median) flags every row off the median — the
    * degenerate-scale semantics, documented not hidden. Null values —
    * and every row, when the sample is empty (no non-null values at
    * all) — keep null deviation and flag; rows are never dropped.
    * Output: input columns + `dev_halfcents`, `is_outlier` (0/1).
    *
    * ONE full-input scan: both medians come from the same k-long sorted
    * sample array by pure integer array arithmetic (middle element, or
    * the middle pair summed — exactly the interpolated percentile ×100
    * since an interpolated median of longs is a multiple of 0.5), so
    * phase two never re-executes the sample aggregation.
    *
    * Input bound: the ×100 cents (and ×2 half-cents) scaling is LONG
    * arithmetic — values must satisfy |value| ≤ Long.MaxValue/200
    * (~4.6e16) or the scaled deviation overflows silently (and the
    * DuckDB oracle, which promotes to HUGEINT, would diverge). Fine for
    * every length/count-shaped quality signal this targets; rescale
    * before calling for astronomically-valued columns. */
  def robustOutliers(df: DataFrame, idCol: String, valueCol: String,
      k: Int = 256, thresholdPermille: Long = 3000L): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(thresholdPermille >= 1,
      s"thresholdPermille must be >= 1, got $thresholdPermille")
    def midExpr(arr: String, scaleOdd: String, combEven: String) =
      s"""CASE WHEN n = 0 THEN CAST(NULL AS BIGINT)
         |  WHEN n % 2 = 1
         |    THEN element_at($arr, CAST((n + 1) div 2 AS INT)) $scaleOdd
         |  ELSE element_at($arr, CAST(n div 2 AS INT)) $combEven
         |END""".stripMargin
    val stats = df
      .agg(topKPairs(hash60(col(idCol)), col(valueCol).cast("long"), k,
        largest = false).as("s"))
      .selectExpr("array_sort(s.payload) AS xs")
      .selectExpr("xs", "size(xs) AS n")
      .selectExpr("xs", "n",
        midExpr("xs", "* 100",
          "* 50 + element_at(xs, CAST(n div 2 + 1 AS INT)) * 50")
          + " AS m_cents")
      .selectExpr("n", "m_cents",
        "array_sort(transform(xs, x -> abs(x * 100 - m_cents))) AS ds")
      .selectExpr("m_cents",
        midExpr("ds", "* 2",
          "+ element_at(ds, CAST(n div 2 + 1 AS INT))")
          + " AS mad_halfcents")
    df.crossJoin(broadcast(stats))
      .withColumn("dev_halfcents",
        abs(col(valueCol).cast("long") * 100 - col("m_cents")) * 2)
      .withColumn("is_outlier",
        (col("dev_halfcents") * 1000 >
          lit(thresholdPermille) * col("mad_halfcents")).cast("long"))
      .drop("m_cents", "mad_halfcents")
  }

  /** Percentile-bucket assignment from broadcast sketch boundaries —
    * "which quantile of its distribution is this row in" WITHOUT the
    * global-window formulation (`ntile`/`cume_dist` OVER an unpartitioned
    * window total-orders the entire corpus through one sort — the
    * last-reducer killer at 100 TB). Two-phase instead: the
    * [[sketchQuantiles]] bottom-k-by-hash sample yields the
    * `nBuckets − 1` interior boundaries (one O(k)-state aggregation),
    * which ride the scoring pass as a broadcast 1-row cross join;
    * bucket = 1 + |boundaries strictly below the value| — a narrow
    * per-row filter over an `nBuckets`-long array, no shuffle of the
    * data being scored.
    *
    * Sample-boundary semantics, deterministic (the sample is a pure
    * function of the id set): against true-quantile boundaries the
    * bucket can differ near edges by the sample error (~1/√k) — exact
    * when k ≥ n (the [[sketchQuantiles]] collapse). Values EQUAL to a
    * boundary fall in the lower bucket (strict >); null values keep a
    * null bucket. Output: input columns + `bucket` ∈ [1, nBuckets]. */
  def quantileBuckets(df: DataFrame, idCol: String, valueCol: String,
      nBuckets: Int = 4, k: Int = 256): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 1000,
      s"nBuckets in [2, 1000], got $nBuckets")
    require(k >= 2, s"k must be >= 2, got $k")
    val h = hash60(col(idCol))
    val fracs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val bounds = df
      .agg(topKPairs(h, col(valueCol).cast("long"), k, largest = false)
        .as("sample"))
      .select(explode(col("sample.payload")).as("v"))
      .agg(percentile(col("v").cast("double"),
        array(fracs.map(lit(_)): _*)).as("bounds"))
    df.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col(valueCol).isNull, lit(null).cast("long"))
          .otherwise(lit(1).cast("long") +
            size(filter(col("bounds"),
              x => col(valueCol).cast("double") > x)).cast("long")))
      .drop("bounds")
  }

  /** Count-Min sketch aggregate column (the second custom typed
    * aggregate; see [[org.apache.spark.sql.graft.CmSketch]]): O(d·w)
    * mergeable state, map-side partial aggregation, elementwise-sum
    * merge — the per-key frequency estimator for streams where exact
    * counting shuffles every occurrence. */
  def cmSketch(c: Column, d: Int = 4, w: Int = 512): Column =
    org.apache.spark.sql.GraftShims.column(
      org.apache.spark.sql.graft.CmSketch(
        org.apache.spark.sql.GraftShims.expression(c), d, w)
        .toAggregateExpression())

  /** Count-Min point estimates for `probes`: builds ONE sketch of
    * `valueCol` (a d·w-long matrix, collected — a few KB regardless of
    * input size) and evaluates `min_r m[r][pos_r(probe)]` per probe key.
    * The estimate never undercounts; overcount is bounded by bucket
    * collisions (ε ≈ e/w per row, error halves per extra row). Output:
    * (v, est_count) per probe, deterministic — the sketch matrix is
    * bit-identical under any partitioning, so the estimates are
    * oracle-exact, collisions included. */
  def cmEstimates(df: DataFrame, valueCol: String, probes: Seq[String],
      d: Int = 4, w: Int = 512): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val m = df.agg(cmSketch(col(valueCol), d, w).as("m"))
      .head().getSeq[Long](0).toArray
    probes.map(p => (p,
        org.apache.spark.sql.graft.CmSketch.estimate(m, d, w, p)))
      .toDF("v", "est_count")
  }

  /** AMS/Tug-of-War F2 sketch (Alon-Matias-Szegedy, STOC 1996): k
    * independent estimators of the SECOND FREQUENCY MOMENT
    * `F2 = Σ_v f(v)²` — which IS the self-join size on the column, the
    * number a join planner wants before committing to a shuffle, read
    * here in one narrow pass instead of the `groupBy(v)` that F2's
    * definition implies. Estimator j: `Z_j = Σ_rows s_j(value)` with
    * `s_j(v) ∈ {−1, +1}` from the md5("j:v") first-nibble parity (the
    * engine-portable hash convention — four-wise independence in
    * expectation is the textbook requirement; a keyed cryptographic
    * hash is far stronger), and `est_j = Z_j²` with `E[Z²] = F2`.
    * Callers take the median of the k rows (k=8 default → stderr
    * ~F2·√(2/8)); the per-estimator rows are emitted (not the median)
    * so the DuckDB oracle can restate them value for value.
    *
    * Shape: the k signed sums fold in ONE narrow pass via the
    * [[org.apache.spark.sql.graft.F2Sums]] typed aggregate (k-long
    * buffer, elementwise-sum merge — the CmSketch pattern); the r12
    * formulation exploded every row k ways first, an 8× row
    * multiplication of the corpus that the aggregate makes unnecessary
    * (spec-pinned equal to the explode formulation in CurationSpec).
    * NULLs are skipped — F2 is the self-join size and an equi-join never
    * matches NULL; the old constant −1 sign for nulls shifted every Z_j
    * by −N and inflated every estimate by N² on null-heavy columns.
    * |Z_j| ≤ rows fits a Long at any scale, but Z² does NOT (2⁶³² needs
    * 126 bits), so the square is DECIMAL(38,0) — the labelSum rule. */
  def f2Sketch(df: DataFrame, valueCol: String, k: Int = 8): DataFrame = {
    require(k >= 1 && k <= 64, s"f2Sketch: k in [1,64], got $k")
    df.agg(org.apache.spark.sql.GraftShims.column(
        org.apache.spark.sql.graft.F2Sums(
          org.apache.spark.sql.GraftShims.expression(
            col(valueCol).cast("string")), k)
          .toAggregateExpression()).as("zs"))
      .select(posexplode(col("zs")).as(Seq("j", "z")))
      // the square computes in DECIMAL then narrows to long — beyond
      // 2⁶³ (a self-join size past 9e18, i.e. |z| > 3e9 rows of one
      // value) the ANSI cast FAILS LOUDLY instead of wrapping into a
      // silently wrong estimate
      .select(col("j").cast("long").as("j"), col("z"),
        (col("z").cast("decimal(19,0)") * col("z").cast("decimal(19,0)"))
          .cast("long").as("f2_est"))
  }

  /** JOIN-SIZE estimate from two Count-Min sketches (Cormode &
    * Muthukrishnan's inner-product estimator): `|A ⋈ B| on key =
    * Σ_v fA(v)·fB(v)`, estimated as `min_r Σ_i A[r,i]·B[r,i]` — never
    * an undercount, overcount bounded by collisions, and computed from
    * two O(d·w) sketches WITHOUT shuffling either table on the key:
    * the planner's pre-shuffle cardinality probe. Both sketches ride
    * the existing [[cmSketch]] aggregate (one narrow pass per side);
    * the d dot products fold on the driver. Returns one row per sketch
    * row (r, dot) plus the min — emitted per-row so the oracle can
    * restate every cell. */
  def cmJoinSize(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
      d: Int = 4, w: Int = 512): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val ma = a.agg(cmSketch(col(aCol).cast("string"), d, w))
      .head().getSeq[Long](0).toArray
    val mb = b.agg(cmSketch(col(bCol).cast("string"), d, w))
      .head().getSeq[Long](0).toArray
    // BigInt accumulation: two multi-billion-row sides can push cell
    // PRODUCTS past 2⁶³, and a silently wrapped dot would hand min() a
    // garbage row — the exact "never an undercount" violation the
    // estimator's guarantee forbids. The narrowing back to long is
    // EXACT-or-throw (an estimate past 9e18 is outside any join a
    // cluster could materialize; failing loudly beats a wrong plan).
    val dots = (0 until d).map { r =>
      var s = BigInt(0)
      var i = 0
      while (i < w) {
        s += BigInt(ma(r * w + i)) * BigInt(mb(r * w + i))
        i += 1
      }
      (r.toLong, s.bigInteger.longValueExact())
    }
    val minDot = dots.map(_._2).min
    dots.toDF("r", "dot").withColumn("est_join_size", lit(minDot))
  }

  /** `hll_sketch(value)` as a Column — see
    * [[org.apache.spark.sql.graft.HllSketch]]. */
  def hllSketch(c: Column): Column =
    org.apache.spark.sql.GraftShims.column(
      org.apache.spark.sql.graft.HllSketch(
        org.apache.spark.sql.GraftShims.expression(c))
        .toAggregateExpression())

  /** The global HLL register table (register, rho) — one sketch over the
    * whole input, exploded to its non-empty registers. Exercises the
    * custom aggregate end to end (update → partial merge → final merge)
    * under real partitioning; the register maxima are bit-identical
    * under any partitioning, so a DuckDB oracle can restate them
    * per-value with GROUP BY register. */
  def hllRegisters(df: DataFrame, valueCol: String): DataFrame =
    df.agg(hllSketch(col(valueCol)).as("regs"))
      .select(posexplode(col("regs")).as(Seq("register", "rho")))
      .filter(col("rho") > 0)
      .select(col("register").cast("long").as("register"), col("rho"))

  /** Per-key HLL distinct estimates — `groupBy(key).agg(hll_sketch)`,
    * then the raw HyperLogLog estimator as PURE INTEGER arithmetic:
    * `E = alpha_ppt·m²·2³² div (1000·Σ_j 2^(32−M[j]))` with
    * alpha_ppt = 718 (0.7183 for m = 256, to 3 digits — the estimator's
    * own ~6% stderr dwarfs the rounding) and registers deeper than 32
    * truncating to a zero addend — identical truncation on both engines,
    * so the estimate is hash-exact and oracle-checkable, unlike any
    * float-log formulation. `n_zero` (empty registers) rides along: it
    * is the input to the linear-counting small-range correction, which
    * callers apply when `n_zero > 0` and E is small — that correction
    * needs ln(), so it stays OUT of the engine-portable core.
    *
    * Scale: one shuffle of (key, 256-byte sketch) partials — map-side
    * combined like any built-in aggregate; the estimate fold is a
    * 256-element array HOF per key, no further shuffle. */
  def hllEstimates(df: DataFrame, keyCol: String,
      valueCol: String): DataFrame =
    withHllEstimate(
      df.groupBy(col(keyCol)).agg(hllSketch(col(valueCol)).as("regs")),
      "regs")
      .select(col(keyCol), col("est_distinct"), col("n_zero"))

  /** Append `est_distinct` and `n_zero` columns derived from an HLL
    * register-array column — ONE definition of the integer estimator,
    * shared by [[hllEstimates]] and any sketch-in-window composition
    * (grouping keys are the caller's business; the estimate is a pure
    * per-row function of the registers). */
  def withHllEstimate(df: DataFrame, regsCol: String): DataFrame =
    df.withColumn("_denom", expr(
        s"aggregate($regsCol, 0L, (acc, m) -> acc + " +
          "IF(m <= 32, shiftleft(1L, CAST(32 - m AS INT)), 0L))"))
      .withColumn("est_distinct",
        expr("202099033278251008 div (1000 * _denom)"))
      .withColumn("n_zero",
        expr(s"CAST(size(filter($regsCol, m -> m = 0)) AS BIGINT)"))
      .drop("_denom")

  /** EXACT distributed distinct count via hash-partitioned salting — the
    * manual fix [[keySkew]] motivates when one group dominates: the
    * distinct domain is split by a content hash into `nSalts` DISJOINT
    * slices, per-(key, salt) distincts are counted independently (each
    * reducer deduplicates only its slice — bounded state even when one
    * key holds billions of distinct values), and the outer sum is exact
    * because the slices partition the domain. Contrast `countDistinct`
    * straight over a hot key, which funnels that key's whole domain
    * through one reducer. No approximation anywhere. */
  def saltedDistinctCount(df: DataFrame, keyCol: String,
      distinctCol: String, nSalts: Int = 16): DataFrame = {
    require(nSalts > 0, s"nSalts must be positive, got $nSalts")
    df.groupBy(col(keyCol),
        pmod(xxhash64(col(distinctCol)), lit(nSalts)).as("_salt"))
      .agg(countDistinct(col(distinctCol)).as("_d"))
      .groupBy(col(keyCol))
      .agg(sum(col("_d")).cast("long").as("n_distinct"))
  }

  /** Salted equi-join for a skewed key — the join-side fix the [[keySkew]]
    * diagnostic motivates (AQE's skew-join does this adaptively; the
    * manual form works on any engine and any plan shape): the small
    * side's rows are REPLICATED once per salt, the big side computes a
    * content-derived salt, and the join key becomes (key, salt) — a hot
    * key's rows now spread over `nSalts` reducers instead of funneling
    * through one. Semantics-preserving by construction: every big row
    * still meets every matching small row exactly once. Inner join;
    * output = big columns + the requested small columns. */
  def saltedJoin(big: DataFrame, small: DataFrame, keyCol: String,
      saltOn: Column, smallValueCols: Seq[String],
      nSalts: Int = 16): DataFrame = {
    require(nSalts > 0, s"nSalts must be positive, got $nSalts")
    val replicated = small.select(
        (col(keyCol) +: smallValueCols.map(col)): _*)
      .withColumn("_salt", explode(sequence(lit(0L), lit(nSalts - 1L))))
    val salted = big.withColumn("_salt",
      pmod(xxhash64(saltOn), lit(nSalts.toLong)))
    salted.join(replicated, Seq(keyCol, "_salt")).drop("_salt")
  }

  // -------------------------------------------- corpus n-gram stats

  /** Word n-grams WITH duplicates (corpus statistics need occurrence
    * counts; [[Dedup.shingles]] deduplicates per document by design). */
  def allGrams(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) < n, array())
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Global top-k most frequent n-grams, ties broken by gram text —
    * deterministic. Map-side partial aggregation shrinks the shuffle to
    * distinct grams; `orderBy.limit(k)` compiles to TakeOrderedAndProject
    * (per-partition heaps, no global sort). */
  def ngramTopK(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    df.select(explode(allGrams(col(textCol), n)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("gram").asc)
      .limit(k)

  // -------------------------------------------- TF-IDF keywords

  /** Global top-k adjacent character pairs — the counting step of one BPE
    * merge round (vocabulary induction): the pair a tokenizer trainer
    * would merge next is the argmax of exactly this table. Same shape as
    * [[ngramTopK]]: narrow per-row pair explosion, map-side partial
    * aggregation to distinct pairs, TakeOrderedAndProject. */
  def bytePairTopK(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val t = col(textCol)
    val pairs = when(length(t) < 2, array())
      .otherwise(transform(sequence(lit(1), length(t) - 1),
        i => t.substr(i, lit(2))))
    df.select(explode(pairs).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair").asc)
      .limit(k)
  }

  // -------------------------------------------- composed curate chain

  /** The quality → PII-redact → exact-dedup → leakage-safe-split chain
    * shared by the `curate_export` gate and the `graft.Main curate` CLI —
    * ONE definition of the thresholds, stopword list and survivor
    * policy, so the CLI can never drift from the gated pipeline.
    * Input needs (doc_id, text); output is (doc_id, text, split) with
    * the min-id survivor per content hash. Two shuffles total (the dedup
    * groupBy; the split is a narrow projection). */
  val curateStopwords: Seq[String] = Seq("the", "a", "of", "and", "not")

  def curateChain(df: DataFrame): DataFrame = {
    val quality = TextAnalysis.qualityColumns(col("text"), curateStopwords)
    val kept = df.select(col("doc_id") +: col("text") +: quality: _*)
      .filter(col("n_tokens") >= 5 && col("alpha_ratio") >= 0.6)
    val red = kept.select(col("doc_id"), redactText(col("text")).as("text"))
    red.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("text")).as("text"))
      .select(col("doc_id"), col("text"),
        TextAnalysis.contentSplit(col("text")).as("split"))
  }

  // -------------------------------------------- BPE training loop

  /** Byte-pair-encoding vocabulary induction: `rounds` iterations of the
    * real BPE trainer — count adjacent token pairs over the corpus
    * (weighted by word frequency), merge the most frequent pair
    * everywhere, repeat. Returns one row per round: (round, pair,
    * n_occurrences) — the learned merge table, in order.
    *
    * Tokenization state is a single-space-joined token string per word
    * type with sentinel spaces (" h e l l o "). A merge round is the
    * CANONICAL left-to-right greedy pass ([[canonicalMerge]]): a
    * left-fold over the tokens that pops the accumulator's last token
    * when (last, current) == (x, y) — so "a a a a a" becomes "aa aa a",
    * exactly what sequential BPE produces. (A replace-based formulation
    * is NOT canonical here: `replace` consumes the boundary space after
    * each match, phase-shifting the rest of a run.)
    *
    * Scale shape: ONE corpus-wide shuffle total (word-type counts, the
    * same aggregation any tokenizer trainer starts with — map-side
    * combined, vocabulary-sized output). Every round then runs on the
    * word-TYPE table (vocabulary-sized, frequency-weighted — corpus size
    * never re-enters; the fold costs O(word²) string building, bounded
    * by word length), and the argmax collects a single row to the
    * driver, exactly like k-means centroids. */
  def bpeTrain(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    val wordCounts = df
      .select(explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("s",
        concat(lit(" "),
          trim(regexp_replace(col("word"), "(.)", "$1 ")), lit(" ")))
      .localCheckpoint(false) // vocabulary-sized; reused every round
    var state = wordCounts.select(col("cnt"), col("s"))
    val merges = (1 to rounds).map { round =>
      val toks = split(trim(col("s")), " ")
      val grams = when(size(toks) < 2, array())
        .otherwise(transform(sequence(lit(0), size(toks) - 2),
          i => concat(element_at(toks, i + 1), lit(" "),
            element_at(toks, i + 2))))
      val top = state.select(col("cnt"), explode(grams).as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1).collect()
      require(top.nonEmpty, s"no pairs left to merge in round $round")
      val pair = top.head.getAs[String]("pair")
      val n = top.head.getAs[Long]("n")
      state = state.select(col("cnt"),
          canonicalMerge(col("s"), pair).as("s"))
        .localCheckpoint(false) // keep the round's lineage flat
      (round.toLong, pair, n)
    }
    merges.toDF("round", "pair", "n_occurrences")
  }

  /** Canonical BPE merge pass: left-fold over the word's tokens; when
    * the accumulator's last token is `x` and the current token is `y`,
    * pop-and-merge — otherwise append. This IS sequential BPE's greedy
    * left-to-right semantics ("a a a a a" → "aa aa a"); tokens never
    * contain spaces, so "ends with ' x'" identifies the last token
    * exactly. Accumulator starts empty; the first token replaces it. */
  private def canonicalMerge(s: Column, pair: String): Column = {
    val Array(x, y) = pair.split(" ", 2)
    val merged = x + y
    val folded = aggregate(split(trim(s), " "), lit(""), (acc, t) =>
      when(acc === "", t)
        .when((acc === x || acc.endsWith(" " + x)) && t === y,
          concat(acc.substr(lit(1), length(acc) - x.length), lit(merged)))
        .otherwise(concat(acc, lit(" "), t)))
    concat(lit(" "), folded, lit(" "))
  }

  /** Apply a learned merge list: tokenize every word TYPE once (the
    * corpus joins against the vocabulary-sized result — broadcastable at
    * any corpus scale), then per-document token totals. The merge
    * application is the same canonical fold as the trainer. */
  def bpeApply(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[String]): DataFrame = {
    val words = df.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("word"))
    val types = words.select(col("word")).distinct()
      .withColumn("s",
        concat(lit(" "),
          trim(regexp_replace(col("word"), "(.)", "$1 ")), lit(" ")))
    val tokenized = merges.foldLeft(types) { (t, pair) =>
      t.withColumn("s", canonicalMerge(col("s"), pair))
    }.withColumn("n_word_tokens",
      size(split(trim(col("s")), " ")).cast("long"))
    // no broadcast() hint: the type table is "vocabulary-sized", which is
    // MBs on curated text but tens of GB on a raw 100 TB web corpus (every
    // typo is a type) — a forced broadcast would OOM the driver there.
    // AQE broadcasts it whenever its measured size actually fits
    // (spark.sql.autoBroadcastJoinThreshold) and falls back to a shuffle
    // join when it doesn't; the hint only removed the safety net.
    words.join(tokenized.select(col("word"), col("n_word_tokens")),
        Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_word_tokens")).as("n_bpe_tokens"),
        count(lit(1)).as("n_words"))
  }

  // -------------------------------------------- training export

  /** Deterministic export sharding + contiguous token-budget packing —
    * the step between a curated corpus and a trainer's data loader:
    * documents are assigned to `nShards` shards by CONTENT hash (stable
    * under re-runs and re-partitioning; duplicate payloads co-locate),
    * ordered within a shard by id, and packed greedily into consecutive
    * `budgetTokens` windows by cumulative token count (a document whose
    * tokens straddle a boundary starts in pack `offset div budget` — the
    * contiguous-packing convention of streaming tokenizers).
    *
    * One shuffle (hash to shards) + one per-shard sort for the cumulative
    * window; shards are hash-balanced so the windows never see key skew.
    * SIZING CONTRACT: each shard is sorted within one reducer, so
    * `nShards` must scale with the corpus — pick
    * corpus_size / target_shard_size (e.g. a 100 TB corpus at 1 GB
    * shards → 100k shards), exactly like choosing output file counts;
    * a handful of shards over a huge corpus would serialize into a few
    * giant sort tasks. All arithmetic is exact integers. */
  def packForTraining(df: DataFrame, textCol: String, idCol: String,
      nShards: Int, budgetTokens: Long): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    import org.apache.spark.sql.expressions.Window
    val nTok = size(split(col(textCol), " ")).cast("long")
    val shard = conv(substring(md5(col(textCol)), 1, 4), 16, 10)
      .cast("long") % nShards
    val w = Window.partitionBy(col("shard")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol).as("id"), nTok.as("n_tokens"), shard.as("shard"))
      .withColumn("offset_tokens", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("pack_id", expr(s"offset_tokens div $budgetTokens"))
      .select(col("id"), col("shard"), col("n_tokens"),
        col("offset_tokens"), col("pack_id"))
  }

  /** Length-bucketed micro-batching — the dataloader step that
    * minimizes padding: documents shard by CONTENT hash (stable under
    * re-runs, the [[packForTraining]] convention), sort within a shard
    * by (token count, id), and consecutive runs of `batchSize` docs
    * form a batch — near-equal lengths per batch, so the padding a
    * dense batch wastes (`max_len·batch − Σlen`) is near-minimal,
    * where arrival-order batching lets one long outlier pad every
    * neighbor. Output: one row per batch —
    * `(shard, batch_id, n_docs, max_tokens, sum_tokens,
    * pad_overhead_permille)` — exact integers.
    *
    * One hash shuffle + per-shard window sort; the [[packForTraining]]
    * SIZING CONTRACT applies: `nShards` scales with the corpus so no
    * reducer ever holds more than one shard. */
  def lengthBatches(df: DataFrame, textCol: String, idCol: String,
      nShards: Int, batchSize: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val nTok = size(split(col(textCol), " ")).cast("long")
    val shard = conv(substring(md5(col(textCol)), 1, 4), 16, 10)
      .cast("long") % nShards
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("n_tokens").asc, col("id").asc)
    df.select(col(idCol).as("id"), nTok.as("n_tokens"), shard.as("shard"))
      .withColumn("rn", row_number().over(w).cast("long") - 1L)
      .withColumn("batch_id", expr(s"rn div $batchSize"))
      .groupBy(col("shard"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("pad_overhead_permille",
        expr("(max_tokens * n_docs - sum_tokens) * 1000" +
          " div (max_tokens * n_docs)"))
  }

  /** Fixed-size overlapping CHUNKING — the retrieval-prep step between a
    * curated corpus and an embedding/RAG index: each document splits into
    * word windows of `chunkWords` with `overlap` words shared between
    * consecutive chunks (the standard sliding-window convention; the
    * final partial window is kept so no suffix is ever lost). Output:
    * one row per (doc_id, chunk_id) with the chunk text and its exact
    * word span [start_word, start_word + n_words).
    *
    * Shape: a pure NARROW per-row transform (split + one
    * generate-series + slices, all codegen'd) followed by posexplode —
    * no shuffle at all; at 100 TB it is a map-only pass whose output
    * feeds the embedding UDF or `Retrieval.tokenIndex` directly.
    * Single-space tokenization per the module convention (header). */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
      chunkWords: Int, overlap: Int = 0): DataFrame = {
    require(chunkWords > 0, s"chunkWords must be positive, got $chunkWords")
    require(overlap >= 0 && overlap < chunkWords,
      s"overlap must be in [0, chunkWords), got $overlap")
    val stride = chunkWords - overlap
    val toks = split(col(textCol), " ")
    // window starts 0, stride, 2·stride, … up to the last word index —
    // at least one window always exists (a short doc is its own chunk)
    df.select(col(idCol).as("doc_id"), toks.as("w"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0),
            greatest(size(col("w")) - 1, lit(0)), lit(stride)),
          s => struct(s.cast("long").as("start_word"),
            slice(col("w"), s + 1, lit(chunkWords)).as("chunk_w"))))
          .as(Seq("chunk_id", "c")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("c.start_word").as("start_word"),
        size(col("c.chunk_w")).cast("long").as("n_words"),
        concat_ws(" ", col("c.chunk_w")).as("chunk_text"))
  }

  /** Top-k characteristic terms per document by TF-IDF, with the idf kept
    * as the EXACT rational tf·N/df instead of the usual tf·log(N/df):
    * log is monotone, so per-document ranking is identical, and exact
    * integer arithmetic keeps the score bit-identical across engines
    * (libm `log` is not guaranteed correctly rounded and would make a
    * hash-stable gate impossible). Ties broken by term text.
    *
    * Shape: one shuffle to (doc, term) counts (map-side partial agg), one
    * aggregation to document frequencies (vocabulary-sized — broadcastable
    * at any corpus scale), a join back on term, and a per-document top-k
    * window whose partitions are single documents (never skewed). N comes
    * from a driver-side count — one scalar, the same thing any IDF
    * computation needs. */
  def tfidfKeywords(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3): DataFrame = {
    val n = df.count()
    val tok = df.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("term"))
    val tf = tok.groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    // no broadcast() hint (same reasoning as bpeApply): the document-
    // frequency table is vocabulary-sized — broadcastable on curated
    // corpora, tens of GB on raw web text. AQE promotes the join to
    // broadcast exactly when the measured size fits the threshold.
    val scored = tf.join(dfreq, "term")
      .withColumn("tfidf",
        (col("tf") * lit(n)).cast("double") / col("df").cast("double"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("id"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** The RAKE stopword/delimiter list (Rose et al., "Automatic Keyword
    * Extraction from Individual Documents", 2010): candidate phrases
    * are the maximal token runs BETWEEN these and punctuation. */
  val rakeStopwords: Seq[String] = Seq(
    "the", "of", "and", "a", "to", "in", "is", "on", "for", "with",
    "as", "at", "by", "an", "be", "are", "was", "it", "that", "this")

  /** Candidate keyphrases per row, RAKE's phrase rule: lowercase, every
    * non-alphanumeric run becomes a delimiter, stopwords become
    * delimiters, and the surviving maximal token runs are the phrases
    * (space-collapsed, trimmed, empties dropped). Shipped as the
    * codegen'd single-pass [[org.apache.spark.sql.graft.RakePhrases]]
    * (O(len), stopword hash probes, zero regex — narrow, zero
    * shuffle); [[rakePhrasesChain]] is the readable two-regex
    * reference the oracle replays and the property test pins. */
  def rakePhrases(text: Column,
      stopwords: Seq[String] = rakeStopwords): Column =
    org.apache.spark.sql.GraftShims.column(
      org.apache.spark.sql.graft.RakePhrases(
        org.apache.spark.sql.GraftShims.expression(text), stopwords))

  /** The two-regex reference formulation of [[rakePhrases]] — the
    * DuckDB oracle replays exactly this chain, and a property test
    * pins the native pass to it. Kept as the readable spec of the
    * semantics; the native single pass is the shipped path (the
    * alternation regex dominated the x30 stress run). */
  private[graft] def rakePhrasesChain(text: Column,
      stopwords: Seq[String] = rakeStopwords): Column = {
    val norm = regexp_replace(lower(text), "[^a-z0-9 ]+", "\u0001")
    val cut = regexp_replace(norm,
      "\\b(" + stopwords.mkString("|") + ")\\b", "\u0001")
    filter(
      transform(split(cut, "\u0001"),
        p => trim(regexp_replace(p, " +", " "))),
      p => p =!= "")
  }

  /** Top-k RAKE keyphrases per document, scored CORPUS-wide — the
    * multiword complement of [[tfidfKeywords]] (which ranks single
    * terms): word freq = occurrences across every candidate-phrase
    * occurrence in the corpus, word degree = Σ length of the phrases
    * it appears in, word score = deg·10⁹ div freq (the exact-integer
    * stand-in for RAKE's deg/freq ratio — same scaled-division trick
    * as `lmScores`, so the score is bit-identical cross-engine), and a
    * phrase scores the sum over its words (duplicates counted, as RAKE
    * does). Long phrases with well-connected words outrank frequent
    * singletons — the keyphrase signal TF-IDF structurally cannot see.
    *
    * Shape: word stats are one shuffle with map-side combine; phrase
    * scores compute per DISTINCT phrase string (scores depend only on
    * the corpus stats, so identical phrases never re-score) through a
    * plain equi-join on the word key — never assuming the vocabulary
    * broadcasts at web scale (AQE promotes it when it fits); the
    * per-document top-k window partitions are single documents. Ties
    * break by phrase text. */
  def rakeKeywords(df: DataFrame, textCol: String, idCol: String,
      stopwords: Seq[String] = rakeStopwords, k: Int = 3): DataFrame = {
    val occ = df.select(col(idCol).as("id"),
      explode(rakePhrases(col(textCol), stopwords)).as("phrase"))
    val wordsOcc = occ.select(col("phrase"),
      explode(split(col("phrase"), " ")).as("word"))
      .select(col("word"), size(split(col("phrase"), " ")).as("plen"))
    val wstats = wordsOcc.groupBy("word").agg(
      count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      // deg·10⁹ div freq, long-division split so deg·10⁹ never has to
      // exist: at corpus scale deg (Σ phrase lengths over a word's
      // occurrences) can pass 10¹³, and a direct product would
      // overflow int64 exactly on the most frequent — most important —
      // words. q·10⁹ + (r·10⁹ div freq) is the identical exact value.
      .withColumn("wscore", expr(
        "(deg div freq) * 1000000000 + ((deg % freq) * 1000000000) div freq"))
    val ptypes = occ.select(col("phrase")).distinct()
    val pscores = ptypes
      .select(col("phrase"), explode(split(col("phrase"), " ")).as("word"))
      .join(wstats.select("word", "wscore"), "word")
      .groupBy("phrase")
      .agg(sum(col("wscore")).as("score"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score").desc, col("phrase").asc)
    occ.distinct().join(pscores, "phrase")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("id"), col("rk").cast("long").as("rank"),
        col("phrase"), col("score"))
  }

  /** Exact repeated-substring span dedup (the ExactSubstr policy of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better",
    * 2022 — word-gram granularity): any word n-gram occurring ≥ 2 times
    * ANYWHERE in the corpus marks all n positions it covers as
    * duplicated; output per document = duplicated-word count and the
    * cleaned text with covered words removed. The span-REMOVAL
    * complement of the span-DETECTION operators (winnowing overlap /
    * containment report pairs; this rewrites documents).
    *
    * Scale shape — every step is linear in corpus tokens, none is
    * pair-quadratic:
    *  1. one shuffle to count gram occurrences (map-side combined);
    *  2. the duplicated-gram set comes back via LEFT SEMI join — a
    *     gram occurring in f documents contributes f postings, never
    *     f²/2 pairs (the semi-join is what makes corpus-frequent
    *     boilerplate safe — contrast the pair-join skew guards in
    *     [[Dedup.winnowOverlapPairs]]);
    *  3. covered-position expansion fans out ×n (bounded by the gram
    *     width, not by data), then doc-keyed aggregations reassemble.
    * Grams are md5'd before the shuffle so postings stay fixed-width
    * regardless of document vocabulary. */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
      n: Int = 10): DataFrame = {
    require(n >= 2, s"gram width must be >= 2, got $n")
    // checkpointed: the word arrays feed both the gram postings and the
    // final reassembly — split once, not once per consumer
    val base = df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .withColumn("nw", size(col("w")))
      .localCheckpoint(false)
    val grams = base.select(col("doc_id"),
      posexplode(when(col("nw") >= n,
          transform(sequence(lit(0), col("nw") - n),
            i => md5(array_join(slice(col("w"), i + 1, lit(n)), " "))))
        .otherwise(array().cast("array<string>"))).as(Seq("pos", "gram")))
    val dup = grams.groupBy(col("gram")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("gram"))
    val covered = grams.join(dup, Seq("gram"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + n - 1)).as("pos"))
      .distinct()
    val counts = covered.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_words"))
    val kept = base
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "word")))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
    // order-restoring reassembly: collect (pos, word), sort, project —
    // no column captured inside the lambda (the Catalyst-lambda rule)
    val cleaned = kept.groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("word")))),
        x => x.getField("word")), " ").as("clean_text"))
    base.select(col("doc_id"), col("nw").cast("long").as("n_words"))
      .join(counts, Seq("doc_id"), "left")
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_dup_words"), lit(0L)).as("n_dup_words"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** md5-derived Bloom-filter bit positions for one value: position j =
    * 16-bit parse of the leading hex digits of md5(j ":" value), reduced
    * mod mBits. mBits must be a power of two ≤ 65536 so the reduction is
    * exactly uniform (65536 % mBits == 0) and engine-portable. */
  private def bloomPositions(value: Column, mBits: Int, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), j =>
      conv(substring(md5(concat(j.cast("string"), lit(":"),
        value.cast("string"))), 1, 4), 16, 10).cast("long") % mBits)

  private def requireBloomParams(mBits: Int, k: Int): Unit = {
    require(mBits >= 32 && mBits <= 65536 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two in [32, 65536], got $mBits")
    require(k >= 1 && k <= 4, s"k must be in [1, 4], got $k")
  }

  /** Deterministic Bloom filter over a key column, as mBits/32 rows of
    * (word_idx, bits) — the set-membership PREFILTER a 100 TB ingest
    * needs ("have I seen this URL/document key before?") at a size that
    * broadcasts: the filter is O(mBits) regardless of corpus size, build
    * is one narrow pass + a filter-sized aggregation, and the no-false-
    * negative guarantee means the expensive exact path only runs on
    * probe hits. All hashing is md5-derived (no RNG, no seed state) so
    * the same inputs build the same filter on any engine or cluster —
    * false POSITIVES are deterministic too, which is what makes the
    * probe oracle-testable bit-for-bit. */
  def bloomBuild(df: DataFrame, valueCol: String, mBits: Int = 16384,
      k: Int = 2): DataFrame = {
    requireBloomParams(mBits, k)
    df.select(explode(bloomPositions(col(valueCol), mBits, k)).as("pos"))
      .select(expr("pos div 32").as("word_idx"),
        pow(lit(2.0), col("pos") % 32).cast("long").as("mask"))
      .groupBy(col("word_idx"))
      .agg(expr("bit_or(mask)").as("bits"))
  }

  /** Probe values against a [[bloomBuild]] filter: returns one row per
    * distinct probe value with `maybe_member` (all k bits set). The
    * filter side is broadcast (mBits/32 rows); the probe is a narrow
    * pass + one key-sized aggregation — a stream-static join away from
    * running at the ingest boundary. Parameters must match the build
    * call (same mBits/k — they define the bit layout).
    *
    * CONTRACT: null probe values are dropped (no output row) — a Bloom
    * filter has no bit pattern for null ([[bloomBuild]] likewise hashes
    * nothing for null inputs, since md5(null) is null), so membership of
    * null is undefined rather than silently "not a member". Callers that
    * need a verdict on nulls should coalesce to a sentinel before probing. */
  def bloomProbe(df: DataFrame, valueCol: String, bloom: DataFrame,
      mBits: Int = 16384, k: Int = 2): DataFrame = {
    requireBloomParams(mBits, k)
    df.select(col(valueCol).cast("string").as("v"))
      .filter(col("v").isNotNull)
      .select(col("v"), explode(bloomPositions(col("v"), mBits, k)).as("pos"))
      .select(col("v"), expr("pos div 32").as("word_idx"),
        pow(lit(2.0), col("pos") % 32).cast("long").as("mask"))
      .join(broadcast(bloom), Seq("word_idx"), "left")
      .withColumn("hit",
        (coalesce(col("bits"), lit(0L)).bitwiseAND(col("mask"))
          === col("mask")).cast("int"))
      .groupBy(col("v"))
      .agg((min(col("hit")) === 1).cast("long").as("maybe_member"))
  }

  /** k-anonymity / l-diversity audit — the privacy gate before a
    * dataset export: every quasi-identifier combination whose group is
    * smaller than `k` (re-identifiable: few people share the combo) or
    * whose sensitive column shows fewer than `l` distinct values
    * (attribute disclosure: knowing the combo reveals the secret even
    * at k-anonymity — Machanavajjhala et al.'s l-diversity). Output is
    * the VIOLATING groups only, with sizes, distinct counts, and both
    * flags; an empty result is the release criterion.
    *
    * Null is a quasi-identifier value like any other (it partitions
    * people too); null sensitive values don't count toward diversity
    * (a group of unknowns reveals nothing but protects nothing —
    * flagged). One map-side-combined aggregate, group-sized output. */
  def privacyAudit(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, k: Long, l: Long): DataFrame = {
    require(quasiCols.nonEmpty && quasiCols.distinct.size == quasiCols.size,
      s"quasiCols must be non-empty and distinct, got $quasiCols")
    require(k >= 1 && l >= 1, s"k and l must be >= 1, got k=$k l=$l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col(sensitiveCol)).as("n_sensitive_distinct"))
      .withColumn("under_k", (col("group_size") < k).cast("long"))
      .withColumn("under_l", (col("n_sensitive_distinct") < l).cast("long"))
      .filter(col("under_k") === 1L || col("under_l") === 1L)
  }

  /** k-anonymity generalization ladder — the SEARCH half of
    * [[privacyAudit]]'s check (the audit says level X violates; the
    * ladder says how far up the generalization hierarchy — zip→zip3,
    * age→decade, drop-the-column — a release must climb before the
    * whole table clears k, Sweeney's generalization lattice walked as
    * a report instead of a solver): one row per provided level with
    * its class count, smallest class, and how many ROWS sit in
    * below-k classes — the release decision is then "pick the lowest
    * level whose n_rows_below_k is 0 (or an acceptable suppression
    * budget)". Levels are caller-supplied (generalization is domain
    * knowledge); empty levels report NULL min out loud.
    *
    * Scale shape: one map-side-combined groupBy per level (the ladder
    * is a handful of levels, each a full-combine aggregate whose
    * shuffle carries class keys, not rows) folded to ONE row each,
    * then a level-count-sized union. */
  def kAnonymityLadder(df: DataFrame,
      levels: Seq[(String, Seq[Column])], k: Long): DataFrame = {
    require(levels.nonEmpty, "need at least one ladder level")
    require(levels.map(_._1).distinct.size == levels.size,
      s"level names must be distinct, got ${levels.map(_._1)}")
    require(levels.forall(_._2.nonEmpty), "each level needs >= 1 column")
    require(k >= 1, s"k must be >= 1, got $k")
    levels.map { case (name, cols) =>
      df.groupBy(cols: _*)
        .agg(count(lit(1)).as("_gs"))
        .agg(
          coalesce(sum(col("_gs")), lit(0L)).as("n_rows"),
          count(lit(1)).as("n_classes"),
          min(col("_gs")).as("min_class_size"),
          coalesce(sum(when(col("_gs") < k, col("_gs")).otherwise(0L)),
            lit(0L)).as("n_rows_below_k"))
        .select(lit(name).as("level"), col("n_rows"), col("n_classes"),
          col("min_class_size"), col("n_rows_below_k"),
          lit(k).as("k"))
    }.reduce(_ unionByName _)
  }

  /** The Benford expected-proportion table in micro units:
    * `floor(10⁶·log₁₀(1 + 1/d))` for digits 1..9. ONE definition shared
    * by [[benfordDigits]] and its oracle (the ndcg-discount idiom — fix
    * the irrational constants as integers once, and the metric becomes
    * exact integer arithmetic everywhere). */
  def benfordMicro: Seq[Long] =
    (1 to 9).map(d => math.floor(1e6 * math.log10(1.0 + 1.0 / d)).toLong)

  /** Benford first-digit audit — the classic fabricated-data /
    * broken-pipeline smell test for naturally-spread positive
    * magnitudes (prices, counts, file sizes): observed first-digit
    * counts vs the Benford expectation, in exact integers:
    * `deviation_micro = n_d·10⁶ − n·p_micro(d)`. Non-positive and null
    * values are excluded from n (Benford speaks only of positive
    * magnitudes). All 9 digits always appear, zero-observation ones
    * included. One narrow digit extraction + a 9-row aggregate. */
  def benfordDigits(df: DataFrame, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    val obs = df.select(col(valueCol).cast("long").as("_v"))
      .filter(col("_v").isNotNull && col("_v") > 0L)
      .select(substring(col("_v").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_observed"))
    val expected = spark.range(1, 10).select(col("id").as("digit"),
      element_at(array(benfordMicro.map(lit): _*), col("id").cast("int"))
        .as("p_micro"))
    val total = obs.agg(coalesce(sum(col("n_observed")), lit(0L)).as("n"))
    expected.join(obs, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"),
        coalesce(col("n_observed"), lit(0L)).as("n_observed"),
        col("n"), col("p_micro"),
        (coalesce(col("n_observed"), lit(0L)) * 1000000L -
          col("n") * col("p_micro")).as("deviation_micro"))
  }

  /** Referential-integrity audit — the pipeline pre-flight for any
    * join-shaped plan ([[functionalDependencies]] finds the hidden
    * keys; this checks the declared ones): how many child rows point
    * at a parent key that does not exist. Orphans silently vanish from
    * inner joins and explode null-handling downstream — at 100 TB you
    * audit BEFORE the 6-hour join, not after.
    *
    * Output (one row): `(n_child, n_null_fk, n_orphan_rows,
    * n_orphan_keys, orphan_permille)` — null FKs are counted apart
    * (SQL FK semantics: a null FK is not a violation), and the
    * permille is orphan rows over non-null-FK rows.
    *
    * Scale shape: ONE pass over the child — a single left join against
    * the deduped parent keys (Catalyst broadcasts the parent side when
    * it fits — dimension tables usually do) feeds every counter as a
    * conditional aggregate; the child is never scanned twice. */
  def refIntegrity(child: DataFrame, fkCol: String, parent: DataFrame,
      pkCol: String): DataFrame = {
    val flagged = child.select(col(fkCol).as("_fk"))
      .join(parent.select(col(pkCol).as("_pk")).distinct()
          .withColumn("_hit", lit(1L)),
        col("_fk") === col("_pk"), "left")
    val orphan = col("_fk").isNotNull && col("_hit").isNull
    flagged.agg(
        coalesce(sum(col("_fk").isNotNull.cast("long")), lit(0L))
          .as("n_child"),
        coalesce(sum(col("_fk").isNull.cast("long")), lit(0L))
          .as("n_null_fk"),
        coalesce(sum(orphan.cast("long")), lit(0L)).as("n_orphan_rows"),
        countDistinct(when(orphan, col("_fk"))).as("n_orphan_keys"))
      .select(col("n_child"), col("n_null_fk"), col("n_orphan_rows"),
        col("n_orphan_keys"),
        when(col("n_child") > 0L,
          expr("cast(n_orphan_rows as decimal(38,0)) * 1000" +
            " div n_child")).as("orphan_permille"))
  }

  /** EXACT percentile values via the distributed rank — the ground
    * truth beside the mergeable-sketch estimators (P109's
    * sketch_quantiles): when the question is an SLA boundary or an
    * audit ("the exact p99, not ±ε"), rank selection is the answer and
    * the single-partition ORDER BY it naively needs is the trap.
    * Percentile q (1..100) = the row at rank `ceil(q·n/100)` of the
    * (value, tie) total order.
    *
    * Scale shape: one range shuffle for the global rank
    * ([[DistributedOrder]]), one tiny aggregate for n, and a BROADCAST
    * of the |qs| target ranks joined against the ranked data — the
    * value rows never re-shuffle and nothing data-sized explodes.
    * Output: `(q, value-column, rank, n)` one row per requested
    * percentile (empty input → empty result). */
  def exactQuantiles(df: DataFrame, valueCol: String, tieCol: String,
      qs: Seq[Int]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 1 && q <= 100),
      s"qs must be within 1..100, got $qs")
    require(qs.distinct.size == qs.size, s"duplicate percentiles: $qs")
    val ranked = DistributedOrder.withGlobalRank(
      df.select(col(valueCol), col(tieCol)), "_r",
      col(valueCol), col(tieCol))
      .localCheckpoint(false) // feeds the n aggregate AND the join
    val targets = ranked.agg(coalesce(max(col("_r")), lit(0L)).as("n"))
      .select(explode(array(qs.map(q => lit(q.toLong)): _*)).as("q"),
        col("n"))
      .withColumn("_target", expr("(q * n + 99) div 100"))
    ranked.join(broadcast(targets), col("_r") === col("_target"))
      .select(col("q"), col(valueCol), col("_r").as("rank"), col("n"))
  }

  /** Per-group exact-median imputation — the null REPAIR next to
    * [[winsorize]]'s outlier clamp (a model can't eat a null; dropping
    * the row wastes every other feature; the group median is the
    * standard robust fill): nulls in `valueCol` fill with their
    * group's LOWER median (rank `(n+1) div 2` of the non-null value
    * order — a total rule, so the fill is a pure function of the
    * group; no averaging, so integer columns stay integers). Groups
    * with no non-null values keep their nulls — inventing a global
    * fill silently is not this engine's style.
    *
    * Scale shape: one map-side-combined (group, value) count, the
    * cumulative rank runs over the (group, value)-DISTINCT frame
    * (per-group windows, rows = distinct values per group — never the
    * raw data), and the group-sized median frame joins back (AQE
    * broadcasts it when it fits). Output: every input column plus
    * `<valueCol>_imputed`. */
  def imputeMedian(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("_g"), col(valueCol).as("_v"))
      .agg(count(lit(1)).as("_n"))
    val ord = Window.partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col("_g"))
    val med = counts
      .withColumn("_cum", sum(col("_n")).over(ord))
      .withColumn("_tot", sum(col("_n")).over(whole))
      .filter(expr("_cum >= (_tot + 1) div 2"))
      .groupBy(col("_g")).agg(min(col("_v")).as("_med"))
    df.join(med, df(groupCol) === med("_g"), "left")
      .withColumn(s"${valueCol}_imputed",
        coalesce(col(valueCol), col("_med")))
      .drop("_g", "_med")
  }

  /** Winsorization at exact percentiles — the outlier REPAIR next to
    * [[robustOutliers]]' detection (detection flags rows; training
    * pipelines mostly want the feature kept but CLAMPED, not the row
    * dropped): values below the exact p-low percentile clamp up to it,
    * above p-high clamp down. Percentile values come from
    * [[exactQuantiles]] (rank selection over the distributed order —
    * never a single-partition sort), so the bounds are the auditable
    * exact order statistics, not a sketch estimate.
    *
    * Scale shape: one ranked pass for the two bounds (2 rows), then
    * the clamp is a narrow map with the bounds CROSS-JOINED on (a
    * 1-row broadcast). Null values pass through unclamped. Output:
    * every input column plus `<valueCol>_wins`, `lo`, `hi`. */
  def winsorize(df: DataFrame, valueCol: String, tieCol: String,
      pLow: Int, pHigh: Int): DataFrame = {
    require(pLow >= 1 && pHigh <= 100 && pLow < pHigh,
      s"need 1 <= pLow < pHigh <= 100, got ($pLow, $pHigh)")
    val qs = exactQuantiles(
      df.filter(col(valueCol).isNotNull), valueCol, tieCol,
      Seq(pLow, pHigh))
    val bounds = qs.agg(
      min(when(col("q") === pLow.toLong, col(valueCol))).as("lo"),
      min(when(col("q") === pHigh.toLong, col(valueCol))).as("hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn(s"${valueCol}_wins",
        when(col(valueCol).isNull, lit(null))
          .when(col(valueCol) < col("lo"), col("lo"))
          .when(col(valueCol) > col("hi"), col("hi"))
          .otherwise(col(valueCol)))
  }

  /** Functional-dependency discovery over a column set — the schema
    * profiler's structural half (P188's `profile_table` measures value
    * shapes; this finds the A→B determinations that reveal hidden keys,
    * denormalized copies, and safe-to-normalize columns before a
    * 100 TB table is laid out): for every ordered pair (lhs, rhs),
    * lhs → rhs holds iff no lhs value maps to more than one distinct
    * non-null rhs value.
    *
    * Scale shape: ONE shuffle per lhs column (not per pair) — a single
    * groupBy(lhs) computes countDistinct for every rhs at once, then
    * the per-pair verdicts fold map-side from key-sized rows.
    * Null lhs rows are excluded; null rhs values don't count as a
    * second value (countDistinct semantics, oracle-mirrored). Output:
    * `(lhs, rhs, n_keys, n_violating_keys, holds)` per ordered pair. */
  def functionalDependencies(df: DataFrame,
      cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.distinct.size == cols.size,
      s"need >= 2 distinct columns, got $cols")
    val frames = cols.map { lhs =>
      val rhss = cols.filterNot(_ == lhs)
      val aggs = rhss.map(r => countDistinct(col(r)).as(s"_d_$r"))
      val g = df.filter(col(lhs).isNotNull)
        .groupBy(col(lhs)).agg(aggs.head, aggs.tail: _*)
      val pairRows = rhss.map(r => struct(lit(lhs).as("lhs"),
        lit(r).as("rhs"), (col(s"_d_$r") > 1L).cast("long").as("viol")))
      g.select(explode(array(pairRows: _*)).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("p.viol")).as("n_violating_keys"))
    }
    frames.reduce(_ unionByName _)
      .withColumn("holds",
        (col("n_violating_keys") === 0L).cast("long"))
  }

  /** Exact ROC-AUC via the Mann–Whitney U statistic — the classifier
    * eval next to [[raterAgreement]]'s κ (κ grades agreement of two
    * LABELERS; AUC grades a SCORE against binary truth): the
    * probability a random positive outscores a random negative, ties
    * counting half. Exact in integers:
    * `auc_permille = (2·wins + ties)·1000 div (2·n_pos·n_neg)` with
    * `wins = Σ_s p_s·(negatives strictly below s)` and
    * `ties = Σ_s p_s·q_s` over score groups — the tie-group
    * formulation, no midrank fractions anywhere.
    *
    * Scale shape: one map-side-combined groupBy(score), then the
    * negatives-below prefix sum runs on the GROUP frame through
    * [[DistributedOrder.withGlobalExclusiveSum]] (range shuffle +
    * broadcast offsets — never a single-partition window, even when a
    * continuous score makes the group frame row-sized), and one final
    * fold. Null labels/scores are excluded; label values other than
    * 0/1 are counted out loud in `n_excluded`, never silently folded —
    * INCLUDING labels that fail the long cast (a string label "yes"
    * try_casts to null — ANSI mode makes a plain cast THROW on
    * malformed strings; the cast runs after the null filter, so the
    * original-non-null/cast-null case reaches the counter instead of
    * vanishing). Output one row:
    * `(n_pos, n_neg, n_excluded, auc_permille)` —
    * AUC is NULL when either class is empty. */
  def aucEval(df: DataFrame, labelCol: String,
      scoreCol: String): DataFrame = {
    val base = df
      .select(col(labelCol).as("_y0"), col(scoreCol).as("_s"))
      .filter(col("_y0").isNotNull && col("_s").isNotNull)
      .withColumn("_y", expr("try_cast(_y0 AS LONG)"))
    val grouped = base.groupBy(col("_s")).agg(
      sum(when(col("_y") === 1L, 1L).otherwise(0L)).as("_p"),
      sum(when(col("_y") === 0L, 1L).otherwise(0L)).as("_q"),
      sum(when(col("_y").isNull || !col("_y").isin(0L, 1L), 1L)
        .otherwise(0L)).as("_o"))
    DistributedOrder
      .withGlobalExclusiveSum(grouped, "_qb", col("_q"), col("_s"))
      .agg(
        coalesce(sum(col("_p")), lit(0L)).as("n_pos"),
        coalesce(sum(col("_q")), lit(0L)).as("n_neg"),
        coalesce(sum(col("_o")), lit(0L)).as("n_excluded"),
        coalesce(sum(expr("cast(_p as decimal(38,0)) * _qb")),
          lit(0L).cast("decimal(38,0)")).as("_wins"),
        coalesce(sum(expr("cast(_p as decimal(38,0)) * _q")),
          lit(0L).cast("decimal(38,0)")).as("_ties"))
      .select(col("n_pos"), col("n_neg"), col("n_excluded"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          expr("cast((2 * _wins + _ties) * 1000 div " +
            "(2 * cast(n_pos as decimal(38,0)) * n_neg) as bigint)"))
          .as("auc_permille"))
  }

  /** Exact precision–recall curve at EVERY distinct score threshold —
    * the operating-point table [[aucEval]]'s single number summarizes
    * away (picking a deployment threshold needs the whole curve:
    * precision, recall and F1 at "predict positive when score ≥ t"
    * for each observed t): one row per distinct score, with the
    * confusion counts and permille metrics for the classifier that
    * thresholds there. Descending thresholds give the standard sweep
    * from strictest (highest precision, lowest recall) to laxest.
    *
    * Label hygiene is the [[aucEval]] stance verbatim: null
    * labels/scores drop, labels outside {0,1} — including strings
    * failing try_cast — are counted out loud per threshold in
    * `n_excluded` and contribute to NO count. Output per threshold:
    * `(threshold, n_predicted, tp, fp, fn, n_excluded,
    * precision_permille, recall_permille, f1_permille)` — recall is
    * NULL when no positives exist at all.
    *
    * Scale shape: one map-side-combined groupBy(score), then BOTH
    * running sums (positives, predictions) on the GROUP frame through
    * [[DistributedOrder.withGlobalExclusiveSum]] (range shuffle +
    * broadcast offsets — never a single-partition window, even when a
    * continuous score makes the group frame row-sized); the positive
    * total is a 1-row driver scalar. */
  def prCurve(df: DataFrame, labelCol: String,
      scoreCol: String): DataFrame = {
    val base = df
      .select(col(labelCol).as("_y0"), col(scoreCol).as("threshold"))
      .filter(col("_y0").isNotNull && col("threshold").isNotNull)
      .withColumn("_y", expr("try_cast(_y0 AS LONG)"))
    val grouped = base.groupBy(col("threshold")).agg(
      sum(when(col("_y") === 1L, 1L).otherwise(0L)).as("_p"),
      sum(when(col("_y").isin(0L, 1L), 1L).otherwise(0L)).as("_n"),
      sum(when(col("_y").isNull || !col("_y").isin(0L, 1L), 1L)
        .otherwise(0L)).as("n_excluded"))
    val pTotRow = grouped.agg(coalesce(sum(col("_p")), lit(0L))).head
    val pTot = pTotRow.getLong(0)
    val summed = DistributedOrder.withGlobalExclusiveSum(
      DistributedOrder.withGlobalExclusiveSum(grouped, "_tpx",
        col("_p"), col("threshold").desc),
      "_npx", col("_n"), col("threshold").desc)
    summed
      .withColumn("tp", col("_tpx") + col("_p"))
      .withColumn("n_predicted", col("_npx") + col("_n"))
      .withColumn("fp", col("n_predicted") - col("tp"))
      .withColumn("fn", lit(pTot) - col("tp"))
      .withColumn("precision_permille", expr(
        "case when n_predicted > 0" +
          " then tp * 1000 div n_predicted end"))
      .withColumn("recall_permille",
        when(lit(pTot) > 0L, expr(s"tp * 1000 div $pTot")))
      .withColumn("f1_permille", expr(
        "case when 2 * tp + fp + fn > 0" +
          " then 2 * tp * 1000 div (2 * tp + fp + fn) end"))
      .select(col("threshold"), col("n_predicted"), col("tp"),
        col("fp"), col("fn"), col("n_excluded"),
        col("precision_permille"), col("recall_permille"),
        col("f1_permille"))
  }

  /** Calibration reliability bins — the eval beside [[aucEval]] that
    * AUC cannot see (AUC is rank-only: a model predicting 510‰ for
    * every positive and 490‰ for every negative has perfect AUC and
    * useless probabilities; routing, thresholding and mixture
    * weighting all consume the PROBABILITY): scores (integer permille,
    * clamped into [0, 1000]) bucket into `nBins` equal-width bins;
    * each bin reports how far its observed positive rate sits from its
    * mean claimed score — the reliability-diagram table, exact.
    *
    * Label hygiene is the [[aucEval]] stance verbatim: null
    * labels/scores drop, labels outside {0,1} — including strings that
    * fail try_cast — are counted out loud per bin in `n_excluded` and
    * contribute to NO rate. Output per bin:
    * `(bin, n, n_pos, n_excluded, mean_score_permille, pos_permille,
    * gap_permille)` — rates NULL when the bin holds no binary rows.
    *
    * Scale shape: ONE map-side-combined groupBy on the bin key (≤
    * nBins groups); everything downstream is bin-sized. */
  def calibrationBins(df: DataFrame, labelCol: String,
      scorePermilleCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val base = df
      .select(col(labelCol).as("_y0"),
        col(scorePermilleCol).cast("long").as("_s"))
      .filter(col("_y0").isNotNull && col("_s").isNotNull)
      .withColumn("_y", expr("try_cast(_y0 AS LONG)"))
      .withColumn("_sc", greatest(lit(0L), least(lit(1000L), col("_s"))))
      .withColumn("bin",
        least(expr(s"_sc * $nBins div 1000"), lit(nBins - 1L)))
    val bad = col("_y").isNull || !col("_y").isin(0L, 1L)
    base.groupBy(col("bin"))
      .agg(
        sum(when(bad, 0L).otherwise(1L)).as("n"),
        sum(when(col("_y") === 1L, 1L).otherwise(0L)).as("n_pos"),
        sum(when(bad, 1L).otherwise(0L)).as("n_excluded"),
        sum(when(bad, 0L).otherwise(col("_sc"))).as("_sum_sc"))
      .select(col("bin"), col("n"), col("n_pos"), col("n_excluded"),
        expr("case when n > 0 then _sum_sc div n end")
          .as("mean_score_permille"),
        expr("case when n > 0 then n_pos * 1000 div n end")
          .as("pos_permille"),
        expr("case when n > 0 then abs(n_pos * 1000 div n" +
          " - _sum_sc div n) end").as("gap_permille"))
  }

  /** Expected calibration error folded from [[calibrationBins]] — the
    * one-number summary (Naeini et al., AAAI'15's ECE, exact): the
    * bin-population-weighted mean |observed − claimed| gap,
    * `Σ_b n_b·gap_b div N`, in permille. One row:
    * `(n, n_excluded, ece_permille)` — NULL when no binary row
    * exists. Bin-sized input, so the fold is free. */
  def calibrationEce(df: DataFrame, labelCol: String,
      scorePermilleCol: String, nBins: Int = 10): DataFrame =
    calibrationBins(df, labelCol, scorePermilleCol, nBins)
      .agg(
        coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("n_excluded")), lit(0L)).as("n_excluded"),
        sum(col("n") * col("gap_permille")).as("_wgap"))
      .select(col("n"), col("n_excluded"),
        expr("case when n > 0 then _wgap div n end").as("ece_permille"))

  /** Inclusion-dependency discovery across tables — the OTHER half of
    * schema profiling next to [[functionalDependencies]] (FDs find keys
    * WITHIN a table; INDs find the join paths BETWEEN tables): for every
    * ordered attribute pair, `lhs ⊆ rhs` holds iff every distinct
    * non-null lhs value also occurs in rhs — the undeclared foreign keys
    * a data lake navigates by. Attributes are `(name, frame, column)`
    * from ANY tables; values compare by their string rendering (the
    * SINDY normalization — an int 7 and a varchar '7' unify, documented
    * rather than accidental).
    *
    * Scale shape: the SINDY flat-map/reduce (Kruse et al., EDBT'15) —
    * never a pairwise join of TABLES. One distinct per attribute
    * (map-side combinable), one groupBy(value) building each value's
    * attribute SET, then the per-value set explodes to ordered pairs
    * (≤ |attrs|² rows per value) and folds map-side to |attrs|²
    * counters. `n_missing_values(a,b) = n_values(a) − n_common(a,b)`,
    * so one co-occurrence count serves every pair. Output per ordered
    * pair: `(lhs, rhs, n_lhs_values, n_missing_values, holds)`. */
  def inclusionDependencies(
      attrs: Seq[(String, DataFrame, String)]): DataFrame = {
    require(attrs.size >= 2, s"need >= 2 attributes, got ${attrs.size}")
    require(attrs.map(_._1).distinct.size == attrs.size,
      s"duplicate attribute names in ${attrs.map(_._1)}")
    val spark = attrs.head._2.sparkSession
    import spark.implicits._
    // materialized once: both the per-value set build and the
    // per-attribute counts consume it, and without a cut each would
    // re-scan and re-distinct every input table. An attribute with
    // zero non-null values yields (0, 0, holds=1) rows — the empty
    // set is vacuously included everywhere (oracle-mirrored).
    val vals = attrs.map { case (name, df, c) =>
      df.select(lit(name).as("_a"), col(c).cast("string").as("_v"))
        .filter(col("_v").isNotNull).distinct()
    }.reduce(_ unionByName _).localCheckpoint(false)
    val sets = vals.groupBy(col("_v")).agg(collect_set(col("_a")).as("_s"))
    val common = sets
      .select(explode(col("_s")).as("lhs"), col("_s"))
      .select(col("lhs"), explode(col("_s")).as("rhs"))
      .filter(col("lhs") =!= col("rhs"))
      .groupBy(col("lhs"), col("rhs")).agg(count(lit(1)).as("_n_common"))
    val counts = vals.groupBy(col("_a")).agg(count(lit(1)).as("_n_values"))
    val names = attrs.map(_._1)
    val pairs = names.flatMap(a => names.filter(_ != a).map(b => (a, b)))
      .toDF("lhs", "rhs")
    pairs
      .join(broadcast(counts.withColumnRenamed("_a", "lhs")), Seq("lhs"),
        "left")
      .join(broadcast(common), Seq("lhs", "rhs"), "left")
      .select(col("lhs"), col("rhs"),
        coalesce(col("_n_values"), lit(0L)).as("n_lhs_values"),
        (coalesce(col("_n_values"), lit(0L)) -
          coalesce(col("_n_common"), lit(0L))).as("n_missing_values"))
      .withColumn("holds",
        (col("n_missing_values") === 0L).cast("long"))
  }

  /** Spearman rank correlation between two score columns — the "do my
    * two quality signals agree" eval (compression ratio vs classifier
    * score, BM25 vs embedding relevance, any proxy vs truth): monotone
    * association without the distributional assumptions Pearson needs,
    * and — because it is all ranks — exactly computable in integers:
    * `rho_permille = 1000 − 6·Σd²·1000 div n(n²−1)` with d the rank
    * difference per row. Ranks are row_number over the TOTAL order
    * (score, id) — ties break by id rather than fractional average
    * ranks (the standard tie-corrected variant needs fractions;
    * documented deviation, negligible when ties are rare, deterministic
    * always). Both ranks come from [[DistributedOrder.withGlobalRank]]
    * (never a single-partition window); the join is id-keyed. Rows
    * where either score is null are excluded BEFORE ranking. Output:
    * one row `(n, sum_d2, rho_permille)`; n < 2 → null rho. `sum_d2`
    * is emitted as BIGINT (exact for n ≤ ~2×10⁶; the permille uses
    * DECIMAL throughout and has no such bound). */
  def rankCorrelation(df: DataFrame, idCol: String, xCol: String,
      yCol: String): DataFrame = {
    val base = df.select(col(idCol).as("_id"), col(xCol).as("_x"),
        col(yCol).as("_y"))
      .filter(col("_x").isNotNull && col("_y").isNotNull)
      .localCheckpoint(false) // feeds both rank passes
    val rx = DistributedOrder.withGlobalRank(
      base.select(col("_id"), col("_x")), "_rx", col("_x"), col("_id"))
      .select(col("_id"), col("_rx"))
    val ry = DistributedOrder.withGlobalRank(
      base.select(col("_id"), col("_y")), "_ry", col("_y"), col("_id"))
      .select(col("_id"), col("_ry"))
    rx.join(ry, Seq("_id"))
      .select(((col("_rx") - col("_ry")) * (col("_rx") - col("_ry")))
        .as("_d2"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(expr("cast(_d2 as decimal(38,0))")), lit(0L))
          .as("_sd2"))
      .select(col("n"), col("_sd2").cast("long").as("sum_d2"),
        when(col("n") >= 2L,
          lit(1000L) - expr("cast((cast(_sd2 as decimal(38,0)) * 6000)" +
            " div (cast(n as decimal(38,0)) * n * n - n) as bigint)"))
          .as("rho_permille"))
  }

  /** Gini–Simpson diversity of a categorical column per group — the
    * mix-health metric next to [[P21 domain_mix]]'s raw proportions:
    * `1 − Σ_c p_c²` is the probability two random docs of the group
    * differ in category (0 = monoculture, →1 = evenly spread), the
    * standard diversity index that needs NO logarithm — which is what
    * makes it exactly computable in integers where Shannon entropy is
    * not: `simpson_permille = 1000 − (Σ n_c²·1000 div N²)`, DECIMAL
    * intermediates so no count bound matters.
    *
    * Scale shape: one map-side-combined (group, category) cell count —
    * the only data-sized pass — then a cell-sized aggregate. Output per
    * group: `(n_docs, n_categories, simpson_permille)`. */
  def giniDiversity(df: DataFrame, groupCol: String,
      catCol: String): DataFrame =
    df.select(col(groupCol).as("_g"), col(catCol).as("_c"))
      .filter(col("_c").isNotNull)
      .groupBy(col("_g"), col("_c")).agg(count(lit(1)).as("n"))
      .groupBy(col("_g"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_categories"),
        sum(expr("cast(n as decimal(38,0)) * n")).as("_ssq"))
      .select(col("_g").as(groupCol), col("n_docs"), col("n_categories"),
        (lit(1000L) - expr("cast((cast(_ssq as decimal(38,0)) * 1000)" +
          " div (cast(n_docs as decimal(38,0)) * n_docs) as bigint)"))
          .as("simpson_permille"))

  /** Vocabulary-growth (Heaps'-law) profile — how fast the corpus adds
    * NEW word types as it adds tokens, the curve every tokenizer-budget
    * and dedup-health decision reads (a healthy crawl grows vocabulary
    * ~ tokens^β with β≈0.5; a curve that flattens early means the new
    * data is rehashing old vocabulary — more tokens, no new
    * information). Documents are consumed in `idCol` order in buckets
    * of `bucketSize`; a type is NEW in the bucket where its first
    * occurrence (min doc id) lands.
    *
    * Scale shape: the first-occurrence map is ONE groupBy(token) with a
    * map-side-combinable min — the shuffle carries distinct tokens, not
    * token occurrences; per-bucket token totals fold the same way. The
    * only ordered step is the cumulative sum over BUCKETS — a
    * #buckets-sized frame (corpus/bucketSize rows, thousands at most),
    * explicitly collapsed to one partition because it is driver-tiny,
    * never over row-sized data. Empty tokens are ignored. Output one
    * row per bucket: `(bucket, n_tokens, new_types, cum_tokens,
    * cum_types)` — the (cum_tokens, cum_types) pairs ARE the Heaps
    * curve. */
  def vocabGrowth(df: DataFrame, textCol: String, idCol: String,
      bucketSize: Int): DataFrame = {
    require(bucketSize >= 1, s"bucketSize must be >= 1, got $bucketSize")
    // integer `div` (not `/`, which is double division); ids are
    // non-negative by contract, where div ≡ DuckDB's floor `//`
    val toks = df.select(
        expr(s"cast(`$idCol` as bigint) div $bucketSize").as("_bucket"),
        explode(split(col(textCol), " ")).as("_tok"))
      .filter(length(col("_tok")) > 0)
    val perBucket = toks.groupBy(col("_bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTypes = toks.groupBy(col("_tok"))
      .agg(min(col("_bucket")).as("_bucket"))
      .groupBy(col("_bucket")).agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(newTypes, Seq("_bucket"), "full_outer")
      .select(col("_bucket").as("bucket"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
  }

  /** Chao1 vocabulary-richness estimate — the companion question to
    * [[vocabGrowth]]'s curve (growth says how fast new types arrive;
    * Chao1 says how many types the corpus is still MISSING — the
    * species-richness lower bound ecology uses for the same
    * sample-coverage problem, Chao 1984): from the frequency-of-
    * frequencies head, `chao1 = D + f1·(f1−1) div (2·(f2+1))` — the
    * bias-corrected form, exact in integers (DECIMAL(38) intermediate:
    * f1² at web-corpus vocabulary sizes overflows a long) — where D is
    * observed types, f1 singletons, f2 doubletons. A corpus whose
    * chao1 ≈ D has been seen in full (new shards will rehash old
    * vocabulary — the dedup-health signal); chao1 ≫ D says keep
    * collecting. Tokenization matches vocabGrowth (whitespace split,
    * empties dropped). Output one row:
    * `(n_tokens, n_types, f1, f2, chao1)`.
    *
    * Scale shape: one map-side-combined groupBy(token) — the shuffle
    * carries distinct types, not occurrences — then ONE fold to a
    * single row; no ordered step at all. */
  def vocabRichness(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("_tok"))
      .filter(length(col("_tok")) > 0)
      .groupBy(col("_tok")).agg(count(lit(1)).as("_c"))
      .agg(
        coalesce(sum(col("_c")), lit(0L)).as("n_tokens"),
        count(lit(1)).as("n_types"),
        coalesce(sum(when(col("_c") === 1L, 1L).otherwise(0L)), lit(0L))
          .as("f1"),
        coalesce(sum(when(col("_c") === 2L, 1L).otherwise(0L)), lit(0L))
          .as("f2"))
      .withColumn("chao1", expr(
        "cast(n_types + cast(f1 as decimal(38,0)) * (f1 - 1)" +
          " div (2 * (f2 + 1)) as bigint)"))

  /** Inter-rater agreement (Cohen's κ) between two label columns — the
    * eval primitive for weak supervision and classifier QA: how much
    * better than chance do two labelers (model vs truth, model vs
    * model, annotator vs annotator) agree. Accuracy alone rewards
    * majority-class parroting; κ subtracts the chance-agreement floor.
    *
    * `κ = (p_o − p_e)/(1 − p_e)` with `p_o` the observed agreement and
    * `p_e = Σ_c m₁(c)·m₂(c)/N²` the marginal-product chance rate —
    * computed entirely in exact integers:
    * `kappa_permille = 1000·(A·N − P) div (N² − P)` with
    * `P = Σ_c m₁(c)·m₂(c)`, in DECIMAL(38)/HUGEINT intermediates (P and
    * the κ numerator grow ~n², so raw longs would wrap past ~10⁸ rows).
    * κ can be negative, so the division is the TRUNCATING `div` (both
    * engines truncate toward zero — the one integer-division semantics
    * they share on negatives; the pmod-floor
    * idiom used elsewhere is positive-only). Rows with a null on either
    * side are excluded from N; if p_e = 1 (both raters constant and
    * equal) κ is undefined → NULL.
    *
    * Scale shape: ONE data-sized shuffle (the (a, b) cell count);
    * marginals, agreement, and totals all derive from the cell matrix
    * (|classes|² rows). Output: one row
    * `(n, n_agree, po_permille, pe_permille, kappa_permille)`. */
  def raterAgreement(labels: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val cells = labels
      .select(col(aCol).as("_a"), col(bCol).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull)
      .groupBy(col("_a"), col("_b")).agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // feeds totals and both marginals
    val m1 = cells.groupBy(col("_a")).agg(sum(col("n")).as("n1"))
    val m2 = cells.groupBy(col("_b")).agg(sum(col("n")).as("n2"))
    // p ~ n² and the κ numerator ~ n² · 1000: DECIMAL(38) end to end
    // (the giniDiversity/chi2Terms stance), so no row count silently
    // wraps a long — the quotients themselves are ≤ 1000
    val pe = m1.join(m2, col("_a") === col("_b"))
      .agg(coalesce(sum(expr("cast(n1 as decimal(38,0)) * n2")),
        lit(0L).cast("decimal(38,0)")).as("p"))
    val tot = cells.agg(
      coalesce(sum(col("n")), lit(0L)).as("n"),
      coalesce(sum(when(col("_a") === col("_b"), col("n"))
        .otherwise(0L)), lit(0L)).as("n_agree"))
    tot.crossJoin(pe)
      .select(col("n"), col("n_agree"),
        when(col("n") > 0L,
          expr("cast(n_agree as decimal(38,0)) * 1000 div n"))
          .as("po_permille"),
        when(col("n") > 0L,
          expr("p * 1000 div (cast(n as decimal(38,0)) * n)"))
          .as("pe_permille"),
        when(col("n") > 0L &&
            expr("cast(n as decimal(38,0)) * n") =!= col("p"),
          expr("(cast(n_agree as decimal(38,0)) * n - p) * 1000" +
            " div (cast(n as decimal(38,0)) * n - p)"))
          .as("kappa_permille"))
  }

  /** Per-group duplication-rate audit — the provenance question the
    * corpus-level dedup gates don't answer (dedup_exact says WHICH
    * rows drop; a mixing decision needs "which SOURCE is feeding me
    * rehashed content" BEFORE committing to its weight): per group the
    * doc count, distinct content-hash count, duplicate surplus, and
    * `dup_permille` — a source near 0 is fresh, near 1000 is a mirror.
    * Content identity is md5 of the text column (the dedup_exact key).
    *
    * Scale shape: one map-side-combined (group, hash) count — the
    * shuffle carries distinct (group, hash) pairs — folded to a
    * group-sized frame; no joins. */
  def dupRateByGroup(df: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    df.select(col(groupCol).as("grp"), md5(col(textCol)).as("_h"))
      .groupBy(col("grp"), col("_h")).agg(count(lit(1)).as("_c"))
      .groupBy(col("grp"))
      .agg(sum(col("_c")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum(col("_c")) - count(lit(1))).as("n_dup_docs"))
      .withColumn("dup_permille", expr(
        "case when n_docs > 0 then n_dup_docs * 1000 div n_docs end"))

  /** Pairwise source-overlap matrix — the cross-group half of
    * [[dupRateByGroup]] (within-source surplus says a source repeats
    * ITSELF; two sources sharing content means paying for the same
    * data twice, or one scraping the other — the provenance signal
    * behind dataset licensing fights): per unordered group pair the
    * shared distinct-content count and exact Jaccard permille over
    * their distinct-hash sets. Pairs sharing NOTHING are absent
    * (their Jaccard is 0 by construction — documented, not computed:
    * emitting the zero matrix would be |groups|² rows of nothing).
    *
    * Scale shape: one distinct over (group, hash) incidences, then
    * the pair self-join CO-LOCATES on the hash key — fan-out per hash
    * ≤ #groups² (group count is fleet-small, never data-sized), pair
    * counts fold map-side, and the two size joins run against a
    * group-sized frame (AQE broadcasts it). */
  def sourceOverlap(df: DataFrame, textCol: String,
      groupCol: String): DataFrame = {
    val inc = df.select(col(groupCol).as("g"), md5(col(textCol)).as("_h"))
      .distinct()
      .localCheckpoint(false) // feeds sizes AND both pair-join sides
    val sizes = inc.groupBy(col("g")).agg(count(lit(1)).as("_n"))
    inc.select(col("_h"), col("g").as("g_a"))
      .join(inc.select(col("_h"), col("g").as("g_b")), Seq("_h"))
      .filter(col("g_a") < col("g_b"))
      .groupBy(col("g_a"), col("g_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("g").as("g_a"), col("_n").as("n_a")),
        Seq("g_a"))
      .join(sizes.select(col("g").as("g_b"), col("_n").as("n_b")),
        Seq("g_b"))
      .withColumn("jaccard_permille",
        expr("n_common * 1000 div (n_a + n_b - n_common)"))
  }

  /** Per-group rank normalization — the score-alignment transform a
    * multi-source mixing pipeline needs before comparing quality
    * scores ACROSS sources (a "0.8" from one classifier and a "0.8"
    * from another are not the same thing; their within-source RANKS
    * are): appends the exact 1-based within-group rank and
    * `rank_permille = (rank − 1)·1000 div (n_group − 1)` — 0 for the
    * group's minimum, 1000 for its maximum, exact integers.
    * Single-row groups report NULL permille out loud (no spread to
    * normalize against). Order must be total (pass a tie column).
    *
    * Scale shape: ranks via [[DistributedOrder.withGroupRank]] (range
    * shuffle + per-(partition, group) window + broadcast offsets —
    * never an entire source in one task), group sizes via one
    * map-side-combined aggregate joined back group-sized. */
  def rankNormalize(df: DataFrame, rankCol: String,
      permilleCol: String, groupCols: Seq[String],
      order: Column*): DataFrame = {
    val ranked = DistributedOrder.withGroupRank(df, rankCol,
      groupCols, order: _*)
    val sizes = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("_gn"))
    ranked.join(sizes, groupCols)
      .withColumn(permilleCol,
        when(col("_gn") > 1L,
          expr(s"($rankCol - 1) * 1000 div (_gn - 1)")))
      .drop("_gn")
  }

  /** Exact quantile normalization across groups — the STRONGER
    * cross-source alignment than [[rankNormalize]] (ranks align
    * POSITIONS; quantile normalization aligns the VALUES too, mapping
    * every group's empirical distribution onto the pooled one —
    * Bolstad et al., Bioinformatics 19(2) 2003, the microarray
    * transform reused for multi-source score calibration): a score
    * with within-group rank r of n_g is replaced by the pooled order
    * statistic at 0-based position `(r−1)·(N−1) div (n_g−1)` (N =
    * total rows). After the transform every group has an identical
    * score distribution (a subsample of the pooled one), so a single
    * global threshold means the same thing in every source. A
    * single-group input maps to itself (position arithmetic collapses
    * to the identity — pinned in the spec). Singleton groups map to
    * the pooled MEDIAN position `(N−1) div 2`, out loud here.
    *
    * Output: the input columns plus `norm_score` (same type as the
    * score column). Ties: within-group order is totalized by
    * (score, id); the pooled order statistic at any position inside a
    * run of equal scores is that same score, so tie placement cannot
    * change values.
    *
    * Scale shape: both rank passes run through the
    * [[DistributedOrder]] engine (range shuffle + local window +
    * broadcast offsets — never a single-partition window); the target
    * position is DECIMAL(38) arithmetic (r·N products overflow long
    * at ~10¹⁰ rows); the final value lookup is ONE equi-join on the
    * pooled rank key; the group-size frame is group-sized and
    * AQE-broadcastable. One 1-row scalar count on the driver. */
  def quantileNormalize(df: DataFrame, groupCol: String,
      scoreCol: String, idCol: String): DataFrame = {
    val n = df.count()
    val ranked = DistributedOrder.withGroupRank(df, "_r",
      Seq(groupCol), col(scoreCol).asc, col(idCol).asc)
    val sizes = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_gn"))
    val pooled = DistributedOrder.withGlobalRank(
      df.select(col(scoreCol).as("_ps"), col(groupCol).as("_pg"),
        col(idCol).as("_pi")),
      "_prank", col("_ps").asc, col("_pg").asc, col("_pi").asc)
      .select(col("_prank"), col("_ps"))
    ranked.join(sizes, Seq(groupCol))
      .withColumn("_target",
        when(col("_gn") > 1L, expr(
          s"cast(cast(_r - 1 as decimal(38,0)) * ${n - 1}" +
            s" div (_gn - 1) as bigint) + 1"))
          .otherwise(lit((n - 1) / 2 + 1)))
      .join(pooled, col("_target") === col("_prank"))
      .withColumn("norm_score", col("_ps"))
      .drop("_r", "_gn", "_target", "_prank", "_ps")
  }

  /** Majority-vote label resolution with abstentions — the
    * multi-annotator consolidation step SFT/eval data prep runs before
    * training (k labelers, some abstaining, one gold column out;
    * [[raterAgreement]] GRADES the labelers, this RESOLVES them): per
    * item the plurality label across the label columns, with nulls as
    * abstentions (they shrink n_votes, never count as a vote), margin
    * = top count − runner-up count, and TIES surfaced out loud
    * (winner NULL, is_tie 1) rather than silently broken — a tie is a
    * routing signal (send to another annotator), not a coin flip.
    * Values vote by their string rendering (mixed-type labeler
    * columns unify — documented, the SINDY stance).
    *
    * Scale shape: one explode (k values per row), one
    * map-side-combined (item, label) count, and an item-keyed
    * row_number argmax over the count frame (groups here are
    * label-cardinality-sized per item, ≤ k rows — a key-partitioned
    * window over tiny partitions); one item-sized join. */
  def majorityVote(df: DataFrame, idCol: String,
      labelCols: Seq[String]): DataFrame = {
    require(labelCols.size >= 2,
      s"need >= 2 label columns, got $labelCols")
    import org.apache.spark.sql.expressions.Window
    val votes = df.select(col(idCol).as("_id"),
        explode(array(labelCols.map(c => col(c).cast("string")): _*))
          .as("_v"))
      .filter(col("_v").isNotNull)
      .localCheckpoint(false) // feeds counts AND totals — one scan
    val counts = votes.groupBy(col("_id"), col("_v"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("_id"))
          .orderBy(col("_c").desc, col("_v").asc)))
    val top = counts.filter(col("_r") <= 2)
      .groupBy(col("_id"))
      .agg(
        max(when(col("_r") === 1, col("_v"))).as("_w"),
        max(when(col("_r") === 1, col("_c"))).as("top_count"),
        coalesce(max(when(col("_r") === 2, col("_c"))), lit(0L))
          .as("_c2"))
    val totals = votes.groupBy(col("_id"))
      .agg(count(lit(1)).as("n_votes"))
    totals.join(top, Seq("_id"))
      .select(col("_id").as(idCol), col("n_votes"),
        when(col("top_count") > col("_c2"), col("_w")).as("winner"),
        col("top_count"),
        (col("top_count") - col("_c2")).as("margin"),
        (col("top_count") === col("_c2")).cast("long").as("is_tie"))
  }

  /** Confusion-matrix census — the cell-level view [[raterAgreement]]
    * folds away (κ is one number; debugging a classifier needs WHICH
    * classes bleed into which — 'es' predicted as 'fr' is a different
    * fix than 'es' predicted as 'und'): per (truth, pred) cell the
    * count, its share of the truth class's row in exact permille (the
    * per-class recall diagonal), and the diagonal flag. Null on
    * either side drops (no class to attribute the error to).
    *
    * Scale shape: ONE map-side-combined groupBy to class²-sized
    * cells, a cell-sized row-marginal fold, and a broadcast-sized
    * join back — nothing row-sized survives the first aggregate. */
  def confusionMatrix(df: DataFrame, truthCol: String,
      predCol: String): DataFrame = {
    val cells = df
      .filter(col(truthCol).isNotNull && col(predCol).isNotNull)
      .groupBy(col(truthCol).as("truth"), col(predCol).as("pred"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // feeds the cells AND the row marginal —
      // without the cut both sides re-scan the full input
    cells
      .join(cells.groupBy(col("truth")).agg(sum(col("n")).as("_rt")),
        Seq("truth"))
      .select(col("truth"), col("pred"), col("n"),
        expr("n * 1000 div _rt").as("row_permille"),
        (col("truth") === col("pred")).cast("long").as("is_diagonal"))
  }

  /** Pairwise association rules (market-basket support / confidence /
    * lift) — the co-occurrence question [[Graphs.bipartiteProject]]
    * counts but doesn't SCORE (a data-mixing pipeline asks "docs from
    * source A disproportionately co-occur with tag B in the same
    * crawl/session/user — is that signal or base rate?"; lift is the
    * base-rate correction): for every ordered item pair within a
    * basket, `support = n_ab/n_baskets`, `confidence = n_ab/n_a`,
    * `lift = n_ab·n_baskets/(n_a·n_b)` — all exact integer permille
    * (lift in DECIMAL(38): the cross-multiplication is ~n² and a raw
    * long wraps at web scale).
    *
    * Semantics: DISTINCT (basket, item) incidences; baskets holding
    * more than `maxBasketSize` distinct items are DROPPED ENTIRELY
    * before pairing (the bipartiteProject stopword stance — a basket
    * containing everything says nothing about anything in it, and it
    * is also the quadratic bomb) — n_baskets and the item marginals
    * count SURVIVING baskets only, so every ratio is internally
    * consistent; pairs below `minPairCount` prune before the marginal
    * joins.
    *
    * Scale shape: one map-side size aggregation + LEFT SEMI keep, the
    * pair self-join CO-LOCATES on the basket key (fan-out ≤
    * maxBasketSize² per basket, never a hub's square), pair counts
    * fold map-side, and the item-marginal joins run on the PRUNED
    * pair frame against item-sized counts (AQE broadcasts them when
    * they fit). n_baskets is a 1-row scalar agg. */
  def associationRules(df: DataFrame, basketCol: String,
      itemCol: String, maxBasketSize: Int = 100,
      minPairCount: Long = 2L): DataFrame = {
    require(maxBasketSize >= 2,
      s"maxBasketSize must be >= 2, got $maxBasketSize")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    val inc = df.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .distinct()
    val kept = inc.join(
      inc.groupBy(col("_b")).agg(count(lit(1)).as("_sz"))
        .filter(col("_sz") <= maxBasketSize).select(col("_b")),
      Seq("_b"), "left_semi")
      .localCheckpoint(false) // feeds the count, marginals and BOTH join sides
    val nBaskets = kept.select(col("_b")).distinct().count()
    val itemCounts = kept.groupBy(col("_i")).agg(count(lit(1)).as("_ci"))
    val pairs = kept.select(col("_b"), col("_i").as("a"))
      .join(kept.select(col("_b"), col("_i").as("b")), Seq("_b"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    pairs
      .join(itemCounts.select(col("_i").as("a"), col("_ci").as("n_a")),
        Seq("a"))
      .join(itemCounts.select(col("_i").as("b"), col("_ci").as("n_b")),
        Seq("b"))
      .select(col("a"), col("b"), col("n_a"), col("n_b"), col("n_ab"),
        expr(s"n_ab * 1000 div ${nBaskets}L").as("support_permille"),
        expr("n_ab * 1000 div n_a").as("confidence_permille"),
        expr(s"cast(cast(n_ab as decimal(38,0)) * ${nBaskets}L * 1000" +
          " div (cast(n_a as decimal(38,0)) * n_b) as bigint)")
          .as("lift_permille"))
  }
}
