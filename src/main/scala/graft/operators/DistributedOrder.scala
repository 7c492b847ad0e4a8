package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global order statistics WITHOUT a single-partition window — the
  * shared engine behind sorted-neighborhood blocking, the compaction bin
  * planner, and rank correlation (ONE definition of the
  * rank/offset arithmetic so the three cannot drift).
  *
  * The trap this exists to close: `Window.orderBy(...)` with no
  * partitioning collapses the whole dataset onto one task — the
  * textbook formulation that silently serializes at scale. Instead:
  * one RANGE shuffle on the order key, a per-partition window (sorted
  * locally, spillable), and per-partition totals folded into exclusive
  * offsets on the driver side of a broadcast (partition-count rows —
  * the only driver-sized piece). Ranks are a property of the total
  * order alone, so the result is independent of where the range
  * boundaries land. The order must be TOTAL (include a tie-breaking id
  * column) for cross-engine determinism.
  */
object DistributedOrder {

  /** Appends `rankCol` = exact 1-based global rank over `order`. */
  def withGlobalRank(df: DataFrame, rankCol: String,
      order: Column*): DataFrame =
    attach(df, order, rankCol,
      w => row_number().over(w).cast("long"), count(lit(1)))

  /** Appends `outCol` = exact exclusive global prefix sum of `valueCol`
    * over `order` (0 for the first row). */
  def withGlobalExclusiveSum(df: DataFrame, outCol: String,
      valueCol: Column, order: Column*): DataFrame =
    attach(df, order, outCol,
      w => coalesce(sum(valueCol).over(
        w.rowsBetween(Long.MinValue, -1)), lit(0L)),
      sum(valueCol))

  /** Appends `rankCol` = exact 1-based rank WITHIN each group over
    * `order` — the grouped sibling of [[withGlobalRank]], closing the
    * OTHER windowing trap: `Window.partitionBy(group)` hash-routes an
    * ENTIRE group into one task, which serializes the moment one group
    * is data-sized (rank-per-source over a 100 TB corpus with five
    * sources = five tasks). Instead: one RANGE shuffle on
    * (group ++ order) — a group spans CONTIGUOUS partitions — a
    * per-(partition, group) local window, and per-(partition, group)
    * totals folded into exclusive offsets within each group. Because
    * the range order leads with the group columns, each group
    * contributes one offset row per partition it touches, so the
    * broadcast offsets frame is ≤ #groups + #partitions − 1 rows —
    * driver-safe for any group count a broadcast can carry (documented
    * bound; beyond ~10⁷ groups use a plain group-hashed window, which
    * is then fine because groups that numerous are small). The order
    * must be TOTAL within a group (include a tie-break id).
    *
    * Measured regime boundary (README, Measured: the round-16
    * grouped-order entry, local[32]): with
    * 800k-row groups the plain window WINS (3.0 s vs 7.6 s — five
    * in-memory sorts beat a shuffle+join pipeline); at 8M-row groups
    * this engine wins (206 s vs 284 s) and the gap grows with group
    * size — the window path degrades linearly in group size per task
    * and ultimately spills/OOMs, while this engine's per-core work is
    * group-size-independent. Use the plain window for many small
    * groups; use THIS when single groups are data-sized. */
  def withGroupRank(df: DataFrame, rankCol: String,
      groupCols: Seq[String], order: Column*): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val group = groupCols.map(col)
    // MATERIALIZED once (localCheckpoint): the frame feeds BOTH the
    // offsets aggregate and the join side, and `_pid` is only
    // meaningful if both consumers see the SAME physical partitioning —
    // re-executing the range shuffle per consumer lets AQE/sampling
    // land different boundaries and the offsets silently misalign
    // (caught at 4M rows, max rank 812k ≠ 800k: README, Measured, the
    // round-16 grouped-order entry).
    val local = df.repartitionByRange(group ++ order: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lv", row_number().over(
        Window.partitionBy(col("_pid") +: group: _*)
          .orderBy(order: _*)).cast("long"))
      .localCheckpoint(false)
    val offsets = local.groupBy(col("_pid") +: group: _*)
      .agg(count(lit(1)).as("_n"))
      .withColumn("_off", coalesce(sum(col("_n")).over(
        Window.partitionBy(group: _*).orderBy(col("_pid"))
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select(col("_pid") +: group :+ col("_off"): _*)
    local.join(broadcast(offsets), "_pid" +: groupCols)
      .withColumn(rankCol, col("_lv") + col("_off"))
      .drop("_pid", "_lv", "_off")
  }

  private def attach(df: DataFrame, order: Seq[Column], outCol: String,
      localOver: org.apache.spark.sql.expressions.WindowSpec => Column,
      perPartitionTotal: Column): DataFrame = {
    // materialized once — same reasoning as withGroupRank: offsets and
    // the join side must observe ONE physical range partitioning, not
    // two independent executions of the shuffle whose sampled
    // boundaries may differ (r16 caught the grouped variant off by 12k
    // at 4M rows; this path was exposed to the same divergence)
    val local = df.repartitionByRange(order: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lv", localOver(
        Window.partitionBy(col("_pid")).orderBy(order: _*)))
      .localCheckpoint(false)
    val offsets = local.groupBy(col("_pid"))
      .agg(perPartitionTotal.as("_n"))
      .withColumn("_off", coalesce(sum(col("_n")).over(
        Window.orderBy(col("_pid")).rowsBetween(Long.MinValue, -1)),
        lit(0L)))
      .select(col("_pid"), col("_off"))
    local.join(broadcast(offsets), Seq("_pid"))
      .withColumn(outCol, col("_lv") + col("_off"))
      .drop("_pid", "_lv", "_off") // leak-free: output = input + outCol,
      // so engine passes COMPOSE (pr_curve nests two exclusive sums)
  }
}
