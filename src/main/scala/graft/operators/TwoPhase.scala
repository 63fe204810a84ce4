package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

import graft.Pin._

/** The TWO-PHASE DISTRIBUTED PREFIX scaffold behind every corpus-wide
  * running total in this library (sequence assignment, token packing,
  * budget selection, two-sample CDFs): range-repartition on the order so
  * partition id order IS the global order, tag rows with their partition
  * id, and compute each partition's EXCLUSIVE offset for every requested
  * total — a ≤ shuffle-partitions-row frame, broadcast to the join.
  * Callers lay their own within-partition window on top (inclusive or
  * exclusive, sums or row_number), so each call site keeps its exact
  * plan shape while the scaffold lives in one place.
  *
  * The offsets window is the only partition-less window and runs over
  * the per-partition totals frame — tiny by construction (the contract
  * PlanSpec pins for each caller). Totals are LONG-summed (every caller
  * accumulates exact integers — the determinism anchor). */
private[operators] object TwoPhase {

  /** Inclusive ordered PREFIX SUMS without a single-partition window:
    * adds, for each `(valueExpr, name)`, a column `name` holding
    * Σ value over all rows at-or-before the current row in `order`
    * (ascending, the rowsBetween(unboundedPreceding, currentRow) frame).
    * Range-partition on the order, per-partition window, plus the
    * broadcast exclusive partition offsets — the same totals a
    * WindowExec-over-one-partition computes, with the work spread over
    * the shuffle width. `order` must be duplicate-free for a
    * deterministic result (every caller here folds over DISTINCT event
    * times / ranks). Long sums are exactly the single-partition values;
    * double sums may differ in the last ulp (association), which every
    * caller's round-snap absorbs — the same discipline the distributed
    * graph trajectories already rely on. */
  def prefixSums(df: DataFrame, order: Column,
                 sums: Seq[(Column, String)]): DataFrame = {
    require(sums.nonEmpty, "need at least one prefix sum")
    // PINNED (r18): the input feeds both partitionOffsets reads (totals +
    // join), and the Survival risk-set folds CHAIN prefix passes — left
    // lazy, each pass re-derived its whole upstream per consumer and the
    // duplication compounded (q_survival's first two-phase draft: a
    // 423-operator plan with 208 Exchanges; pinned: linear). The pinned
    // frame is the pre-aggregated order axis — the decide-frame, slim by
    // construction.
    val (parted, offsets) = partitionOffsets(df.pin(), Seq(order),
      sums.map { case (e, n) => (F.sum(e).as(s"__t_$n"), s"__off_$n") })
    val w = Window.partitionBy(F.col("__pid")).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withSums = sums.foldLeft(parted.join(F.broadcast(offsets), "__pid")) {
      case (d, (e, n)) =>
        d.withColumn(n, F.col(s"__off_$n") + F.sum(e).over(w))
    }
    withSums.drop("__pid").drop(sums.map(s => s"__off_${s._2}"): _*)
  }

  /** Returns (parted, offsets): `parted` is `df` range-partitioned by
    * `order` with a `__pid` column; `offsets` has one row per partition
    * with `__pid` plus one exclusive-prefix column per `aggs` entry
    * (per-partition aggregate expression → offset column name). Join
    * `offsets` back with `F.broadcast` on `__pid`. */
  def partitionOffsets(df: DataFrame, order: Seq[Column],
                       aggs: Seq[(Column, String)]): (DataFrame, DataFrame) = {
    require(aggs.nonEmpty, "need at least one total")
    val parted = df.repartitionByRange(order: _*)
      .withColumn("__pid", F.spark_partition_id())
    val totCols = aggs.zipWithIndex.map { case ((e, _), i) => e.as(s"__tot$i") }
    val totals = parted.groupBy(F.col("__pid")).agg(totCols.head, totCols.tail: _*)
    val offWin = Window.orderBy(F.col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = aggs.zipWithIndex.foldLeft(totals) { case (t, ((_, name), i)) =>
        t.withColumn(name, F.coalesce(F.sum(F.col(s"__tot$i")).over(offWin), F.lit(0L)))
      }
      .select(F.col("__pid") +: aggs.map(a => F.col(a._2)): _*)
    (parted, offsets)
  }
}
