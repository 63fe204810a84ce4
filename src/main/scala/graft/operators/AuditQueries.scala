package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.expressions.Window

import graft.model.Schemas

/** The reference's relational query surface (SURVEY.md §2B, R1–R23) as
  * reusable DataFrame pipelines. The reference hand-writes these as five
  * Postgres statements (`pkg/db/store.go`); here each shape is a declarative
  * Spark plan so Catalyst gets predicate pushdown, column pruning and
  * TakeOrderedAndProject for free, and each composes over any frame that
  * carries (`guid: string`, `created_at: timestamp`) columns.
  *
  * Scale notes (100 TB design point):
  *  - every pipeline is fully distributed — no `collect()` in the data path;
  *  - cursor frames are 1 row per shipper, broadcast, or resolved on the
  *    driver and passed as literals (`unshippedAfter`);
  *  - sort+limit shapes compile to `TakeOrderedAndProject` (no full sort);
  *  - the unshipped scan prunes on `created_at >= cursor` which, over a
  *    date-partitioned store, becomes partition pruning (see ParquetEventStore).
  */
object AuditQueries {

  /** Filter carried by `GetCFAuditEvents` (store.go:102-116). The reference
    * declares `Kind` but never uses it (R23, dead API surface); we honor it
    * as an `event_type` equality filter — the reference's own `event_type`
    * index (create_cf_audit_events.sql:24) shows the intent. */
  final case class RawEventFilter(
      reverse: Boolean = false,
      limit: Option[Int] = None,
      kind: Option[String] = None)

  /** `GetCFAuditEvents` (store.go:108-145): full-table page ordered by the
    * ingest sequence (R1, R11, R13, R23). */
  def eventsPage(events: DataFrame, filter: RawEventFilter): DataFrame = {
    val base = filter.kind.fold(events)(k => events.filter(F.col("event_type") === k))
    val ordered = base.orderBy(if (filter.reverse) F.col("id").desc else F.col("id").asc)
    filter.limit.fold(ordered)(ordered.limit)
  }

  /** `GetLatestCFEventTime` (store.go:292-307, R14): max(created_at), with
    * the reference's empty-table sentinel of epoch. Catalyst rewrites the
    * reference's `order by created_at desc limit 1` to the same max anyway. */
  def latestEventTime(events: DataFrame): DataFrame =
    events.agg(
      F.coalesce(F.max(F.col("created_at")), F.lit(Schemas.epoch)).as("latest_event_time"))

  /** Runbook operational query `SELECT COUNT(*), MAX(created_at)`
    * (RUNBOOK.md:59, R17). */
  def countAndLatest(events: DataFrame): DataFrame =
    events.agg(
      F.count(F.lit(1)).as("n_events"),
      F.max(F.col("created_at")).as("latest_event_time"))

  /** `GetCFEventCount` (store.go:310-329, S6/R16): the reference reads
    * `pg_class.reltuples` — an O(1) *statistics* count, documented
    * approximate. Spark analog: catalog/plan statistics when available,
    * exact count as fallback. Never a full-data scan on a stats-capable
    * source: parquet row counts come from footer metadata only. */
  def eventCount(events: DataFrame): Long = {
    val stats = events.queryExecution.optimizedPlan.stats.rowCount
    stats.map(_.toLong).getOrElse(events.count())
  }

  /** The cursor-resolution CTE `last_shipped_event` (store.go:192-199):
    * cursor row for `name` UNION a `(epoch, '')` default row, deduplicated,
    * newest first, top-1 (R7, R9, R10, R12, R13). Returns a 1-row frame
    * `(updated_at, shipped_id)`. */
  def lastShipped(cursors: DataFrame, shipperName: String): DataFrame = {
    val spark = cursors.sparkSession
    import spark.implicits._
    val default = Seq((Schemas.epoch, "")).toDF("updated_at", "shipped_id")
    cursors
      .filter(F.col("name") === shipperName)
      .select(F.col("updated_at"), F.col("shipped_id"))
      .union(default)
      .distinct()
      .orderBy(F.col("updated_at").desc)
      .limit(1)
  }

  /** [[lastShipped]] over cursor rows `(name, updated_at, shipped_id)`
    * already on the driver: the newest row for `shipperName`, or
    * `(epoch, '')`. A NULL `updated_at` sorts last, as in the CTE; among
    * rows tied on `updated_at`, where the CTE's pick is unspecified, the
    * first cursor row wins. */
  def lastShippedOf(cursors: Seq[Row], shipperName: String): (Timestamp, String) =
    (cursors.collect {
      case r if !r.isNullAt(0) && r.getString(0) == shipperName && !r.isNullAt(1) =>
        (r.getTimestamp(1), r.getString(2))
    } :+ ((Schemas.epoch, ""))).reduceLeft((a, b) => if (b._1.after(a._1)) b else a)

  /** `GetUnshippedCFAuditEventsForShipper` (store.go:191-225) — the richest
    * reference query: resume-from-cursor range filter (R5), earliest-first
    * bounded batch (R15, cap 8192 at store.go:206), and the last-shipped-guid
    * anti-filter (R6). The boundary-timestamp re-emission (at-least-once
    * delivery) is preserved by construction: events sharing the cursor
    * timestamp other than the exact last-shipped guid ARE re-returned.
    *
    * The 1-row cursor frame is broadcast and cross-joined — the Spark form
    * of the reference's scalar subqueries (R8); no shuffle of `events`.
    * A caller that resolved the cursor already passes it to
    * [[unshippedAfter]], the same query with the cursor as columns.
    */
  def unshipped(
      events: DataFrame,
      cursors: DataFrame,
      shipperName: String,
      batchCap: Int = 8192,
      payloadCols: Seq[String] = Nil): DataFrame = {
    val cur = lastShipped(cursors, shipperName)
      .withColumnRenamed("updated_at", "__cursor_ts")
      .withColumnRenamed("shipped_id", "__cursor_guid")
    val outCols =
      if (payloadCols.nonEmpty) payloadCols
      else events.columns.toSeq
    unshippedAfter(events.crossJoin(F.broadcast(cur)),
      F.col("__cursor_ts"), F.col("__cursor_guid"), outCols, batchCap)
  }

  /** The unshipped query after cursor resolution: events at or after
    * `cursorTs`, earliest first, capped at `batchCap`, then without the
    * `cursorGuid` event. Ties on `created_at` are ordered by guid (the
    * reference inherits Postgres' arbitrary tie order; pinning guid order
    * keeps results stable across runs and engines). */
  def unshippedAfter(
      events: DataFrame,
      cursorTs: Column,
      cursorGuid: Column,
      outCols: Seq[String],
      batchCap: Int = 8192): DataFrame =
    events
      .filter(F.col("created_at") >= cursorTs)
      .orderBy(F.col("created_at").asc, F.col("guid").asc)
      .limit(batchCap)
      .filter(F.col("guid").cast("string") =!= cursorGuid)
      .select(outCols.map(F.col): _*)

  /** The CHECK constraint on `created_at` (R21,
    * create_cf_audit_events.sql:26-30): `created_at > epoch`, so a NULL
    * `created_at` fails it too. */
  def passesCheck: Column = F.col("created_at") > F.lit(Schemas.epoch)

  /** Split a batch into (valid, quarantined) on [[passesCheck]]. */
  def splitOnCheck(events: DataFrame): (DataFrame, DataFrame) =
    (events.filter(passesCheck), events.filter(!passesCheck))

  /** Ingest-sequence assignment (R20): the reference's `id SERIAL` is an
    * ingest order, "not really an id" (create_cf_audit_events.sql:2). We
    * assign `base + row_number() over (created_at, guid)` per stored batch —
    * deterministic and total, unlike SERIAL (which has gaps/races anyway).
    *
    * Scale note: a global `row_number` window is a single-partition sort of
    * the *batch*, not the table; batches are bounded by the source's page
    * cap. For bulk backfill use `assignIngestSeqDistributed`. */
  def assignIngestSeq(batch: DataFrame, base: Long): DataFrame = {
    val w = Window.orderBy(F.col("created_at"), F.col("guid"))
    batch.withColumn("id", F.row_number().over(w).cast("long") + F.lit(base))
  }

  /** Distributed ingest-sequence assignment for large backfills: a
    * two-phase zipWithIndex-style plan — per-partition `row_number` plus an
    * exclusive running offset of partition counts — avoiding any global
    * single-partition sort. Ordering is (created_at, guid) via a range
    * repartition, so the sequence is still a total order. */
  def assignIngestSeqDistributed(
      batch: DataFrame,
      base: Long,
      orderCols: Seq[String] = Seq("created_at", "guid")): DataFrame = {
    val oc = orderCols.map(F.col)
    val (parted, offsets) = TwoPhase.partitionOffsets(batch, oc,
      Seq(F.count(F.lit(1)) -> "__off"))
    val within = Window.partitionBy(F.col("__pid")).orderBy(oc: _*)
    parted
      .join(F.broadcast(offsets), "__pid")
      .withColumn("id", F.row_number().over(within).cast("long") + F.col("__off") + F.lit(base))
      .drop("__pid", "__off")
  }

  /** Dedup-by-key (R18/S7): the Spark form of `INSERT … ON CONFLICT (guid)
    * DO NOTHING` — in-batch `dropDuplicates` plus an anti-join against the
    * already-stored key set. `existingScope` lets callers bound the
    * anti-join: with a date-partitioned store and the collector's re-fetch
    * overlap of 5 s (collector.go:36), only partitions overlapping the
    * batch's time range can contain duplicates, so the right side stays
    * O(overlap), not O(history). */
  def dedupAgainst(batch: DataFrame, existing: DataFrame): DataFrame =
    batch
      .dropDuplicates("guid")
      .join(existing.select("guid"), Seq("guid"), "left_anti")
}
