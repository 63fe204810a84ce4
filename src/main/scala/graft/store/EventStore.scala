package graft.store

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, functions => F}

import graft.model.Schemas
import graft.operators.AuditQueries.RawEventFilter

/** Spark analog of the reference's `EventDB` interface (`pkg/db/store.go:
  * 28-38`): the full storage + query surface of the engine.
  *
  * Input batches for `storeCFAuditEvents` carry the wire-shaped columns
  * (guid, created_at timestamp, created_at_raw, event_type, actor*,
  * actee*, organization_guid/space_guid nullable, metadata) — the store
  * assigns the ingest sequence `id` (R20) and deduplicates on guid (R18).
  *
  * Two members have DataFrame defaults and exist for the daemon's hot
  * path: [[storeCFAuditEventPage]] (the collector's page write) and
  * [[getUnshippedCFAuditEventRowsForShipper]] (the shipper's read). A
  * store that keeps rows on the driver overrides them to build no query
  * plan; every other store inherits the DataFrame members' behaviour.
  */
trait EventStore {
  /** Idempotent schema init/migration (store.go:55-71). `ParquetEventStore`
    * creates a fresh warehouse with no Spark job. */
  def init(): Unit

  /** Dedup-append a batch; returns rows actually stored (S7/R18).
    * Rows failing the CHECK (`created_at > epoch`, so NULL too) are
    * dropped, one row per guid is kept, and guids already stored are
    * skipped. `ParquetEventStore` keeps a guid's first row, numbers new
    * rows `max + 1 …` in (created_at, guid) order, and stores a batch
    * whose rows sit on the driver with no Spark job: it writes the parquet
    * files on the driver. One job runs when its bloom sidecars say a guid
    * it did not append itself recently may already be stored. */
  def storeCFAuditEvents(batch: DataFrame): Long

  /** [[storeCFAuditEvents]] of a collector page already converted on the
    * driver. `ParquetEventStore` takes the page's checked rows as they are:
    * no query plan, and no Spark job unless the dedup probe needs one. */
  def storeCFAuditEventPage(page: EventPage): Long = storeCFAuditEvents(page.df)

  /** Ordered page over stored events (store.go:108-145). */
  def getCFAuditEvents(filter: RawEventFilter): DataFrame

  /** Max created_at, epoch sentinel when empty (store.go:292-307, R14).
    * `ParquetEventStore` reads it from a sidecar kept at store time, with
    * no Spark job; it scans the latest partition only when the sidecar is
    * missing. */
  def getLatestCFEventTime(): Timestamp

  /** Approximate event count — statistics read, not a scan (R16/S6). */
  def getCFEventCount(): Long

  /** The 2-CTE unshipped query (store.go:191-225). `ParquetEventStore`
    * answers a cursor above its tail's watermark (any cursor, while the
    * watermark is the epoch) from its own recent appends, with no Spark
    * job. */
  def getUnshippedCFAuditEventsForShipper(shipperName: String): DataFrame

  /** [[getUnshippedCFAuditEventsForShipper]]'s rows, collected, with the
    * `Schemas.cfAuditEvents` columns in that order. `ParquetEventStore`
    * returns the rows of its tail as they are when the tail answers the
    * cursor: no query plan. */
  def getUnshippedCFAuditEventRowsForShipper(shipperName: String): Seq[Row] =
    getUnshippedCFAuditEventsForShipper(shipperName)
      .select(Schemas.cfAuditEvents.fieldNames.toSeq.map(F.col): _*).collect().toSeq

  /** Cursor upsert; `updatedAt` is the event's RAW string timestamp — the
    * store performs the cast, like Postgres does (store.go:262-287).
    * `ParquetEventStore` rewrites its one-row-per-shipper table on the
    * driver, with no Spark job, and re-reads the table through Spark only
    * when someone else rewrote it. */
  def updateShipperCursor(shipperName: String, updatedAt: String, shippedId: String): Unit

  def events: DataFrame
  def cursors: DataFrame

  /** Typed surface over the stored events (SURVEY §1.3): case-class
    * Dataset for API consumers who want compile-time field checks. */
  def eventsTyped: org.apache.spark.sql.Dataset[graft.model.CfAuditEvent] = {
    import org.apache.spark.sql.Encoders
    events.as(Encoders.product[graft.model.CfAuditEvent])
  }

  def cursorsTyped: org.apache.spark.sql.Dataset[graft.model.ShipperCursor] = {
    import org.apache.spark.sql.Encoders
    cursors.as(Encoders.product[graft.model.ShipperCursor])
  }
}
