package graft.store

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame

import graft.operators.AuditQueries.RawEventFilter

/** Spark analog of the reference's `EventDB` interface (`pkg/db/store.go:
  * 28-38`): the full storage + query surface of the engine.
  *
  * Input batches for `storeCFAuditEvents` carry the wire-shaped columns
  * (guid, created_at timestamp, created_at_raw, event_type, actor*,
  * actee*, organization_guid/space_guid nullable, metadata) — the store
  * assigns the ingest sequence `id` (R20) and deduplicates on guid (R18).
  */
trait EventStore {
  /** Idempotent schema init/migration (store.go:55-71). */
  def init(): Unit

  /** Dedup-append a batch; returns rows actually stored (S7/R18).
    * Rows failing the CHECK (`created_at > epoch`, so NULL too) are
    * dropped, one row per guid is kept, and guids already stored are
    * skipped. `ParquetEventStore` keeps a guid's first row, numbers new
    * rows `max + 1 …` in (created_at, guid) order, and stores a batch
    * whose rows sit on the driver (a collector page) with one Spark job,
    * two when its bloom sidecars say a guid may already be stored. */
  def storeCFAuditEvents(batch: DataFrame): Long

  /** Ordered page over stored events (store.go:108-145). */
  def getCFAuditEvents(filter: RawEventFilter): DataFrame

  /** Max created_at, epoch sentinel when empty (store.go:292-307, R14). */
  def getLatestCFEventTime(): Timestamp

  /** Approximate event count — statistics read, not a scan (R16/S6). */
  def getCFEventCount(): Long

  /** The 2-CTE unshipped query (store.go:191-225). */
  def getUnshippedCFAuditEventsForShipper(shipperName: String): DataFrame

  /** Cursor upsert; `updatedAt` is the event's RAW string timestamp — the
    * store performs the cast, like Postgres does (store.go:262-287). */
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
