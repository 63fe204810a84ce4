package graft.model

import java.sql.Timestamp
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, functions => F}

/** Core record type of the engine: one Cloud Foundry audit event.
  *
  * Mirrors the reference's at-rest schema
  * (`pkg/db/sql/create_cf_audit_events.sql:1-32`) and wire struct
  * (`vendor/.../go-cfclient/events.go:26-41`): stringly-typed on the wire,
  * strongly typed at rest. We parse once at the ingest boundary and keep
  * `created_at_raw` (the RFC3339 wire string) alongside the parsed
  * timestamp so sink payloads stay byte-faithful
  * (`shippers/cf_audit_events_to_splunk_shipper.go:188-192`).
  */
final case class CfAuditEvent(
    id: Long,                        // ingest sequence (SERIAL analog, create_cf_audit_events.sql:2)
    guid: String,                    // PK / dedup key (create_cf_audit_events.sql:3,16)
    created_at: Timestamp,           // CHECK > epoch (create_cf_audit_events.sql:26-30)
    created_at_raw: String,          // RFC3339 wire string
    event_type: String,
    actor: String,
    actor_type: String,
    actor_name: String,
    actor_username: String,
    actee: String,
    actee_type: String,
    actee_name: String,
    organization_guid: Option[String], // '' ⇄ NULL convention at edges (store.go:91,137-138)
    space_guid: Option[String],
    metadata: Option[String]         // canonical JSON string (JSONB analog)
)

/** Per-shipper resume cursor — the engine's streaming-state table
  * (`pkg/db/sql/create_shipper_cursors.sql:1-18`). */
final case class ShipperCursor(
    name: String,
    updated_at: Timestamp,           // CHECK > epoch
    shipped_id: String               // guid of last shipped event
)

object Schemas {
  val epoch: Timestamp = new Timestamp(0L)

  val cfAuditEvents: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("guid", StringType, nullable = false),
    StructField("created_at", TimestampType, nullable = false),
    StructField("created_at_raw", StringType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("actor", StringType, nullable = false),
    StructField("actor_type", StringType, nullable = false),
    StructField("actor_name", StringType, nullable = false),
    StructField("actor_username", StringType, nullable = false),
    StructField("actee", StringType, nullable = false),
    StructField("actee_type", StringType, nullable = false),
    StructField("actee_name", StringType, nullable = false),
    StructField("organization_guid", StringType, nullable = true),
    StructField("space_guid", StringType, nullable = true),
    StructField("metadata", StringType, nullable = true)
  ))

  val shipperCursors: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false),
    StructField("shipped_id", StringType, nullable = false)
  ))

  /** `''` → NULL on write (store.go:91 `NULLIF($11,'')::uuid`). */
  def emptyToNull(c: Column): Column = F.nullif(c, F.lit(""))

  /** NULL → `''` on read (store.go:137-138 `coalesce(x::text,'')`). */
  def nullToEmpty(c: Column): Column = F.coalesce(c.cast(StringType), F.lit(""))
}
