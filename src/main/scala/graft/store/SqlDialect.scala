package graft.store

import java.sql.{Connection, PreparedStatement, Timestamp}

/** SQL-engine dialect behind [[JdbcEventStore]].
  *
  * The reference speaks exactly one dialect — Postgres (the DDL under
  * `pkg/db/sql/`, queries in `pkg/db/store.go`) — and [[PostgresDialect]]
  * pins that SQL verbatim: its
  * strings ARE the golden contract a deployment against real Postgres
  * executes, and `JdbcEventStoreSpec` asserts their text against the
  * reference shapes (ON CONFLICT, JSONB, reltuples).
  *
  * The dialect is a [[JdbcEventStore]] constructor argument so that
  * `JdbcEventStoreSpec` can run the store's plumbing against embedded
  * Derby (test-only `graft.store.DerbyDialect`), which ships with Spark.
  */
trait SqlDialect extends Serializable {
  def name: String

  /** Statements `init()` executes in order, one transaction (store.go:331-343). */
  def initStatements: Seq[String]

  /** SQLStates init() treats as "already there" — the IF-NOT-EXISTS analog. */
  def ignorableInitStates: Set[String]

  /** Dedup-insert for one event row; `executeUpdate` must return 0 when the
    * guid already exists and 1 when stored (store.go:87-93 semantics). */
  def insertEventSql: String

  /** Bind the 13 wire values to [[insertEventSql]]'s parameters. */
  def bindInsertEvent(
      ps: PreparedStatement,
      guid: String, createdAt: Timestamp,
      texts: Seq[String], // event_type, actor, actor_type, actor_name,
                          // actor_username, actee, actee_type, actee_name
      orgGuid: String, spaceGuid: String, metadata: String): Unit

  /** Upsert one shipper cursor row (store.go:271-279). `updatedAtRaw` is the
    * event's raw string timestamp — Postgres casts it in SQL, other engines
    * may parse driver-side. */
  def upsertCursor(c: Connection, name: String, updatedAtRaw: String, shippedId: String): Unit

  /** Top-1 created_at (store.go:292-307). */
  def latestEventTimeSql: String

  /** O(1)-intent event count (store.go:310-329). */
  def eventCountSql: String
}

/** The reference's own SQL, verbatim — see `pkg/db/sql/create_cf_audit_events
  * .sql`, `create_shipper_cursors.sql`, `pkg/db/store.go:55-71,87-93,271-279,
  * 292-329`. */
object PostgresDialect extends SqlDialect {
  val name = "postgres"

  val initStatements: Seq[String] = Seq(
    """CREATE TABLE IF NOT EXISTS cf_audit_events (
      |  id SERIAL,
      |  guid uuid UNIQUE NOT NULL PRIMARY KEY,
      |  created_at timestamptz NOT NULL CHECK (created_at > 'epoch'),
      |  event_type text NOT NULL,
      |  actor text NOT NULL, actor_type text NOT NULL,
      |  actor_name text NOT NULL, actor_username text NOT NULL,
      |  actee text NOT NULL, actee_type text NOT NULL, actee_name text NOT NULL,
      |  organization_guid uuid, space_guid uuid)""".stripMargin,
    // the idempotent live-table migration, store.go:62-64
    "ALTER TABLE cf_audit_events ADD COLUMN IF NOT EXISTS metadata JSONB",
    """CREATE TABLE IF NOT EXISTS shipper_cursors (
      |  name text PRIMARY KEY,
      |  updated_at timestamptz NOT NULL CHECK (updated_at > 'epoch'),
      |  shipped_id text NOT NULL)""".stripMargin) ++
    Seq("id", "guid", "created_at", "organization_guid", "space_guid", "event_type").map(col =>
      s"CREATE INDEX IF NOT EXISTS idx_cf_audit_events_$col ON cf_audit_events ($col)")

  val ignorableInitStates: Set[String] = Set.empty // IF NOT EXISTS everywhere

  val insertEventSql: String =
    """INSERT INTO cf_audit_events (
      |  guid, created_at, event_type, actor, actor_type, actor_name,
      |  actor_username, actee, actee_type, actee_name,
      |  organization_guid, space_guid, metadata)
      |VALUES (?::uuid, ?, ?, ?, ?, ?, ?, ?, ?, ?, NULLIF(?,'')::uuid, NULLIF(?,'')::uuid, ?::jsonb)
      |ON CONFLICT (guid) DO NOTHING""".stripMargin

  def bindInsertEvent(ps: PreparedStatement, guid: String, createdAt: Timestamp,
                      texts: Seq[String], orgGuid: String, spaceGuid: String,
                      metadata: String): Unit = {
    ps.setString(1, guid)
    ps.setTimestamp(2, createdAt)
    texts.zipWithIndex.foreach { case (t, i) => ps.setString(3 + i, t) }
    ps.setString(11, Option(orgGuid).getOrElse(""))
    ps.setString(12, Option(spaceGuid).getOrElse(""))
    ps.setString(13, metadata)
  }

  val upsertCursorSql: String =
    """INSERT INTO shipper_cursors (name, updated_at, shipped_id)
      |VALUES (?, ?::timestamptz, ?)
      |ON CONFLICT (name) DO UPDATE
      |SET updated_at = excluded.updated_at, shipped_id = excluded.shipped_id""".stripMargin

  def upsertCursor(c: Connection, name: String, updatedAtRaw: String, shippedId: String): Unit = {
    val ps = c.prepareStatement(upsertCursorSql)
    ps.setString(1, name)
    ps.setString(2, updatedAtRaw) // raw string; DB casts (store.go:271-281)
    ps.setString(3, shippedId)
    ps.executeUpdate()
    ()
  }

  val latestEventTimeSql: String =
    "SELECT created_at FROM cf_audit_events ORDER BY created_at DESC LIMIT 1"

  val eventCountSql: String =
    "SELECT reltuples::numeric FROM pg_class WHERE relname = 'cf_audit_events'"
}
