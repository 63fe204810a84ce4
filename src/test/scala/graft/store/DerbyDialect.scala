package graft.store

import java.sql.{Connection, PreparedStatement, Timestamp}

/** Embedded-Derby dialect: the standard-SQL re-expression of the
  * [[PostgresDialect]] shapes. With it `JdbcEventStoreSpec` proves the
  * store's *plumbing* — init idempotence, batched dedup-upsert, cursor
  * upsert, ''⇄NULL uuid handling at the JDBC edge, read-back through
  * Spark's JDBC source — end-to-end against a real database inside the
  * test JVM (Derby ships with Spark; the tests have no Postgres).
  * Where Derby lacks a Postgres feature the dialect substitutes the
  * standard-SQL equivalent with identical row-level semantics:
  *
  *   - `INSERT … ON CONFLICT (guid) DO NOTHING` → `INSERT … SELECT … WHERE
  *     NOT EXISTS` (same per-row 0/1 update count; atomic per statement
  *     within the partition's transaction);
  *   - `ON CONFLICT (name) DO UPDATE` → `UPDATE`-then-`INSERT` in one
  *     transaction (single-writer cursor rows, per the reference's one
  *     shipper loop);
  *   - `uuid` / `timestamptz` / `JSONB` → `VARCHAR(36)` / `TIMESTAMP` /
  *     `CLOB` (validity of uuids is enforced upstream by the engine's
  *     splitOnCheck/schema layer, not the storage type);
  *   - `reltuples` statistics → exact COUNT (Derby keeps no planner row
  *     estimate readable from SQL);
  *   - `IF NOT EXISTS` → ignorable object-already-exists SQLStates.
  */
object DerbyDialect extends SqlDialect {
  val name = "derby"

  val initStatements: Seq[String] = Seq(
    """CREATE TABLE cf_audit_events (
      |  id BIGINT GENERATED ALWAYS AS IDENTITY,
      |  guid VARCHAR(36) NOT NULL PRIMARY KEY,
      |  created_at TIMESTAMP NOT NULL CHECK (created_at > TIMESTAMP('1970-01-01 00:00:00')),
      |  event_type VARCHAR(256) NOT NULL,
      |  actor VARCHAR(256) NOT NULL, actor_type VARCHAR(256) NOT NULL,
      |  actor_name VARCHAR(256) NOT NULL, actor_username VARCHAR(256) NOT NULL,
      |  actee VARCHAR(256) NOT NULL, actee_type VARCHAR(256) NOT NULL,
      |  actee_name VARCHAR(256) NOT NULL,
      |  organization_guid VARCHAR(36), space_guid VARCHAR(36))""".stripMargin,
    "ALTER TABLE cf_audit_events ADD COLUMN metadata CLOB",
    """CREATE TABLE shipper_cursors (
      |  name VARCHAR(256) NOT NULL PRIMARY KEY,
      |  updated_at TIMESTAMP NOT NULL CHECK (updated_at > TIMESTAMP('1970-01-01 00:00:00')),
      |  shipped_id VARCHAR(256) NOT NULL)""".stripMargin) ++
    Seq("id", "created_at", "organization_guid", "space_guid", "event_type").map(col =>
      s"CREATE INDEX idx_cf_audit_events_$col ON cf_audit_events ($col)")
    // no extra guid index: Derby already backs the PRIMARY KEY with one

  /** X0Y32 = object (table/index/column/constraint) already exists. */
  val ignorableInitStates: Set[String] = Set("X0Y32", "X0Y68")

  val insertEventSql: String =
    """INSERT INTO cf_audit_events (
      |  guid, created_at, event_type, actor, actor_type, actor_name,
      |  actor_username, actee, actee_type, actee_name,
      |  organization_guid, space_guid, metadata)
      |SELECT CAST(? AS VARCHAR(36)), CAST(? AS TIMESTAMP),
      |  CAST(? AS VARCHAR(256)), CAST(? AS VARCHAR(256)), CAST(? AS VARCHAR(256)),
      |  CAST(? AS VARCHAR(256)), CAST(? AS VARCHAR(256)), CAST(? AS VARCHAR(256)),
      |  CAST(? AS VARCHAR(256)), CAST(? AS VARCHAR(256)),
      |  NULLIF(CAST(? AS VARCHAR(36)), ''), NULLIF(CAST(? AS VARCHAR(36)), ''),
      |  CAST(? AS CLOB)
      |FROM SYSIBM.SYSDUMMY1
      |WHERE NOT EXISTS (SELECT 1 FROM cf_audit_events WHERE guid = CAST(? AS VARCHAR(36)))""".stripMargin

  def bindInsertEvent(ps: PreparedStatement, guid: String, createdAt: Timestamp,
                      texts: Seq[String], orgGuid: String, spaceGuid: String,
                      metadata: String): Unit = {
    ps.setString(1, guid)
    ps.setTimestamp(2, createdAt)
    texts.zipWithIndex.foreach { case (t, i) => ps.setString(3 + i, t) }
    ps.setString(11, Option(orgGuid).getOrElse(""))
    ps.setString(12, Option(spaceGuid).getOrElse(""))
    ps.setString(13, metadata)
    ps.setString(14, guid) // the NOT EXISTS guard
  }

  /** Derby has no single-statement upsert over a VALUES source, so the
    * cursor upsert is UPDATE-then-INSERT inside one transaction — row-level
    * equivalent for the single-writer cursor table. The raw timestamp
    * string is parsed driver-side (Postgres does this cast in SQL). */
  def upsertCursor(c: Connection, name: String, updatedAtRaw: String, shippedId: String): Unit = {
    val ts = parseRawTimestamp(updatedAtRaw)
    val prevAuto = c.getAutoCommit
    c.setAutoCommit(false)
    try {
      val up = c.prepareStatement(
        "UPDATE shipper_cursors SET updated_at = ?, shipped_id = ? WHERE name = ?")
      up.setTimestamp(1, ts); up.setString(2, shippedId); up.setString(3, name)
      if (up.executeUpdate() == 0) {
        val ins = c.prepareStatement(
          "INSERT INTO shipper_cursors (name, updated_at, shipped_id) VALUES (?, ?, ?)")
        ins.setString(1, name); ins.setTimestamp(2, ts); ins.setString(3, shippedId)
        ins.executeUpdate()
      }
      c.commit()
    } finally c.setAutoCommit(prevAuto)
  }

  /** RFC3339 ("2016-06-08T16:41:23Z" — the wire format, fetcher.go) or the
    * SQL form Postgres would also accept. */
  private[store] def parseRawTimestamp(raw: String): Timestamp =
    try Timestamp.from(java.time.OffsetDateTime.parse(raw).toInstant)
    catch {
      case _: java.time.format.DateTimeParseException =>
        try Timestamp.from(java.time.Instant.parse(raw))
        catch {
          case _: java.time.format.DateTimeParseException =>
            Timestamp.valueOf(raw.replace('T', ' ').stripSuffix("Z"))
        }
    }

  val latestEventTimeSql: String =
    "SELECT created_at FROM cf_audit_events ORDER BY created_at DESC FETCH FIRST 1 ROWS ONLY"

  /** Derby exposes no reltuples-style SQL-readable estimate; exact COUNT. */
  val eventCountSql: String =
    "SELECT COUNT(*) FROM cf_audit_events"
}
