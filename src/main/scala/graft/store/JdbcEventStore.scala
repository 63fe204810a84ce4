package graft.store

import java.sql.{Connection, DriverManager, SQLException, Timestamp}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.model.Schemas
import graft.operators.AuditQueries
import graft.operators.AuditQueries.RawEventFilter

/** JDBC `EventStore` — the reference's actual backend shape
  * (`BASELINE.json: "JDBC sink to Postgres"`). Reads go through Spark's
  * JDBC source with predicate pushdown; writes use a per-partition batched
  * dedup-insert, because Spark's JDBC sink has no native upsert
  * (SURVEY §7.3).
  *
  * All SQL lives in the [[SqlDialect]]: [[PostgresDialect]] pins the
  * reference's own statements verbatim (DDL mirroring
  * `pkg/db/sql/create_cf_audit_events.sql` / `create_shipper_cursors.sql`
  * including the idempotent `metadata` migration and both CHECK
  * constraints; `INSERT … ON CONFLICT`; `reltuples`). `dialect` is a
  * parameter so that `JdbcEventStoreSpec` can pass its test-only
  * `DerbyDialect`, which executes the same row-level semantics on the
  * embedded engine the test JVM has — so the plumbing (init idempotence,
  * upsert batching, ''⇄NULL uuid edges, type round-trips) is proven, which
  * the reference never did for its store.
  *
  * Scale notes: each executor partition opens one connection and writes a
  * multi-row batched upsert — |partitions| parallel streams into the DB.
  * For true 100 TB ingest the ParquetEventStore is the primary store and
  * this sink is the egress-compatibility path, so its scale envelope is
  * the DB's, not Spark's.
  */
final class JdbcEventStore(
    spark: SparkSession,
    url: String,
    props: java.util.Properties,
    dialect: SqlDialect = PostgresDialect)
    extends EventStore {

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  override def init(): Unit = withConn { c =>
    c.setAutoCommit(false) // one transaction, like store.go:331-343
    val st = c.createStatement()
    dialect.initStatements.foreach { sql =>
      try st.execute(sql)
      catch {
        case e: SQLException if dialect.ignorableInitStates.contains(e.getSQLState) =>
          () // engine lacks IF NOT EXISTS; object is already there
      }
    }
    c.commit()
  }

  /** Lowercased-column read: engines that uppercase unquoted identifiers
    * (Derby) must still surface the engine's canonical lowercase schema. */
  private def readTable(table: String): DataFrame = {
    val df = spark.read.jdbc(url, table, props)
    df.toDF(df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toIndexedSeq: _*)
  }

  override def events: DataFrame = readTable("cf_audit_events")

  override def cursors: DataFrame = readTable("shipper_cursors")

  override def storeCFAuditEvents(batch: DataFrame): Long = {
    val (valid, _) = AuditQueries.splitOnCheck(batch)
    val u = url; val p = props; val d = dialect
    val stored = spark.sparkContext.longAccumulator("stored")
    valid.dropDuplicates("guid")
      .select("guid", "created_at", "event_type", "actor", "actor_type", "actor_name",
        "actor_username", "actee", "actee_type", "actee_name",
        "organization_guid", "space_guid", "metadata")
      .foreachPartition { (rows: Iterator[Row]) =>
        val c = DriverManager.getConnection(u, p)
        try {
          c.setAutoCommit(false) // one tx per partition (store.go:76-99 per page)
          val ps = c.prepareStatement(d.insertEventSql)
          var n = 0L
          rows.foreach { r =>
            d.bindInsertEvent(ps,
              guid = r.getString(0),
              createdAt = r.getTimestamp(1),
              texts = (2 to 9).map(r.getString),
              orgGuid = r.getString(10),
              spaceGuid = r.getString(11),
              metadata = r.getString(12))
            n += ps.executeUpdate()
          }
          c.commit()
          stored.add(n)
        } finally c.close()
      }
    stored.value
  }

  override def getCFAuditEvents(filter: RawEventFilter): DataFrame =
    AuditQueries.eventsPage(events, filter)

  override def getLatestCFEventTime(): Timestamp = withConn { c =>
    val rs = c.createStatement().executeQuery(dialect.latestEventTimeSql)
    if (rs.next()) rs.getTimestamp(1) else Schemas.epoch
  }

  override def getCFEventCount(): Long = withConn { c =>
    // statistics read where the engine has one, exactly store.go:310-329
    val rs = c.createStatement().executeQuery(dialect.eventCountSql)
    if (rs.next()) rs.getBigDecimal(1).longValue() else 0L
  }

  override def getUnshippedCFAuditEventsForShipper(shipperName: String): DataFrame =
    AuditQueries.unshipped(events, cursors, shipperName)

  override def updateShipperCursor(shipperName: String, updatedAt: String, shippedId: String): Unit =
    withConn { c => dialect.upsertCursor(c, shipperName, updatedAt, shippedId) }
}
