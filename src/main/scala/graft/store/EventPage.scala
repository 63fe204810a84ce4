package graft.store

import java.sql.Timestamp
import java.time.{LocalDate, ZoneId}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graftnative.LazySession
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Schemas
import graft.sources.CfWireEvent

/** A CF wire page as event rows, converted once on the driver with no
  * query plan: the ingest boundary (SURVEY §1.3). `rows` holds the
  * `Schemas.cfAuditEvents` columns, `id` 0 until the store assigns it
  * (R20), `created_at` cast from the raw string as Spark casts it, and `''`
  * as NULL for org and space (store.go:91). `df` is the same rows as a
  * DataFrame, built only when asked (it builds the session). */
final class EventPage private (spark: LazySession, val rows: IndexedSeq[Row], zone: ZoneId) {
  lazy val df: DataFrame = spark.session.createDataFrame(rows.asJava, EventPage.schema)

  /** The rows passing the CHECK, each with its `event_date`: see [[EventPage.checked]]. */
  def checked: IndexedSeq[(Row, LocalDate)] = EventPage.checked(rows, zone)
}

object EventPage {
  /** The event columns, all nullable: a page carries whatever the wire had. */
  val schema: StructType = StructType(Schemas.cfAuditEvents.map(_.copy(nullable = true)))

  private val CreatedIdx = Schemas.cfAuditEvents.fieldIndex("created_at")

  /** Converts a wire page. `created_at` goes through Spark's own
    * string→timestamp cast (what `to_timestamp` without a format runs) in
    * the session time zone: under the session's ANSI flag a string it cannot
    * parse fails the whole page with `CAST_INVALID_INPUT`, otherwise it
    * becomes NULL. It reads the session's conf only, so it builds no
    * session. */
  def apply(spark: LazySession, events: Seq[CfWireEvent]): EventPage = {
    val zone = sessionZone(spark.sqlConf)
    val ansi = spark.sqlConf.ansiEnabled
    val rows = events.iterator.map { w =>
      Row(0L, w.guid, timestamp(w.created_at, zone, ansi), w.created_at, w.event_type,
        w.actor, w.actor_type, w.actor_name, w.actor_username, w.actee, w.actee_type, w.actee_name,
        nullIfEmpty(w.organization_guid), nullIfEmpty(w.space_guid), w.metadata)
    }.toIndexedSeq
    new EventPage(spark, rows, zone)
  }

  /** `spark.sql.session.timeZone`, the zone of Spark's casts and `to_date`. */
  def sessionZone(conf: SQLConf): ZoneId = DateTimeUtils.getZoneId(conf.sessionLocalTimeZone)

  /** Event rows (`Schemas.cfAuditEvents` columns) passing the CHECK
    * (`AuditQueries.passesCheck`: `created_at` after the epoch, so not
    * NULL), each with `to_date(created_at)` in `zone`, in row order. */
  def checked(rows: Seq[Row], zone: ZoneId): IndexedSeq[(Row, LocalDate)] =
    rows.iterator.flatMap { r =>
      Option(r.getTimestamp(CreatedIdx)).map(ts => DateTimeUtils.fromJavaTimestamp(ts)).filter(_ > 0L)
        .map(us => r -> LocalDate.ofEpochDay(DateTimeUtils.microsToDays(us, zone).toLong))
    }.toIndexedSeq

  private def timestamp(s: String, zone: ZoneId, ansi: Boolean): Timestamp =
    if (s == null) null
    else if (ansi) DateTimeUtils.toJavaTimestamp(DateTimeUtils.stringToTimestampAnsi(UTF8String.fromString(s), zone))
    else DateTimeUtils.stringToTimestamp(UTF8String.fromString(s), zone)
      .map(us => DateTimeUtils.toJavaTimestamp(us)).orNull

  private def nullIfEmpty(s: String): String = if (s == "") null else s
}
