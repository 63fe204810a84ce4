package graft.streaming

import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftnative.LazySession

import graft.metrics.{Metrics, MetricsRegistry}
import graft.sources.{CfAuditEventFetcher, CfWireEvent}
import graft.store.{EventPage, EventStore}

/** Ingest loop (`pkg/collectors/cf_audit_event_collector.go`): every tick,
  * resume from `max(created_at) − overlap` (epoch-clamped; empty store ⇒
  * epoch ⇒ upstream backfills its ~31-day retention, RUNBOOK.md:32-36),
  * fetch pages, and dedup-append each page in its own store transaction
  * (ST1–ST3, S7).
  *
  * Error policy is the reference's fail-fast (collector.go:53-58 +
  * main.go:91-98): a fetch or store error aborts the tick and surfaces to
  * the caller. The re-fetch overlap + guid-dedup store makes the loop safe
  * under at-least-once delivery — exactly Spark's "late data + idempotent
  * sink" pattern.
  *
  * `onStored` runs after each page write that stored at least one new row;
  * `Main` wakes the shipper with it, so new rows ship without waiting out
  * the shipper's schedule.
  *
  * A page is converted with the session's conf only: the collector builds
  * no session (`pageToDf` does).
  */
final class Collector(
    spark: LazySession,
    store: EventStore,
    fetcher: CfAuditEventFetcher,
    registry: MetricsRegistry,
    overlapSeconds: Long = 5L,
    logger: graft.logging.Lager = graft.logging.Lager.noop,
    onStored: () => Unit = () => ()) {

  // lager session naming as the reference: collector.go:26 + :31
  private val lsession = logger.session("cf-audit-event-collector").session("run")
  private var eventsCollectedLifetime = 0L
  private val pacer = new Pacer

  /** Resume point: `max(created_at) − overlap`, clamped at epoch, with the
    * reference's year<1970 sentinel handling (collector.go:92-104). */
  def pullEventsSince(): Instant = {
    val latest = store.getLatestCFEventTime().toInstant
    if (latest.atZone(java.time.ZoneOffset.UTC).getYear < 1970) Instant.EPOCH
    else {
      val back = latest.minusSeconds(overlapSeconds)
      if (back.isBefore(Instant.EPOCH)) Instant.EPOCH else back
    }
  }

  /** Wire page → typed batch with the ingest-boundary conversions applied
    * once, on the driver ([[EventPage]]: parse timestamp, ''→NULL on
    * org/space): SURVEY §1.3. The daemon stores the page's rows with
    * `storeCFAuditEventPage`; this is the same rows as a DataFrame. */
  def pageToDf(events: Seq[CfWireEvent]): DataFrame = EventPage(spark, events).df

  /** One tick: fetch all pages since the resume point, store page-by-page.
    * Returns Right(collected count) or Left(first error) — fail-fast. A
    * store error (resume-point read or page write) is returned as `Left`
    * too, so the daemon exits instead of losing its collector thread
    * (main.go:94-97). `stop` is checked between pages: once it flips, the
    * tick ends as `Right` after the page in hand, and the next run
    * re-fetches the rest from the resume point. */
  def collectOnce(stop: () => Boolean = () => false): Either[Throwable, Long] = {
    val t0 = System.nanoTime()
    var collected = 0L
    var error: Option[Throwable] = None
    var stopped = false
    try {
      val it = fetcher.fetchPagesAsync(pullEventsSince()) // fetch overlaps store (ST3)
      while (error.isEmpty && !stopped && it.hasNext) {
        val page = it.next()
        page.error match {
          case Some(e) =>
            registry.inc(Metrics.CollectorErrors)
            lsession.error("err-recv-events", e) // collector.go:55
            error = Some(e)
          case None if page.events.nonEmpty =>
            if (store.storeCFAuditEventPage(EventPage(spark, page.events)) > 0) onStored()
            collected += page.events.size // reference counts fetched (collector.go:67-68)
            eventsCollectedLifetime += page.events.size
            registry.inc(Metrics.CollectorEventsCollected, page.events.size.toDouble)
            lsession.info("stored-events", // collector.go:70-77
              "duration" -> ((System.nanoTime() - t0) / 1e9),
              "events-collected" -> eventsCollectedLifetime)
          case None => ()
        }
        stopped = stop()
      }
    } catch {
      case e: Exception =>
        lsession.error("err-store-events", e)
        error = Some(e)
    }
    val duration = (System.nanoTime() - t0) / 1e9
    if (error.isEmpty)
      lsession.info("stored-all-events", // collector.go:80-87
        "duration" -> duration, "events-collected" -> eventsCollectedLifetime)
    registry.inc(Metrics.CollectorCollectDuration, duration)
    error.toLeft(collected)
  }

  /** Periodic loop (ST1): run until `stop` flips or a collect fails. A
    * page that needed a session after `Main` closed the handle ends the
    * loop as stopped. */
  def run(scheduleMillis: Long, stop: () => Boolean): Either[Throwable, Unit] = {
    lsession.info("start") // collector.go:32-33
    try {
      while (!stop()) {
        collectOnce(stop) match {
          case Left(e) => return Left(e) // fail-fast, main exits (main.go:94-97)
          case Right(_) => ()
        }
        pacer.await(scheduleMillis, stop)
      }
      Right(())
    } catch {
      case _: LazySession.Closed => Right(())
    } finally lsession.info("end")
  }
}
