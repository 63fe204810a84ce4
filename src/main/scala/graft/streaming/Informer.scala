package graft.streaming

import org.apache.spark.sql.graftnative.LazySession

import graft.metrics.{Metrics, MetricsRegistry}
import graft.store.EventStore

/** Observability loop (`pkg/informer/informer.go:26-54`): every tick set
  * the approximate event-count gauge (statistics read, R16/S6) and the
  * latest-event-timestamp gauge (unix seconds, R14). Errors set 0, like
  * the reference (informer.go:42,48). */
final class Informer(store: EventStore, registry: MetricsRegistry,
    logger: graft.logging.Lager = graft.logging.Lager.noop) {

  // lager session naming as the reference: informer.go:22 + :27
  private val lsession = logger.session("informer").session("run")
  private val pacer = new Pacer

  def informOnce(): Unit = {
    val count =
      try store.getCFEventCount().toDouble
      catch { case e: Exception =>
        lsession.error("err-event-db-get-cf-event-count", e); 0.0 } // informer.go:41
    registry.setGauge(Metrics.InformerEventsTotal, count)
    val latest =
      try store.getLatestCFEventTime().toInstant.getEpochSecond.toDouble
      catch { case e: Exception =>
        lsession.error("err-event-db-get-latest-cf-event-time", e); 0.0 } // informer.go:47
    registry.setGauge(Metrics.InformerLatestEventTimestamp, latest)
  }

  def run(scheduleMillis: Long, stop: () => Boolean): Unit = {
    lsession.info("start") // informer.go:29-30
    try while (!stop()) {
      informOnce()
      pacer.await(scheduleMillis, stop)
    } catch {
      case _: LazySession.Closed => () // a tick that needed a session after shutdown began
    } finally lsession.info("end")
  }
}
