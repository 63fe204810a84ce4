package graft.metrics

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder
import scala.jdk.CollectionConverters._

/** Minimal metrics registry reproducing the reference's 9 Prometheus
  * counters/gauges (README.md:45-58; pkg/collectors/metrics.go:8-28,
  * pkg/shippers/metrics.go:8-34, pkg/informer/metrics.go:8-22) with a
  * text-format exposition. Counters accumulate; gauges are set. */
final class MetricsRegistry {
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private val gauges = new ConcurrentHashMap[String, java.lang.Double]()

  def inc(name: String, delta: Double = 1.0): Unit =
    counters.computeIfAbsent(name, _ => new DoubleAdder).add(delta)

  def setGauge(name: String, value: Double): Unit =
    gauges.put(name, value)

  def counterValue(name: String): Double =
    Option(counters.get(name)).map(_.sum()).getOrElse(0.0)

  def gaugeValue(name: String): Double =
    Option(gauges.get(name)).map(_.doubleValue).getOrElse(0.0)

  /** Prometheus text exposition format (metric name + value lines). */
  def exposition: String = {
    val cs = counters.asScala.toSeq.sortBy(_._1).map { case (k, v) =>
      s"# TYPE $k counter\n$k ${v.sum()}"
    }
    val gs = gauges.asScala.toSeq.sortBy(_._1).map { case (k, v) =>
      s"# TYPE $k gauge\n$k ${v.doubleValue}"
    }
    (cs ++ gs).mkString("", "\n", "\n")
  }
}

object Metrics {
  // Collector (pkg/collectors/metrics.go)
  val CollectorErrors = "cf_audit_event_collector_errors_total"
  val CollectorEventsCollected = "cf_audit_event_collector_events_collected_total"
  val CollectorCollectDuration = "cf_audit_event_collector_collect_duration_total"
  // Shipper (pkg/shippers/metrics.go)
  val ShipperErrors = "cf_audit_events_to_splunk_shipper_errors_total"
  val ShipperEventsShipped = "cf_audit_events_to_splunk_shipper_events_shipped_total"
  val ShipperLatestEventTimestamp = "cf_audit_events_to_splunk_shipper_latest_event_timestamp"
  val ShipperShipDuration = "cf_audit_events_to_splunk_shipper_ship_duration_total"
  // Informer (pkg/informer/metrics.go)
  val InformerEventsTotal = "informer_cf_audit_events_total"
  val InformerLatestEventTimestamp = "informer_latest_cf_audit_event_timestamp"
}

/** Default process/runtime metrics, the JVM analog of the "default Go and
  * Prometheus metrics" the reference exposes alongside its own
  * (README.md:59) — standard client_java metric names, computed at scrape
  * time from the management beans. */
object JvmMetrics {
  import java.lang.management.ManagementFactory

  def exposition: String = {
    val mem = ManagementFactory.getMemoryMXBean
    val threads = ManagementFactory.getThreadMXBean
    val classes = ManagementFactory.getClassLoadingMXBean
    val runtime = ManagementFactory.getRuntimeMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans
    var gcCount = 0L; var gcTimeMs = 0L
    gcs.forEach { gc =>
      if (gc.getCollectionCount > 0) gcCount += gc.getCollectionCount
      if (gc.getCollectionTime > 0) gcTimeMs += gc.getCollectionTime
    }
    val lines = Seq(
      ("jvm_memory_bytes_used_heap", "gauge", mem.getHeapMemoryUsage.getUsed.toDouble),
      ("jvm_memory_bytes_used_nonheap", "gauge", mem.getNonHeapMemoryUsage.getUsed.toDouble),
      ("jvm_memory_bytes_max_heap", "gauge", mem.getHeapMemoryUsage.getMax.toDouble),
      ("jvm_threads_current", "gauge", threads.getThreadCount.toDouble),
      ("jvm_threads_daemon", "gauge", threads.getDaemonThreadCount.toDouble),
      ("jvm_classes_currently_loaded", "gauge", classes.getLoadedClassCount.toDouble),
      ("jvm_gc_collection_count_total", "counter", gcCount.toDouble),
      ("jvm_gc_collection_seconds_total", "counter", gcTimeMs / 1000.0),
      ("process_start_time_seconds", "gauge", runtime.getStartTime / 1000.0),
      ("process_uptime_seconds", "gauge", runtime.getUptime / 1000.0))
    lines.map { case (n, t, v) => s"# TYPE $n $t\n$n $v" }.mkString("", "\n", "\n")
  }
}

/** `/metrics` + `/health` exposition server (main.go:75-86 analog), built on
  * the JDK's embedded HTTP server — no extra dependencies. Serves the nine
  * application metrics plus the default JVM/process gauges. The port is
  * bound on construction, so nothing started later (Spark's driver, say)
  * can take it; `start()` begins serving. */
final class MetricsServer(registry: MetricsRegistry, port: Int) {
  import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private val server = HttpServer.create(new java.net.InetSocketAddress(port), 0)
  server.createContext("/metrics", new HttpHandler {
    def handle(ex: HttpExchange): Unit =
      respond(ex, 200, registry.exposition + JvmMetrics.exposition)
  })
  server.createContext("/health", new HttpHandler {
    def handle(ex: HttpExchange): Unit = respond(ex, 200, "OK")
  })
  private var started = false
  private var stopped = false

  /** Begins serving `/metrics` and `/health`; returns the bound port. */
  def start(): Int = synchronized {
    server.start()
    started = true
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (!stopped) {
      // The JDK server releases its socket from its dispatcher thread,
      // which only start() launches.
      if (!started) server.start()
      server.stop(0)
      stopped = true
    }
  }
}
