package graft

import java.time.Instant
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper

import graft.logging.Lager
import graft.metrics.{JvmMetrics, MetricsRegistry, MetricsServer}
import graft.sources.{CfAuditEventFetcher, HttpReply}

/** Structured-logging shape (lager-style JSON lines with session-scoped
  * message names, fetcher.go:36-52) and the /metrics exposition including
  * the default JVM/process gauges (README.md:59). */
class LoggingAndMetricsSpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val api = "https://cf.example.com"
  private val since = Instant.parse("2019-10-04T12:40:43Z")
  private val p1 = "/v2/events?q=timestamp%3E2019-10-04T12%3A40%3A43Z&results-per-page=100"

  private def body(guids: Seq[String], next: String): String = {
    val rs = guids.map(g =>
      s"""{"metadata":{"guid":"$g","created_at":"2019-10-04T12:41:00Z"},
         |"entity":{"type":"t","actor":"a","actor_type":"t","actor_name":"n",
         |"actor_username":"u","actee":"e","actee_type":"t","actee_name":"n",
         |"organization_guid":"","space_guid":"s","metadata":{}}}""".stripMargin).mkString(",")
    s"""{"total_results":${guids.size},"total_pages":1,"next_url":"$next","resources":[$rs]}"""
  }

  it("fetcher emits lager-shaped JSON lines: fetching, then fetched.page.ok per page") {
    val lines = mutable.ArrayBuffer.empty[String]
    val transport = new FakeTransport(Map(
      api + p1 -> HttpReply(200, body(Seq("g1", "g2"), "/v2/events?page=2")),
      api + "/v2/events?page=2" -> HttpReply(200, body(Seq("g3"), ""))))
    val f = new CfAuditEventFetcher(transport, api, paginationWaitMillis = 0,
      logger = Lager.to("paasauditorspark", lines += _).session("cf-audit-event-fetcher"))
    f.fetchPages(since).toSeq
    val parsed = lines.map(mapper.readTree(_))
    parsed.map(_.get("message").asText()) shouldBe Seq(
      "paasauditorspark.cf-audit-event-fetcher.fetching",
      "paasauditorspark.cf-audit-event-fetcher.fetched.page.ok",
      "paasauditorspark.cf-audit-event-fetcher.fetched.page.ok")
    parsed.foreach(_.get("source").asText() shouldBe "paasauditorspark")
    parsed.foreach(_.get("log_level").asInt() shouldBe 1)
    // session context + per-page data ride in "data"
    parsed.head.get("data").get("start_page_url").asText() shouldBe p1
    parsed(1).get("data").get("event_count").asInt() shouldBe 2
    parsed(1).get("data").get("page_url").asText() shouldBe p1
    parsed(2).get("data").get("event_count").asInt() shouldBe 1
  }

  it("fetch failures log fetched.page.error at error level with the cause") {
    val lines = mutable.ArrayBuffer.empty[String]
    val transport = new FakeTransport(Map(api + p1 -> HttpReply(500, "boom")))
    val f = new CfAuditEventFetcher(transport, api, paginationWaitMillis = 0,
      logger = Lager.to("src", lines += _))
    f.fetchPages(since).toSeq
    val err = lines.map(mapper.readTree(_)).find(_.get("message").asText().endsWith("fetched.page.error")).get
    err.get("log_level").asInt() shouldBe 2
    err.get("data").get("error").asText() should include("status code 500")
    err.get("data").get("page_url").asText() shouldBe p1
  }

  it("/metrics serves app metrics plus the default JVM/process gauges") {
    val registry = new MetricsRegistry
    registry.inc(graft.metrics.Metrics.CollectorEventsCollected, 7.0)
    val port = { val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    val server = new MetricsServer(registry, port)
    server.start()
    try {
      val text = new String(
        new java.net.URI(s"http://127.0.0.1:$port/metrics").toURL.openStream().readAllBytes(), "UTF-8")
      text should include("cf_audit_event_collector_events_collected_total 7.0")
      text should include("# TYPE jvm_memory_bytes_used_heap gauge")
      text should include("jvm_threads_current")
      text should include("jvm_gc_collection_seconds_total")
      text should include("process_uptime_seconds")
    } finally server.stop()
  }

  it("/health answers OK, and stop() frees the port for the next start") {
    val port = { val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    val server = new MetricsServer(new MetricsRegistry, port)
    server.start() shouldBe port
    try {
      val conn = new java.net.URI(s"http://127.0.0.1:$port/health").toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.getResponseCode shouldBe 200
      new String(conn.getInputStream.readAllBytes(), "UTF-8") shouldBe "OK"
    } finally server.stop()
    val again = new MetricsServer(new MetricsRegistry, port)
    again.start() shouldBe port // bind succeeds: the first server let go of it
    again.stop()
  }

  it("a constructed, unstarted server already holds its port; stop() lets it go") {
    val port = { val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    val server = new MetricsServer(new MetricsRegistry, port)
    try an[java.net.BindException] should be thrownBy new java.net.ServerSocket(port).close()
    finally server.stop()
    new java.net.ServerSocket(port).close() // released without ever serving
  }

  it("lager sessions nest into the message; data holds the context, then the call's fields") {
    val lines = mutable.ArrayBuffer.empty[String]
    val root = Lager.to("src", l => { lines += l; () })
    val l = root.session("a").withData("k" -> 1).session("b")
    l.info("act", "n" -> 2L, "s" -> Seq(1))
    l.error("bad", new RuntimeException("boom"), "flag" -> true)
    root.info("top")
    val Seq(info, err, top) = lines.toSeq.map(mapper.readTree)
    info.get("source").asText() shouldBe "src"
    info.get("message").asText() shouldBe "src.a.b.act"
    info.get("log_level").asInt() shouldBe 1
    info.get("data").toString shouldBe """{"k":1,"n":2,"s":"List(1)"}"""
    err.get("message").asText() shouldBe "src.a.b.bad"
    err.get("log_level").asInt() shouldBe 2
    err.get("data").toString shouldBe
      """{"k":1,"flag":true,"error":"java.lang.RuntimeException: boom"}"""
    top.get("message").asText() shouldBe "src.top"
    top.get("data").size() shouldBe 0
  }

  it("counters accumulate, gauges keep the last value, and the exposition lists both sorted") {
    val r = new MetricsRegistry
    r.inc("b_total"); r.inc("b_total", 2.5); r.inc("a_total")
    r.setGauge("z_gauge", 3.0); r.setGauge("z_gauge", 1.0)
    r.counterValue("b_total") shouldBe 3.5
    r.gaugeValue("z_gauge") shouldBe 1.0
    r.counterValue("missing") shouldBe 0.0
    r.gaugeValue("missing") shouldBe 0.0
    r.exposition shouldBe
      "# TYPE a_total counter\na_total 1.0\n" +
      "# TYPE b_total counter\nb_total 3.5\n" +
      "# TYPE z_gauge gauge\nz_gauge 1.0\n"
  }

  /** One JvmMetrics scrape as name -> (type, value). */
  private def jvmScrape(): Map[String, (String, Double)] = {
    val lines = JvmMetrics.exposition.split("\n").toSeq
    lines.grouped(2).map {
      case Seq(typeLine, sample) =>
        val Array("#", "TYPE", name, kind) = typeLine.split(" ")
        val Array(sampleName, value) = sample.split(" ")
        sampleName shouldBe name
        name -> (kind, value.toDouble)
      case other => fail(s"a TYPE line without its sample: $other")
    }.toMap
  }

  it("JvmMetrics exposes ten metrics, each a TYPE line then its sample; counters and only counters end in _total") {
    val m = jvmScrape()
    m.keySet shouldBe Set("jvm_memory_bytes_used_heap", "jvm_memory_bytes_used_nonheap", "jvm_memory_bytes_max_heap",
      "jvm_threads_current", "jvm_threads_daemon", "jvm_classes_currently_loaded", "jvm_gc_collection_count_total",
      "jvm_gc_collection_seconds_total", "process_start_time_seconds", "process_uptime_seconds")
    m.foreach { case (name, (kind, _)) => withClue(name)(kind shouldBe (if (name.endsWith("_total")) "counter" else "gauge")) }
  }

  it("JvmMetrics values agree with the JVM's own management beans, in bytes and seconds") {
    val runtime = java.lang.management.ManagementFactory.getRuntimeMXBean
    val upBefore = runtime.getUptime / 1000.0
    val m = jvmScrape().map { case (n, (_, v)) => n -> v }
    val upAfter = runtime.getUptime / 1000.0
    m("process_start_time_seconds") shouldBe runtime.getStartTime / 1000.0
    m("process_uptime_seconds") should (be >= upBefore and be <= upAfter)
    m("jvm_memory_bytes_used_heap") should (be > 0.0 and be <= m("jvm_memory_bytes_max_heap"))
    m("jvm_threads_daemon") should (be > 0.0 and be <= m("jvm_threads_current"))
    m("jvm_classes_currently_loaded") should be > 1000.0
  }

  it("JvmMetrics counts every collection the GC beans report, and a forced collection adds to the count") {
    import scala.jdk.CollectionConverters._
    def beanCount = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionCount.max(0L)).sum.toDouble
    val before = jvmScrape()
    (1 to 3).foreach(_ => System.gc())
    val low = beanCount
    val after = jvmScrape()
    val high = beanCount
    after("jvm_gc_collection_count_total")._2 should (be >= low and be <= high)
    after("jvm_gc_collection_count_total")._2 should be > before("jvm_gc_collection_count_total")._2
    after("jvm_gc_collection_seconds_total")._2 should be >= before("jvm_gc_collection_seconds_total")._2
  }
}
