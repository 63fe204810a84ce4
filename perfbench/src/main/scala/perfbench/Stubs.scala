package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback stand-ins for the two external services the daemon talks to,
  * on one JDK `HttpServer` with two threads:
  *  - `/v2/events`: the CF events API — events in created_at order, 100
  *    per page, `q=timestamp>T` at second granularity, `next_url` paging;
  *  - `/services/collector`: a Splunk HEC endpoint that checks every
  *    payload against the event it was generated from and records the
  *    first receipt time of each guid. */
final class Stubs(deployEnv: String) {
  private val mapper = new ObjectMapper()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(2)

  // ---- CF side
  private val served = ArrayBuffer.empty[Ev] // append-only, createdAt ascending
  private val known = new ConcurrentHashMap[String, Ev]
  @volatile var firstRequestNanos = 0L
  val startPageRequests = new AtomicLong

  /** Makes `evs` visible to the CF API and known to the HEC check. */
  def publish(evs: Iterable[Ev]): Unit = served.synchronized {
    evs.foreach { e =>
      require(served.isEmpty || served.last.createdAt <= e.createdAt, "events must arrive in time order")
      served += e
      known.put(e.guid, e)
    }
  }

  // ---- HEC side
  val firstReceipt = new ConcurrentHashMap[String, java.lang.Long]
  val receipts = new AtomicLong
  val reships = new AtomicLong
  val badPayloads = ConcurrentHashMap.newKeySet[String]()
  val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]

  def port: Int = server.getAddress.getPort
  def cfApi: String = s"http://127.0.0.1:$port"
  def hecUrl: String = s"http://127.0.0.1:$port/services/collector"

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&")).map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) URLDecoder.decode(kv, "UTF-8") -> ""
      else URLDecoder.decode(kv.take(i), "UTF-8") -> URLDecoder.decode(kv.drop(i + 1), "UTF-8")
    }.toMap

  /** The body the CF API answers `/v2/events?<params>` with. */
  def eventsPage(params: Map[String, String]): String = {
    val q = params.getOrElse("q", "")
    val since =
      if (q.startsWith("timestamp>")) java.time.Instant.parse(q.stripPrefix("timestamp>")).getEpochSecond
      else Long.MinValue
    val perPage = params.get("results-per-page").map(_.toInt).getOrElse(50)
    val page = params.get("page").map(_.toInt).getOrElse(1)
    val (slice, total) = served.synchronized {
      var lo = 0
      var hi = served.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (served(m).createdAt <= since) lo = m + 1 else hi = m }
      val from = lo + (page - 1) * perPage
      (served.slice(from, from + perPage).toSeq, served.length - lo)
    }
    val pages = (total + perPage - 1) / perPage
    val next =
      if (page >= pages) ""
      else "/v2/events?q=" + java.net.URLEncoder.encode(q, "UTF-8").replace("+", "%20") +
        s"&page=${page + 1}&results-per-page=$perPage"
    s"""{"total_results":$total,"total_pages":$pages,"prev_url":null,"next_url":"$next",""" +
      slice.map(_.wireJson).mkString("\"resources\":[", ",", "]}")
  }

  /** The exact HEC payload the shipper must produce for `e`. */
  def expectedEvent(e: Ev): JsonNode = {
    val n = mapper.createObjectNode()
    n.put("guid", e.guid).put("created_at", e.raw).put("type", e.eventType)
      .put("actor", e.actor).put("actor_type", e.actorType).put("actor_name", e.actorName)
      .put("actor_username", e.actorUsername).put("actee", e.actee).put("actee_type", e.acteeType)
      .put("actee_name", e.acteeName).put("organization_guid", e.org).put("space_guid", e.space)
    n.set[JsonNode]("metadata", mapper.readTree(e.metadata))
    n
  }

  /** Checks one HEC payload line and records its receipt. */
  def receive(line: String, at: Long): Unit = {
    val root = try mapper.readTree(line) catch { case _: Exception => null }
    val ev = Option(root).map(_.path("event"))
    val guid = ev.map(_.path("guid").asText("")).getOrElse("")
    receipts.incrementAndGet()
    Option(known.get(guid)) match {
      case None =>
        problems.add(s"unknown or unparsable HEC payload: ${line.take(200)}")
      case Some(e) =>
        val ok = root.path("sourcetype").asText() == "cf-audit-event" &&
          root.path("source").asText() == deployEnv &&
          root.size() == 3 && ev.get.equals(expectedEvent(e))
        if (!ok && badPayloads.add(guid)) problems.add(s"payload mismatch for $guid: ${line.take(400)}")
        if (firstReceipt.putIfAbsent(guid, at) != null) reships.incrementAndGet()
    }
  }

  server.createContext("/v2/events", (ex: HttpExchange) => {
    if (firstRequestNanos == 0L) firstRequestNanos = System.nanoTime()
    val params = query(ex)
    if (!params.contains("page")) startPageRequests.incrementAndGet()
    respond(ex, 200, eventsPage(params))
  })
  server.createContext("/services/collector", (ex: HttpExchange) => {
    val at = System.nanoTime()
    val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    if (ex.getRequestHeaders.getFirst("Authorization") != "Splunk " + Stubs.HecKey)
      problems.add("HEC request without the expected Authorization header")
    body.split("\n").filter(_.nonEmpty).foreach(receive(_, at))
    respond(ex, 200, """{"text":"Success","code":0}""")
  })
  server.setExecutor(pool)

  def start(): Unit = server.start()
  private val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
  def stop(): Unit = if (stopped.compareAndSet(false, true)) { server.stop(0); pool.shutdownNow() }
}

object Stubs {
  val HecKey = "perfbench-hec-key"

  /** TCP_NODELAY on the stubs' sockets: without it the JDK server's split
    * header/body writes meet the client's delayed ACK and every request
    * stalls ~40 ms, a cost of the stub rather than of the daemon. Must run
    * before the first `HttpServer` is created in this JVM. */
  def noDelay(): Unit = System.setProperty("sun.net.httpserver.nodelay", "true")
}
