package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.time.OffsetDateTime
import scala.util.Random

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import com.fasterxml.jackson.databind.node.NullNode
import org.apache.spark.sql.Row
import org.apache.spark.sql.graftnative.LazySession

import graft.metrics.{Metrics, MetricsRegistry}
import graft.model.Schemas
import graft.sources.{HttpReply, HttpTransport}
import graft.store.EventStore

/** Splunk-HEC-style HTTP sink client with the reference's retry policy
  * (`shipper.go:62-86`): 2 s timeout (owned by the transport), backoff
  * 100 ms → 2 s with exponent 2 plus up to 500 ms jitter, 3 retries;
  * any 2xx is success (`shipper.go:216-223`). `jitterMillis = 0` adds
  * no jitter. */
final class SplunkHecClient(
    http: HttpTransport,
    url: String,
    apiKey: String,
    maxRetries: Int = 3,
    initialBackoffMillis: Long = 100L,
    maxBackoffMillis: Long = 2000L,
    jitterMillis: Long = 500L,
    sleep: Long => Unit = Thread.sleep) {

  private val headers = Map(
    "Authorization" -> s"Splunk $apiKey",
    "Content-Type" -> "application/json")

  /** POST one payload; retries with exponential backoff + jitter. Returns
    * the last reply (success = 2xx). */
  def post(body: String): Either[Throwable, HttpReply] = {
    var attempt = 0
    var last: Either[Throwable, HttpReply] = Left(new RuntimeException("unattempted"))
    while (attempt <= maxRetries) {
      last =
        try {
          val r = http.post(url, body, headers)
          if (r.status >= 200 && r.status < 300) return Right(r)
          Left(new RuntimeException(s"received status code ${r.status} with body ${r.body}"))
        } catch { case e: Exception => Left(e) }
      attempt += 1
      if (attempt <= maxRetries) {
        val backoff = math.min(
          (initialBackoffMillis * math.pow(2.0, (attempt - 1).toDouble)).toLong,
          maxBackoffMillis)
        sleep(backoff + (if (jitterMillis > 0) Random.nextLong(jitterMillis) else 0L))
      }
    }
    last
  }
}

/** Egress loop (`pkg/shippers/cf_audit_events_to_splunk_shipper.go`): every
  * tick read the ≤8192 unshipped events in `created_at` order, ship them
  * serially, stop at the first failed request, and commit the cursor for
  * the shipped *prefix* only (ST4). Boundary-timestamp re-ships preserve
  * at-least-once delivery (R6) — tested behavior in the reference
  * (`shipper_test.go:187-203`). Errors never kill the loop (ST5).
  *
  * The per-tick batch is capped at 8192 by the store query (store.go:206),
  * so holding it on the driver is bounded by design. A tick reads the
  * batch as rows (`getUnshippedCFAuditEventRowsForShipper`: no query plan
  * when the store's tail answers) and builds every HEC line with Jackson
  * before the first POST, so a row whose `metadata` is not JSON fails the
  * tick with nothing posted. Where the reference POSTs one event per
  * request (`shipper.go:122-135`), consecutive lines are joined with `\n`
  * into bodies of at most [[SplunkShipper.MaxPostBytes]], which HEC reads
  * as one event per line; the requests go out in ingest order, one at a
  * time. The cursor commits the last row of the last acknowledged
  * request: a failed request's rows all re-ship on the next tick.
  */
final class SplunkShipper(
    store: EventStore,
    hec: SplunkHecClient,
    deployEnv: String,
    registry: MetricsRegistry,
    shipperName: String = "cf-audit-events-to-splunk",
    logger: graft.logging.Lager = graft.logging.Lager.noop) {

  import SplunkShipper.{CreatedRawIdx, GuidIdx, Mapper, PayloadCols, requests}

  // lager session naming as the reference: shipper.go:60 + :94
  private val lsession = logger.session("cf-audit-events-to-splunk-shipper").session("run")

  /** `{"sourcetype":"cf-audit-event","source":env,"event":{...}}`
    * (shipper.go:24-28,187-192) for an event row. The inner
    * event mirrors the wire struct the reference marshals
    * (`events.go:26-41`): `type` (not event_type), the RAW created_at
    * string, `''` for NULL org/space (the read-path coalesce,
    * store.go:137-138), `metadata` re-read as a JSON tree (`null` when
    * NULL; text that does not start with a JSON value throws), and no DB
    * id. A NULL among the other fields leaves the field out. */
  private def payload(r: Row): String = {
    val root = Mapper.createObjectNode()
    root.put("sourcetype", "cf-audit-event").put("source", deployEnv)
    val event = root.putObject("event")
    PayloadCols.foreach {
      case (i, "metadata") =>
        event.set[JsonNode]("metadata", if (r.isNullAt(i)) NullNode.instance else metadataTree(r.getString(i)))
      case (i, name @ ("organization_guid" | "space_guid")) =>
        event.put(name, if (r.isNullAt(i)) "" else r.getString(i))
      case (i, name) =>
        if (!r.isNullAt(i)) event.put(name, r.getString(i))
    }
    Mapper.writeValueAsString(root)
  }

  private def metadataTree(json: String): JsonNode = {
    val tree = Mapper.readTree(json)
    if (tree.isMissingNode) throw new IllegalArgumentException("metadata holds no JSON value")
    tree
  }

  /** One tick. Returns (shipped, failed) counts; never throws (ST5). */
  def shipOnce(): (Long, Long) = {
    val t0 = System.nanoTime()
    try {
      val batch = store.getUnshippedCFAuditEventRowsForShipper(shipperName).toIndexedSeq // ≤8192 by construction
      // Every line before the first POST: a bad row fails the tick with nothing posted.
      val lines = batch.map(payload)
      var shipped = 0 // rows of the acknowledged requests, a prefix of the batch
      var failed = false
      val bodies = requests(lines)
      while (!failed && bodies.hasNext) {
        val (body, until) = bodies.next()
        hec.post(body) match {
          case Right(_) => shipped = until
          case Left(e) =>
            failed = true // prefix stops here (shipper.go:125-135)
            lsession.error("err-ship-event", e) // shipper.go:126
            registry.inc(Metrics.ShipperErrors)
        }
      }
      val lastOk = if (shipped == 0) None else Some(batch(shipped - 1))
      // Commit cursor with the RAW created_at string (shipper.go:140-143).
      if (!lastOk.forall(r => commitCursor(r.getString(CreatedRawIdx), r.getString(GuidIdx)))) (0L, 1L)
      else {
        lastOk.foreach { r =>
          lsession.info("shipped-events",
            "shipped" -> shipped, "last_guid" -> r.getString(GuidIdx))
          registry.inc(Metrics.ShipperEventsShipped, shipped.toDouble)
          // "Not fatal" parse for the latest-shipped gauge (shipper.go:158-169).
          try registry.setGauge(Metrics.ShipperLatestEventTimestamp,
            OffsetDateTime.parse(r.getString(CreatedRawIdx)).toInstant.getEpochSecond.toDouble)
          catch { case _: Exception => () }
        }
        (shipped.toLong, if (failed) 1L else 0L)
      }
    } catch {
      case e: Exception =>
        lsession.error("err-get-unshipped-cf-audit-events-for-shipper", e) // shipper.go:110
        registry.inc(Metrics.ShipperErrors)
        (0L, 1L)
    } finally {
      registry.inc(Metrics.ShipperShipDuration, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** A failed commit fails the tick under its own action (shipper.go:145-151);
    * the shipped prefix is re-shipped next tick. */
  private def commitCursor(createdAtRaw: String, guid: String): Boolean =
    try { store.updateShipperCursor(shipperName, createdAtRaw, guid); true }
    catch {
      case e: Exception =>
        lsession.error("err-update-shipper-cursor", e)
        registry.inc(Metrics.ShipperErrors)
        false
    }

  private val pacer = new Pacer

  /** Ends `run`'s current wait early, so rows just stored ship now; wakes
    * that arrive while a tick runs coalesce into one more tick. */
  def wake(): Unit = pacer.wake()

  /** Periodic loop: errors are isolated — tick again next schedule (ST5).
    * `scheduleMillis` is the longest idle wait: a `wake` ends it early. */
  def run(scheduleMillis: Long, stop: () => Boolean): Unit = {
    lsession.info("start") // shipper.go:96-97
    try while (!stop()) {
      shipOnce()
      pacer.await(scheduleMillis, stop)
    } catch {
      case _: LazySession.Closed => () // a tick that needed a session after shutdown began
    } finally lsession.info("end")
  }
}

object SplunkShipper {
  /** Largest HEC request body the shipper builds, in UTF-8 bytes: well
    * under HEC's `max_content_length` (inputs.conf), and a bound on what
    * one failed request re-ships. */
  val MaxPostBytes: Int = 1000000

  /** Consecutive `lines` joined with `\n` into request bodies of at most
    * [[MaxPostBytes]] UTF-8 bytes, in order, each with the index just
    * past its last line. A line is never split: one longer than the cap
    * is a body alone. */
  private def requests(lines: IndexedSeq[String]): Iterator[(String, Int)] = {
    val bytes = lines.map(_.getBytes(UTF_8).length.toLong)
    Iterator.unfold(0) { from =>
      Option.when(from < lines.size) {
        var until = from + 1
        var size = bytes(from)
        while (until < lines.size && size + 1 + bytes(until) <= MaxPostBytes) {
          size += 1 + bytes(until)
          until += 1
        }
        ((lines.slice(from, until).mkString("\n"), until), until)
      }
    }
  }

  private val GuidIdx = Schemas.cfAuditEvents.fieldIndex("guid")
  private val CreatedRawIdx = Schemas.cfAuditEvents.fieldIndex("created_at_raw")

  /** (index of an event row's column, its field in the HEC event), in
    * payload order. */
  private val PayloadCols: Seq[(Int, String)] = Seq(
    "guid" -> "guid", "created_at_raw" -> "created_at", "event_type" -> "type",
    "actor" -> "actor", "actor_type" -> "actor_type", "actor_name" -> "actor_name",
    "actor_username" -> "actor_username", "actee" -> "actee", "actee_type" -> "actee_type",
    "actee_name" -> "actee_name", "organization_guid" -> "organization_guid",
    "space_guid" -> "space_guid", "metadata" -> "metadata")
    .map { case (col, field) => Schemas.cfAuditEvents.fieldIndex(col) -> field }

  /** Strict JSON, as `parse_json` reads it: the first value (what follows
    * it is not read), no duplicate keys. Decimal numbers keep their
    * digits, trailing zeros included. Thread-safe once configured. */
  private val Mapper: ObjectMapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
    .configure(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES, false)
}
