package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import graft.operators.AuditQueries.RawEventFilter
import graft.sources.{HttpReply, HttpTransport}
import graft.store.EventStore

/** In-memory span recorder. The current span is inherited by threads
  * started inside it (the fetcher's prefetch thread), and is published to
  * Spark as a local property so [[JobAttribution]] can charge jobs to it. */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong
  private val current = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val overhead = new AtomicLong

  def span[T](name: String)(body: => T)(describe: T => (Seq[String], Long) = (_: T) => (Nil, 0L)): T = {
    val b0 = System.nanoTime()
    val id = ids.incrementAndGet()
    val parent: Long = current.get()
    val prop = sc.getLocalProperty(Tracer.SpanProperty)
    current.set(id)
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val start = System.nanoTime()
    overhead.addAndGet(start - b0)
    var result: Option[T] = None
    try { result = Some(body); result.get }
    finally {
      val end = System.nanoTime()
      current.set(parent)
      sc.setLocalProperty(Tracer.SpanProperty, prop)
      val (evIds, rows) = result.map(describe).getOrElse((Nil, 0L))
      done.add(Span(id, name, parent, start, end, evIds, rows))
      overhead.addAndGet(System.nanoTime() - end)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq
  def overheadNanos: Long = overhead.get()

  /** The recorded spans, one JSON object per line. */
  def write(f: java.io.File): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"rows":${s.rows},"ids":${s.ids.map(i => s""""$i"""").mkString("[", ",", "]")}}"""
    }
    java.nio.file.Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  private val GuidRe = "\"guid\":\"([0-9a-f-]{36})\"".r
  def guidsIn(body: String): Seq[String] = GuidRe.findAllMatchIn(body).map(_.group(1)).toSeq
}

/** `HttpTransport` decorator: one span per request, carrying the guids
  * of the page it fetched or the payloads it posted. */
final class TracingTransport(inner: HttpTransport, tracer: Tracer, prefix: String) extends HttpTransport {
  /** Bodies of the replies to `get`, in arrival order. */
  val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]
  def get(url: String, headers: Map[String, String]): HttpReply =
    tracer.span(s"$prefix.get")(inner.get(url, headers)) { r =>
      bodies.add(r.body)
      (Tracer.guidsIn(r.body), 0L)
    }
  def post(url: String, body: String, headers: Map[String, String]): HttpReply =
    tracer.span(s"$prefix.post")(inner.post(url, body, headers))(_ => (Tracer.guidsIn(body), 0L))
}

/** `EventStore` decorator: one span per call. */
final class TracingStore(inner: EventStore, tracer: Tracer) extends EventStore {
  def init(): Unit = tracer.span("store.init")(inner.init())()
  def storeCFAuditEvents(batch: DataFrame): Long =
    tracer.span("store.write")(inner.storeCFAuditEvents(batch))(n => (Nil, n))
  def getCFAuditEvents(filter: RawEventFilter): DataFrame =
    tracer.span("store.page")(inner.getCFAuditEvents(filter))()
  def getLatestCFEventTime(): Timestamp = tracer.span("store.latest")(inner.getLatestCFEventTime())()
  def getCFEventCount(): Long = tracer.span("store.count")(inner.getCFEventCount())()
  def getUnshippedCFAuditEventsForShipper(shipperName: String): DataFrame =
    tracer.span("store.unshipped_plan")(inner.getUnshippedCFAuditEventsForShipper(shipperName))()
  def updateShipperCursor(shipperName: String, updatedAt: String, shippedId: String): Unit =
    tracer.span("store.cursor")(inner.updateShipperCursor(shipperName, updatedAt, shippedId))()
  def events: DataFrame = inner.events
  def cursors: DataFrame = inner.cursors
}

/** Spark work charged to the span that submitted it. */
final case class SparkWork(jobs: Long, stages: Long, taskNanos: Long, shuffleBytes: Long)

/** Charges each job, stage, task second and shuffle byte to the span
  * whose id was the submitting thread's [[Tracer.SpanProperty]]. */
final class JobAttribution extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  private val work = new ConcurrentHashMap[Long, Array[Long]]

  private def add(span: Long, i: Int, v: Long): Unit = {
    val a = work.computeIfAbsent(span, _ => new Array[Long](4))
    a.synchronized { a(i) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    add(span, 0, 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageSpan.getOrDefault(e.stageInfo.stageId, 0L), 1, 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, 0L)
    add(span, 2, e.taskInfo.duration * 1000000L)
    Option(e.taskMetrics).foreach { m =>
      add(span, 3, m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def of(span: Long): SparkWork = Option(work.get(span)) match {
    case Some(a) => a.synchronized(SparkWork(a(0), a(1), a(2), a(3)))
    case None => SparkWork(0, 0, 0, 0)
  }
}
