package perfbench

import java.io.{File, PrintStream}
import java.time.Duration
import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.app.Config
import graft.logging.Lager
import graft.metrics.{MetricsRegistry, MetricsServer}
import graft.sources.{CfAuditEventFetcher, HttpReply, HttpTransport, JdkHttpTransport}
import graft.store.ParquetEventStore
import graft.streaming.{Collector, Informer, SplunkHecClient, SplunkShipper}

trait Daemon {
  def start(): Unit
  def alive: Boolean
  def peakRssMb: Double
  def stop(): Unit
}

/** The real entry point, `graft.app.Main`, in its own JVM, configured
  * through its environment variables. */
final class ChildDaemon(cfg: Config, cpus: Int, log: File) extends Daemon {
  private var proc: Process = _

  def start(): Unit = {
    val javaBin = new File(System.getProperty("java.home"), "bin/java").getPath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", System.getProperty("java.class.path"), "graft.app.Main")
    val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).redirectOutput(log)
    val env = pb.environment()
    Seq("DATABASE_URL", "CF_CLIENT_ID", "CF_CLIENT_SECRET", "CF_USERNAME", "CF_PASSWORD",
      "STREAMING_PIPELINE").foreach(env.remove)
    env.putAll(Map(
      "DEPLOY_ENV" -> cfg.deployEnv,
      "WAREHOUSE_DIR" -> cfg.warehouseDir,
      "CF_API_ADDRESS" -> cfg.cfApiAddress,
      "FETCHER_PAGINATION_WAIT_TIME" -> s"${cfg.paginationWaitMillis}ms",
      "COLLECTOR_SCHEDULE" -> s"${cfg.collectorScheduleMillis}ms",
      "INFORMER_SCHEDULE" -> s"${cfg.informerScheduleMillis}ms",
      "SHIPPER_SCHEDULE" -> s"${cfg.shipperScheduleMillis}ms",
      "SPLUNK_API_KEY" -> cfg.splunkApiKey,
      "SPLUNK_HEC_ENDPOINT_URL" -> cfg.splunkUrl,
      "PORT" -> cfg.listenPort.toString,
      "SPARK_MASTER" -> s"local[$cpus]",
      "SPARK_GRAFT_CPUS" -> cpus.toString).asJava)
    proc = pb.start()
    sys.addShutdownHook(if (proc.isAlive) proc.destroyForcibly())
  }

  def alive: Boolean = proc != null && proc.isAlive
  def peakRssMb: Double = Harness.peakRssMb(proc.pid.toString)

  /** SIGTERM, then wait for the JVM to finish its shutdown. */
  def stop(): Unit = {
    proc.destroy()
    if (!proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      proc.waitFor()
    }
  }
}

/** The components `Main` wires, wired the same way in this JVM, with the
  * two seams (`HttpTransport`, `EventStore`) wrapped in recording
  * decorators and each loop's tick recorded as the parent span. */
final class InProcessDaemon(spark: SparkSession, cfg: Config, tracer: Tracer, log: PrintStream) extends Daemon {
  private val stopping = new AtomicBoolean(false)
  @volatile private var failed = false
  private val threads = ArrayBuffer.empty[Thread]
  private var server: MetricsServer = _
  val cfHttp = new TracingTransport(new JdkHttpTransport(Duration.ofSeconds(30)), tracer, "sources")

  def start(): Unit = {
    val store = new TracingStore(new ParquetEventStore(spark, cfg.warehouseDir), tracer)
    store.init()
    val logger = Lager.to("paasauditorspark", line => log.println(line))
    val registry = new MetricsRegistry
    server = new MetricsServer(registry, cfg.listenPort)
    server.start()
    val fetcher = new CfAuditEventFetcher(cfHttp, cfg.cfApiAddress,
      paginationWaitMillis = cfg.paginationWaitMillis,
      logger = logger.session("cf-audit-event-fetcher"))
    val collector = new Collector(spark, store, fetcher, registry, logger = logger)
    val informer = new Informer(store, registry, logger = logger)
    val hec = new SplunkHecClient(
      new TracingTransport(new JdkHttpTransport(Duration.ofSeconds(2)), tracer, "hec"),
      cfg.splunkUrl, cfg.splunkApiKey)
    val shipper = new SplunkShipper(store, hec, cfg.deployEnv, registry, logger = logger)
    loop("collector", cfg.collectorScheduleMillis)(
      tracer.span("collector.tick")(collector.collectOnce())().isRight)
    loop("shipper", cfg.shipperScheduleMillis) { tracer.span("shipper.tick")(shipper.shipOnce())(); true }
    loop("informer", cfg.informerScheduleMillis) { tracer.span("informer.tick")(informer.informOnce())(); true }
  }

  /** `Collector.run` / `SplunkShipper.run` / `Informer.run`, one span per tick. */
  private def loop(name: String, scheduleMillis: Long)(tick: => Boolean): Unit = {
    val t = new Thread(() => {
      while (!stopping.get()) {
        if (!tick) { failed = true; stopping.set(true) }
        val deadline = System.currentTimeMillis() + scheduleMillis
        while (!stopping.get() && System.currentTimeMillis() < deadline) Thread.sleep(50L)
      }
    }, name)
    t.setDaemon(true)
    t.start()
    threads += t
  }

  def alive: Boolean = !failed && !stopping.get()
  def peakRssMb: Double = Harness.peakRssMb("self")
  def stop(): Unit = {
    stopping.set(true)
    threads.foreach(_.join(30000L))
    if (server != null) server.stop()
  }

  /** Per-page parse time of the fetcher: `next()` over a recorded page
    * body minus the (in-memory) `get` it wraps, median over pages. */
  def parseMs(): Double = {
    val bodies = cfHttp.bodies.asScala.toSeq.take(60)
    val ms = bodies.map { body =>
      var getNanos = 0L
      val replay = new HttpTransport {
        def get(url: String, headers: Map[String, String]): HttpReply = {
          val t = System.nanoTime(); val r = HttpReply(200, body); getNanos += System.nanoTime() - t; r
        }
        def post(url: String, body: String, headers: Map[String, String]): HttpReply =
          throw new UnsupportedOperationException
      }
      val f = new CfAuditEventFetcher(replay, "", paginationWaitMillis = 0L)
      val pages = f.fetchPages(java.time.Instant.EPOCH)
      val t0 = System.nanoTime()
      pages.next()
      (System.nanoTime() - t0 - getNanos) / 1e6
    }
    Stats.median(ms)
  }
}

/** `backfill` (cold start, closed loop) and `live_tail` (warm daemon,
  * open-loop generator): the daemon between the two stubs. */
object DaemonWorkload {
  /** Fixture density: 100k events over 30 days. */
  val HistoryEvents = 100000
  val HistorySpanSec: Long = 30L * 86400
  /** Backfill size per second of run length: about the measured capacity,
    * so one backfill takes about the run length. */
  val BackfillPerSecond = 60
  val TailRate = 8.0
  /** live_tail: events the daemon backfills in its first tick, then seconds
    * of live traffic that warm it before the timed part. */
  val TailHistory = 200
  val TailWarmSeconds = 15

  def backfillSize(seconds: Int): Int = math.max(5, seconds * BackfillPerSecond / 100) * 100

  def run(o: Opts, live: Boolean): Outcome = {
    val deadline = System.nanoTime() + 150L * 1000000000L
    val gen = new Gen(o.seed)
    val n = if (live) TailHistory else backfillSize(o.seconds)
    val history = gen.history(n, n * HistorySpanSec / HistoryEvents, System.currentTimeMillis() / 1000)
    val wh = new File(o.work, "warehouse").getAbsolutePath
    val stubs = new Stubs(Harness.DeployEnv)
    stubs.publish(history)
    stubs.start()

    val port = Harness.freePort()
    val cfg = Config(
      deployEnv = Harness.DeployEnv, databaseUrl = "", warehouseDir = wh,
      cfApiAddress = stubs.cfApi, cfClientId = "", cfClientSecret = "", cfUsername = "", cfPassword = "",
      paginationWaitMillis = 200L,
      collectorScheduleMillis = if (live) 1000L else 120000L,
      informerScheduleMillis = 5000L,
      shipperScheduleMillis = 1000L,
      splunkApiKey = Stubs.HecKey, splunkUrl = stubs.hecUrl, listenPort = port)
    // traced: the daemon's components in this JVM, on the session Main would build
    val traced = if (o.trace) {
      val spark = Harness.session(o)
      val attribution = new JobAttribution
      spark.sparkContext.addSparkListener(attribution)
      Some((spark, new Tracer(spark.sparkContext), attribution))
    } else None
    val logFile = new File(o.work, "daemon.log")
    val daemon: Daemon = traced match {
      case Some((spark, t, _)) => new InProcessDaemon(spark, cfg, t, new PrintStream(logFile))
      case None => new ChildDaemon(cfg, o.cpus, logFile)
    }
    val problems = ArrayBuffer.empty[String]
    def metrics(): Map[String, Double] =
      Harness.httpGet(s"http://127.0.0.1:$port/metrics").filter(_._1 == 200).map(_._2).toSeq
        .flatMap(_.split("\n")).filterNot(_.startsWith("#")).flatMap { l =>
          l.split(" ") match { case Array(k, v) => Some(k -> v.toDouble); case _ => None }
        }.toMap
    def waitFor(what: String, limitNanos: Long)(cond: => Boolean): Boolean = {
      while (!cond && System.nanoTime() < limitNanos && daemon.alive) Thread.sleep(20L)
      val ok = cond
      if (!ok) problems += s"timed out waiting for $what"
      ok
    }
    def receipt(e: Ev): Option[Long] = Option(stubs.firstReceipt.get(e.guid)).map(_.longValue)

    try {
      daemon.start()
      waitFor("/health", deadline)(
        Harness.httpGet(s"http://127.0.0.1:$port/health").exists(_._1 == 200))
      var setupS = Harness.sinceStart()

      // ---- timed region: (events timed, when each became due, start of the timed part)
      var lateMaxMs = 0.0
      var backlog = 0L
      val (generated, timed, due, t0) =
        if (!live) {
          waitFor("the backfill to reach HEC", deadline)(history.forall(e => stubs.firstReceipt.containsKey(e.guid)))
          (Array.empty[Ev], history, Array.fill(history.length)(stubs.firstRequestNanos), stubs.firstRequestNanos)
        } else {
          // warm: the backfill tick is done and the shipper and informer have ticked
          waitFor("the history tick", deadline) {
            val m = metrics()
            stubs.startPageRequests.get() >= 2 &&
              m.getOrElse("cf_audit_events_to_splunk_shipper_ship_duration_total", 0.0) > 0 &&
              m.getOrElse("informer_cf_audit_events_total", 0.0) > 0
          }
          val warm = (TailRate * TailWarmSeconds).toInt
          val total = warm + (TailRate * o.seconds).toInt
          val evs = new Array[Ev](total)
          val dueAt = new Array[Long](total)
          val start = System.nanoTime() + 20000000L
          var lateMax = 0L
          var sec = history.last.createdAt
          for (i <- 0 until total) {
            val d = start + (i * 1e9 / TailRate).toLong
            var now = System.nanoTime()
            while (now < d) { LockSupport.parkNanos(d - now); now = System.nanoTime() }
            if (i == warm) setupS = Harness.sinceStart()
            if (i >= warm) lateMax = math.max(lateMax, now - d)
            sec = math.max(sec, System.currentTimeMillis() / 1000)
            evs(i) = gen.event(sec)
            dueAt(i) = d
            stubs.publish(Seq(evs(i)))
          }
          lateMaxMs = lateMax / 1e6
          backlog = evs.drop(warm).count(e => !stubs.firstReceipt.containsKey(e.guid)).toLong
          waitFor("live events to reach HEC", deadline)(evs.forall(e => stubs.firstReceipt.containsKey(e.guid)))
          (evs, evs.drop(warm), dueAt.drop(warm), dueAt(warm))
        }
      val receipts = timed.map(receipt)
      val delivered = receipts.indices.filter(i => receipts(i).isDefined)
      val lat = delivered.map(i => (receipts(i).get - due(i)) / 1e6).toArray.sorted
      val lastReceipt = if (delivered.isEmpty) t0 else delivered.map(receipts(_).get).max
      val opsPerS = delivered.size / math.max(1e-9, (lastReceipt - t0) / 1e9)
      // ---- end of timed region
      Harness.log(s"timed region over at ${Harness.sinceStart()} s")

      val all = Gen.ordered(history ++ generated)
      // the shipper commits its cursor before it counts what it shipped
      waitFor("the shipper's last cursor commit", deadline)(
        metrics().getOrElse("cf_audit_events_to_splunk_shipper_events_shipped_total", -1.0) >=
          stubs.receipts.get)
      waitFor("the informer count", System.nanoTime() + (cfg.informerScheduleMillis + 5000L) * 1000000L)(
        metrics().get("informer_cf_audit_events_total").contains(all.length.toDouble))
      val rss = daemon.peakRssMb
      if (!daemon.alive) problems += "daemon exited early"
      Harness.log(s"stopping the daemon at ${Harness.sinceStart()} s")
      daemon.stop()
      Harness.log(s"daemon stopped at ${Harness.sinceStart()} s")

      // run.py reads the warehouse from outside: one row per guid, and the
      // cursor on a shipped event of the last second. Idle ticks keep
      // re-shipping that second's other events (at-least-once at the
      // boundary), so SIGTERM may land between a re-ship and its commit.
      val failedAtHec = all.filter(e => receipt(e).isEmpty || stubs.badPayloads.contains(e.guid))
      val lastSecond = all.last.createdAt
      Harness.writeWarehouseCheck(new File(o.work, "warehouse-check.json"), wh, Harness.ShipperName,
        all.map(_.guid), failedAtHec.map(_.guid), lastSecond * 1000L,
        all.filter(e => e.createdAt == lastSecond && receipt(e).isDefined).map(_.guid))
      problems ++= stubs.problems.asScala
      stubs.stop()

      val (q99, p99) = if (lat.length > 10) Stats.tailPercentile(lat, 0.99) else (1.0, lat.lastOption.getOrElse(0.0))
      val e2e = Harness.e2e(opsPerS, Stats.percentile(lat, 0.5), p99, setupS)
      println(s"perfbench: ${o.workload} events=${all.length} timed=${timed.length} delivered=${delivered.size} " +
        s"latency samples=${lat.length} p99_ms is p${q99 * 100} receipts=${stubs.receipts.get} " +
        s"reships=${stubs.reships.get} gen.late_ms_max=$lateMaxMs gen.backlog=$backlog peak_rss_mb=$rss")
      problems.foreach(p => println(s"perfbench: check failed: $p"))
      val metricsOut = traced match {
        case None => e2e
        case Some((spark, t, attribution)) =>
          val (files, bytes) = Harness.parquetFiles(new File(wh, "cf_audit_events"))
          val d = daemon.asInstanceOf[InProcessDaemon]
          org.apache.spark.BenchBus.drain(spark.sparkContext)
          t.write(new File(o.work, "spans.jsonl"))
          Layers.metrics(t.spans, attribution, Layers.Extras(
            parseMs = d.parseMs(), files = files, bytesPerEvent = bytes.toDouble / all.length,
            reshipRatio = stubs.reships.get.toDouble / math.max(1L, stubs.receipts.get),
            genLateMs = lateMaxMs, genBacklog = backlog.toDouble, peakRssMb = rss,
            overheadMs = t.overheadNanos / 1e6, e2e = e2e))
      }
      Outcome(problems.isEmpty && failedAtHec.isEmpty, all.length.toLong, failedAtHec.length.toLong, metricsOut)
    } finally {
      if (daemon.alive) daemon.stop()
      stubs.stop()
      traced.foreach(_._1.stop())
    }
  }
}
