package graft.app

import java.time.Duration
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.util.ShutdownHookManager

import graft.metrics.{MetricsRegistry, MetricsServer}
import graft.sources.{AuthenticatedTransport, CfAuditEventFetcher, CfAuthConfig, HttpTransport, JdkHttpTransport, UaaAuthenticator}
import graft.store.{EventStore, JdbcEventStore, ParquetEventStore}
import graft.streaming.{Collector, Informer, SplunkHecClient, SplunkShipper}

/** Env-var config mirroring the reference's names and defaults
  * (`main_config.go:34-65`). Durations take Go `time.ParseDuration`
  * syntax, as the reference's env does. */
final case class Config(
    deployEnv: String,
    databaseUrl: String,
    warehouseDir: String,
    cfApiAddress: String,
    cfClientId: String,
    cfClientSecret: String,
    cfUsername: String,
    cfPassword: String,
    paginationWaitMillis: Long,
    collectorScheduleMillis: Long,
    informerScheduleMillis: Long,
    shipperScheduleMillis: Long,
    splunkApiKey: String,
    splunkUrl: String,
    listenPort: Int)

object Config {
  private def env(k: String, default: String = ""): String =
    sys.env.getOrElse(k, default)

  private val durationPart = """(\d+\.?\d*|\.\d+)(ns|us|µs|μs|ms|s|m|h)"""
  private val GoDuration = s"[-+]?(?:$durationPart)+".r
  private val GoDurationPart = durationPart.r
  private val unitNanos = Map("ns" -> 1L, "us" -> 1000L, "µs" -> 1000L, "μs" -> 1000L,
    "ms" -> 1000000L, "s" -> 1000000000L, "m" -> 60000000000L, "h" -> 3600000000000L)

  /** The value of env var `name` in Go `time.ParseDuration` syntax
    * (`250ms`, `1m30s`, `1.5s`, `0`), in whole milliseconds; empty keeps
    * the default. */
  private[graft] def parseDurationMillis(name: String, s: String, defaultMillis: Long): Long =
    if (s.isEmpty) defaultMillis
    else if (s == "0") 0L
    else if (!GoDuration.matches(s))
      throw new IllegalArgumentException(
        s"$name: invalid duration '$s' (expected Go syntax such as 250ms, 1m30s or 1.5s)")
    else {
      val nanos = GoDurationPart.findAllMatchIn(s)
        .map(m => BigDecimal(m.group(1)) * unitNanos(m.group(2))).sum
      val millis = (nanos / 1000000).toLong
      if (s.startsWith("-")) -millis else millis
    }

  private def duration(name: String, defaultMillis: Long): Long =
    parseDurationMillis(name, env(name), defaultMillis)

  def fromEnv(): Config = Config(
    deployEnv = env("DEPLOY_ENV", "dev"),
    databaseUrl = env("DATABASE_URL"),
    warehouseDir = env("WAREHOUSE_DIR", "/tmp/graft-warehouse"),
    cfApiAddress = env("CF_API_ADDRESS"),
    cfClientId = env("CF_CLIENT_ID"),
    cfClientSecret = env("CF_CLIENT_SECRET"),
    cfUsername = env("CF_USERNAME"),
    cfPassword = env("CF_PASSWORD"),
    paginationWaitMillis = duration("FETCHER_PAGINATION_WAIT_TIME", 200L),
    collectorScheduleMillis = duration("COLLECTOR_SCHEDULE", 2L * 60 * 1000),
    informerScheduleMillis = duration("INFORMER_SCHEDULE", 15000L),
    shipperScheduleMillis = duration("SHIPPER_SCHEDULE", 15000L),
    splunkApiKey = env("SPLUNK_API_KEY"),
    splunkUrl = env("SPLUNK_HEC_ENDPOINT_URL"),
    listenPort = env("PORT", "9299").toInt)
}

/** Process wiring (`main.go:24-135`): init store, start the four loops on
  * daemon threads, serve /metrics + /health, shut down gracefully on
  * SIGTERM (ST7: the loops drain before Spark stops). Collector/informer
  * errors are fatal; shipper errors are absorbed by its own loop (ST5).
  * The Splunk shipper starts only when both SPLUNK_* vars are set (ST8,
  * main.go:110-122). Spark starts at the first scan, not at start-up nor
  * once shutdown has begun, and is stopped at exit only if it started.
  *
  * These thread loops are the daemon's one pipeline shape, as in the
  * reference. Restart needs no offset log: the collector resumes from the
  * store's `max(created_at) − 5 s` (a replayable source feeding an
  * idempotent guid-dedup sink) and the shipper from its cursor table. */
object Main {
  private val DrainHookPriority = 50

  def main(args: Array[String]): Unit = {
    val cfg = Config.fromEnv()
    val registry = new MetricsRegistry
    // Bind PORT before Spark starts, so its driver cannot take the port.
    val server = new MetricsServer(registry, cfg.listenPort)
    // Spark starts at the first scan, not here: a fresh warehouse's whole
    // path (store, ship, inform) reads only the session's confs.
    val spark = graft.GraftSession.lazily(master = sys.env.get("SPARK_MASTER"))

    val store: EventStore =
      if (cfg.databaseUrl.nonEmpty)
        new JdbcEventStore(spark.session, cfg.databaseUrl, new java.util.Properties())
      else new ParquetEventStore(spark, cfg.warehouseDir)
    store.init() // DDL before anything else (main.go:36-43)

    // root lager logger, main_config.go's NewLogger analog
    val logger = graft.logging.Lager("paasauditorspark")
    logger.info("starting", "deploy_env" -> cfg.deployEnv)

    server.start()

    val stop = new AtomicBoolean(false)

    val rawHttp = new JdkHttpTransport(Duration.ofSeconds(30)) // CF timeout (main_config.go:51)
    // UAA OAuth (main.go:45-48): authenticate every CF request when client
    // or user credentials are configured; bare transport otherwise (stubs).
    val authCfg = CfAuthConfig(cfg.cfApiAddress, cfg.cfClientId, cfg.cfClientSecret,
      cfg.cfUsername, cfg.cfPassword)
    val http: HttpTransport =
      if (authCfg.enabled) new AuthenticatedTransport(rawHttp, new UaaAuthenticator(rawHttp, authCfg))
      else rawHttp
    val fetcher = new CfAuditEventFetcher(http, cfg.cfApiAddress,
      paginationWaitMillis = cfg.paginationWaitMillis,
      logger = logger.session("cf-audit-event-fetcher")) // main.go:52
    val shipper =
      if (cfg.splunkApiKey.isEmpty || cfg.splunkUrl.isEmpty) None // ST8
      else {
        val hecHttp = new JdkHttpTransport(Duration.ofSeconds(2)) // shipper.go:63
        val hec = new SplunkHecClient(hecHttp, cfg.splunkUrl, cfg.splunkApiKey)
        Some(new SplunkShipper(store, hec, cfg.deployEnv, registry, logger = logger))
      }
    // A page that stores new rows wakes the shipper: SHIPPER_SCHEDULE is its
    // longest idle wait, not the store-to-ship delay.
    val collector = new Collector(spark, store, fetcher, registry, logger = logger,
      onStored = () => shipper.foreach(_.wake()))
    val informer = new Informer(store, registry, logger = logger)

    val threads = scala.collection.mutable.ArrayBuffer.empty[Thread]
    def spawn(name: String)(body: => Unit): Unit = {
      val t = new Thread(() => body, name)
      t.setDaemon(true)
      t.start()
      threads += t
    }

    @volatile var fatal: Option[Throwable] = None
    spawn("collector") {
      collector.run(cfg.collectorScheduleMillis, () => stop.get()) match {
        case Left(e) => fatal = Some(e); stop.set(true) // fail-fast (main.go:94-97)
        case Right(_) => ()
      }
    }
    shipper.foreach(s => spawn("shipper") { s.run(cfg.shipperScheduleMillis, () => stop.get()) })
    spawn("informer") { informer.run(cfg.informerScheduleMillis, () => stop.get()) }

    // Stop the loops and wait, at most 5 s in all, for each to finish its
    // in-flight page write or post; then stop serving. Once the handle is
    // closed, whether Spark was built no longer changes. Runs once, from
    // whichever of the main thread and the SIGTERM hook gets here first.
    lazy val drained: Unit = {
      stop.set(true)
      // No session is built from here on: a tick that needs one ends as
      // stopped, and a build under way stops its own session.
      spark.close()
      val deadline = System.currentTimeMillis() + 5000L
      threads.foreach(t => t.join(math.max(1L, deadline - System.currentTimeMillis())))
      server.stop()
    }
    // SIGTERM: drain before Spark's own hook, which sits at priority 40 in
    // the same Hadoop manager (hooks run one at a time, highest first), so
    // no tick runs on a stopped SparkContext.
    ShutdownHookManager.get().addShutdownHook(() => drained, DrainHookPriority)

    while (!stop.get()) Thread.sleep(200L)
    drained
    if (spark.isBuilt) spark.session.stop()
    fatal.foreach { e => System.err.println(s"fatal: $e"); e.printStackTrace(); sys.exit(1) }
  }
}
