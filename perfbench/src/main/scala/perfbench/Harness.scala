package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

final case class Outcome(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]) {
  def json: String = {
    val ms = metrics.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value
      s""""${m.name}":{"value":$v,"unit":"${m.unit}"}"""
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, cpus: Int, work: File)

/** Benchmark entry point: runs one workload and prints its result as the
  * last stdout line. Usage:
  * `Harness --workload <name> --seed <n> --seconds <s> --trace <0|1> --cpus <n> --work <dir>` */
object Harness {
  val ShipperName = "cf-audit-events-to-splunk"
  val DeployEnv = "perfbench"
  val Workloads = Seq("backfill", "live_tail")

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since this process started: the set-up clock. */
  def sinceStart(): Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("cpus").toInt, new File(a("work")))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    Stubs.noDelay()
    val outcome = DaemonWorkload.run(o, live = o.workload == "live_tail")
    System.out.println(outcome.json)
    System.out.flush()
    sys.exit(0)
  }

  /** The session the daemon's `Main` builds, with the benchmark's core count. */
  def session(o: Opts): SparkSession =
    SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(o.work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()

  /** What run.py checks in the warehouse once the daemon has stopped:
    * each expected guid stored exactly once, nothing else stored, and the
    * cursor at `lastSecondMs` on one of the shipped `cursorCandidates`. */
  def writeWarehouseCheck(f: File, warehouse: String, shipper: String, expected: Seq[String],
      failedAtHec: Seq[String], lastSecondMs: Long, cursorCandidates: Seq[String]): Unit = {
    def strs(xs: Seq[String]) = xs.map(x => s""""$x"""").mkString("[", ",", "]")
    val json = s"""{"warehouse":"$warehouse","shipper":"$shipper","expected":${strs(expected)},""" +
      s""""failed_at_hec":${strs(failedAtHec)},"last_second_ms":$lastSecondMs,""" +
      s""""cursor_candidates":${strs(cursorCandidates)}}"""
    java.nio.file.Files.write(f.toPath, json.getBytes("UTF-8"))
  }

  /** Peak resident set (VmHWM) of a process, in MB. */
  def peakRssMb(pid: String): Double = {
    val src = scala.io.Source.fromFile(s"/proc/$pid/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private val client = HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(2)).build()

  /** GET a loopback URL; None when nothing answers. */
  def httpGet(url: String): Option[(Int, String)] =
    try {
      val r = client.send(HttpRequest.newBuilder(URI.create(url)).timeout(Duration.ofSeconds(5)).build(),
        HttpResponse.BodyHandlers.ofString())
      Some(r.statusCode() -> r.body())
    } catch { case _: java.io.IOException => None }

  def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  /** Files and bytes of the parquet data under `dir`. */
  def parquetFiles(dir: File): (Long, Long) = {
    val fs = Option(dir.listFiles()).toSeq.flatten
    fs.foldLeft((0L, 0L)) { case ((n, b), f) =>
      if (f.isDirectory) { val (n2, b2) = parquetFiles(f); (n + n2, b + b2) }
      else if (f.getName.endsWith(".parquet")) (n + 1, b + f.length())
      else (n, b)
    }
  }

  def e2e(eventsPerS: Double, p50: Double, p99: Double, setup: Double): Seq[Metric] = Seq(
    Metric("events_per_s", eventsPerS, "1/s"),
    Metric("latency_p50_ms", p50, "ms"),
    Metric("latency_p99_ms", p99, "ms"),
    Metric("setup_s", setup, "s"))

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}
