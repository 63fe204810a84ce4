package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftnative.{GraftExtensions, LazySession}

/** The one SparkSession recipe: the daemon, the Verify and Bench mains,
  * the dev tools and the test suites all build their session here. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the host's core count. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session's options: master `local[cpus]` unless given, `cpus`
    * shuffle partitions, UTC, no UI. */
  def options(cpus: Int = defaultCpus, master: Option[String] = None): Seq[(String, String)] = Seq(
    "spark.master" -> master.getOrElse(s"local[$cpus]"),
    "spark.app.name" -> "paasauditorspark",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // the default 128-group fallback turns the bounded-heap top-k
    // (ObjectHashAggregate) into sort-based aggregation on any real
    // query count, re-creating the window sort it replaces; a
    // collect_top_k buffer is <= k small structs, so 64k in-flight
    // groups per partition is still only tens of MB
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536")
    // spark.sql.files.maxPartitionBytes stays at its 128 MB default:
    // 1 MB splits took the sf0.1 bench from 30.8 s to 51.6 s, per-task
    // overhead dominating single-digit-MB inputs

  /** A session with [[options]], Spark logging at WARN, and the native
    * pieces (`fv_dot`, the HOF-dot rewrite, the as-of join strategy)
    * installed. */
  def apply(cpus: Int = defaultCpus, master: Option[String] = None): SparkSession =
    build(options(cpus, master))

  /** [[apply]] on first use: the session's confs now, with no SparkContext,
    * and the session itself the first time something asks for it. */
  def lazily(cpus: Int = defaultCpus, master: Option[String] = None): LazySession = {
    val opts = options(cpus, master)
    LazySession(opts)(build(opts))
  }

  private def build(opts: Seq[(String, String)]): SparkSession = {
    val spark = SparkSession.builder().config(opts.toMap).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The bounded-axis single-partition windows (Evaluation tile
    // cumulants, Survival event-axis folds, the DuckDB-mirror-shaped SQL)
    // are deliberate, each axis guarded; WindowExec's "No Partition
    // Defined" WARN, repeated thousands of times per bench run, buried
    // every real diagnostic in the log.
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    GraftExtensions.setup(spark)
    spark
  }
}
