/* Hosted under org.apache.spark.sql.* for private[spark] / private[sql]
 * access (SparkHadoopUtil, SQLConf.mergeSparkConf, sessionState). */
package org.apache.spark.sql.graftnative

import scala.language.implicitConversions
import scala.util.control.ControlThrowable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.SparkConf
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** A SparkSession built the first time something asks for `session`, and
  * the two confs it has, readable before that: its SQL conf (session zone,
  * ANSI, the parquet write settings) and its SparkContext's Hadoop conf.
  * Driver-side work that reads only those confs (a parquet file written on
  * the driver, a wire page converted to rows) never builds the session;
  * a scan does. Once built, both confs are the live session's.
  *
  * `close` ends the building: after it, `session` throws
  * [[LazySession.Closed]] unless the session was already built, and a build
  * still running when it was called stops its session and throws the same.
  * A build that fails once the handle is closed or the JVM is shutting down
  * (Spark cannot register its hooks then) throws it too. So a daemon that
  * is stopping neither starts Spark nor leaves a session nobody stops. */
final class LazySession private (preSql: SQLConf, preHadoop: Configuration, build: () => SparkSession) {
  @volatile private var current: SparkSession = null
  @volatile private var closed = false
  private val publish = new Object // orders `close` against a build's publication

  private def refused: Boolean = closed || ShutdownHookManager.get().isShutdownInProgress

  def session: SparkSession = { val s = current; if (s != null) s else buildOnce() }

  private def buildOnce(): SparkSession = synchronized {
    if (current == null) {
      if (refused) throw new LazySession.Closed
      // Loaded during shutdown, Spark's hook manager fails its class
      // initializer: a LinkageError, not an Exception.
      val s = try build() catch { case _: Exception | _: LinkageError if refused => throw new LazySession.Closed }
      publish.synchronized { if (!closed) current = s }
      if (current == null) { s.stop(); throw new LazySession.Closed }
    }
    current
  }

  /** Refuses every later build. Once it returns, `isBuilt` no longer changes. */
  def close(): Unit = publish.synchronized { closed = true }

  /** Whether `session` has been built. */
  def isBuilt: Boolean = current != null

  def sqlConf: SQLConf = { val s = current; if (s != null) s.sessionState.conf else preSql }

  def hadoopConf: Configuration = {
    val s = current
    if (s != null) s.sparkContext.hadoopConfiguration else preHadoop
  }
}

object LazySession {

  /** What `session` throws once the handle is closed: control flow, not an
    * error, so the daemon's loops end the tick as stopped (their `run`
    * catches it) and no `catch` of an `Exception` on the way logs it. */
  final class Closed extends ControlThrowable("the session was closed before it was built")

  /** The confs a session built from `options` will have, derived with no
    * SparkContext: the SQL conf as the session-state builder makes it (a
    * fresh `SQLConf` with the SparkConf merged in), the Hadoop conf as
    * SparkContext makes its own. `build` must build the session from the
    * same options; it runs again only after a build that failed. */
  def apply(options: Seq[(String, String)])(build: => SparkSession): LazySession = {
    val conf = new SparkConf().setAll(options) // spark.* system properties first, as a builder's
    val sql = new SQLConf
    SQLConf.mergeSparkConf(sql, conf)
    new LazySession(sql, SparkHadoopUtil.newConfiguration(conf), () => build)
  }

  /** A session that already exists, as a handle: every API that takes a
    * handle takes a session. */
  implicit def built(spark: SparkSession): LazySession = {
    val h = new LazySession(spark.sessionState.conf, spark.sparkContext.hadoopConfiguration, () => spark)
    h.session
    h
  }
}
