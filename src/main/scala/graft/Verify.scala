package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (local iteration aid)
    val only = SparkEntry.onlyNames(SparkEntry.queries.keySet)
    val spark = GraftSession()
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    new java.io.File(outDir).mkdirs()
    // Per-query timeout mirrors Bench: a hung query logs and moves on so
    // the correctness artifact still covers every other query.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "600").toLong
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val selected = only.fold(SparkEntry.queries)(ns => SparkEntry.queries.filter(kv => ns.contains(kv._1)))
    selected.foreach { case (name, fn) =>
      // job group set inside the Future: it is thread-local to the
      // submitting thread; the timeout path cancels by name cross-thread
      val work = Future {
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        finally spark.sparkContext.clearJobGroup()
      }
      try Await.result(work, timeoutSec.seconds)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          System.err.println(s"[verify] $name timed out after ${timeoutSec}s")
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
