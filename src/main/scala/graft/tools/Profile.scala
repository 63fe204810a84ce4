package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev tool (guide §1): attribute a query's WALL time between cluster
  * work and driver/scheduling overhead. Runs each named SparkEntry query
  * (SPARK_GRAFT_ONLY or args, comma-separated) `SPARK_GRAFT_PASSES`
  * times (default 3) against SPARK_GRAFT_SF_DIR and prints one JSON line
  * per run: wall seconds, job/stage/task counts, summed executor task
  * time, shuffle read/write bytes, and the wall-minus-taskTime/cores
  * residue (driver-side planning + job-submission latency — the number
  * that says whether the fix is "fewer bytes" or "fewer jobs"). */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    // the queries, and the bench-only ops as a one-row frame after they run
    val runnable: Map[String, (SparkSession, String) => DataFrame] =
      graft.SparkEntry.queries ++ graft.SparkEntry.benchOps.map { case (n, op) =>
        n -> ((s: SparkSession, d: String) => { op(s, d); s.range(1).toDF() })
      }
    val names = graft.SparkEntry.onlyNames(runnable.keySet, args.toSeq).getOrElse(Nil)
    val spark = graft.GraftSession()
    try spark.read.parquet(s"$dir/lineitem.parquet").count()
    catch { case _: Throwable => () }

    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    @volatile var taskTimeMs = 0L
    @volatile var shufReadB = 0L
    @volatile var shufWriteB = 0L
    @volatile var inputB = 0L
    // SPARK_GRAFT_PROFILE_JOBS=1: print each job's first-stage callsite so
    // a 300-job query can be attributed to the code lines that launch jobs
    val traceJobs = sys.env.contains("SPARK_GRAFT_PROFILE_JOBS")
    val jobSites = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        if (traceJobs) {
          val site = j.stageInfos.headOption.map(_.name).getOrElse("?")
          jobSites.merge(site, 1L, (a, b) => a + b)
          ()
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages += 1 }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        val m = t.taskMetrics
        if (m != null) {
          taskTimeMs += m.executorRunTime
          shufReadB += m.shuffleReadMetrics.totalBytesRead
          shufWriteB += m.shuffleWriteMetrics.bytesWritten
          inputB += m.inputMetrics.bytesRead
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { n =>
      val fn = runnable(n)
      (1 to passes).foreach { p =>
        jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0
        shufReadB = 0; shufWriteB = 0; inputB = 0
        jobSites.clear()
        spark.sparkContext.setJobDescription(s"$n#$p")
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events are async; let the bus drain before reading
        Thread.sleep(300)
        val core = taskTimeMs / 1e3 / spark.sparkContext.defaultParallelism
        println(f"""{"q":"$n","pass":$p,"wall_sec":$wall%.3f,"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_time_sec":${taskTimeMs / 1e3}%.2f,"task_over_cores_sec":$core%.3f,"driver_residue_sec":${wall - core}%.3f,"shuffle_read_mb":${shufReadB / 1e6}%.1f,"shuffle_write_mb":${shufWriteB / 1e6}%.1f,"input_mb":${inputB / 1e6}%.1f}""")
        if (traceJobs) {
          import scala.jdk.CollectionConverters._
          jobSites.asScala.toSeq.sortBy(-_._2).foreach { case (site, c) =>
            println(s"""  jobsite $c x $site""")
          }
        }
      }
    }
    spark.stop()
  }
}
