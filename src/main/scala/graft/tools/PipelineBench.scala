package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{SparkSession, functions => F}

import graft.metrics.MetricsRegistry
import graft.sources.{HttpReply, HttpTransport}
import graft.store.ParquetEventStore
import graft.streaming.{SplunkHecClient, SplunkShipper}

/** Ingest/ship throughput microbenchmark (single node): maps the `events`
  * fixture into audit-event batches, times the dedup store path at batch
  * granularity, and times the shipper with an in-process no-op transport —
  * isolating engine cost from network cost. Prints one JSON line. */
object PipelineBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    println(runJson(spark, sfDir))
    spark.stop()
  }

  /** The measurement body, callable from [[graft.Bench]] so the per-round
    * artifact re-measures the store/ship throughput claim every round
    * instead of inheriting it (round-9 verdict item 7). Returns the
    * one-line JSON. */
  def runJson(spark: SparkSession, sfDir: String): String = {
    // Bench calls this every artifact round in one long-lived process:
    // the two temp warehouses (100k-event stores) must not accumulate.
    val tmps = scala.collection.mutable.ArrayBuffer[String]()
    try runMeasured(spark, sfDir, tmps)
    finally {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      tmps.foreach(d =>
        try fs.delete(new org.apache.hadoop.fs.Path(d), true)
        catch { case _: Exception => () })
    }
  }

  private def runMeasured(spark: SparkSession, sfDir: String,
                          tmps: scala.collection.mutable.ArrayBuffer[String]): String = {
    val wh = Files.createTempDirectory("graft-tpbench").toString
    tmps += wh
    val store = new ParquetEventStore(spark, wh)
    store.init()

    val batch = graft.sources.EventsFixture.read(spark, s"$sfDir/events.parquet")
      .withColumn("created_at", F.col("ts"))
      .select(
        F.lit(0L).as("id"),
        F.col("event_id").cast("string").as("guid"),
        F.col("created_at"),
        F.date_format(F.col("created_at"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("created_at_raw"),
        F.col("event_type"),
        F.lit("actor").as("actor"), F.lit("t").as("actor_type"),
        F.lit("n").as("actor_name"), F.lit("u").as("actor_username"),
        F.lit("actee").as("actee"), F.lit("t").as("actee_type"), F.lit("n").as("actee_name"),
        F.lit(null).cast("string").as("organization_guid"),
        F.lit("sg").as("space_guid"),
        F.col("props").as("metadata"))
      .cache()
    val n = batch.count()

    val t0 = System.nanoTime()
    val stored = store.storeCFAuditEvents(batch)
    val storeSec = (System.nanoTime() - t0) / 1e9

    // Re-store the same batch: the overlap-bounded dedup path, 0 new rows.
    val t1 = System.nanoTime()
    val redup = store.storeCFAuditEvents(batch)
    val dedupSec = (System.nanoTime() - t1) / 1e9

    // Shipper with a no-op in-process transport (engine cost only).
    val noop = new HttpTransport with Serializable {
      def get(url: String, headers: Map[String, String]) = HttpReply(200, "")
      def post(url: String, body: String, headers: Map[String, String]) = HttpReply(200, "ok")
    }
    def freshStore(): ParquetEventStore = {
      val w = Files.createTempDirectory("graft-tpbench2").toString
      tmps += w
      val s2 = new ParquetEventStore(spark, w)
      s2.init()
      s2.storeCFAuditEvents(batch)
      s2
    }
    def drain(tick: () => (Long, Long)): (Long, Double, Int) = {
      var shipped = 0L; var ticks = 0; var last = -1L
      val t = System.nanoTime()
      while (shipped < stored && ticks < 200 && last != 0L) {
        val (s, _) = tick(); last = s; shipped += s; ticks += 1
      }
      (shipped, (System.nanoTime() - t) / 1e9, ticks)
    }
    val shipper = new SplunkShipper(store,
      new SplunkHecClient(noop, "http://noop", "k", sleep = _ => ()), "bench", new MetricsRegistry)
    val (shipped, shipSec, shipTicks) = drain(() => shipper.shipOnce())

    // LATENCY REGIME: the no-op transport hides the per-POST round trip,
    // the reference's real ceiling (BASELINE.md: one HTTP POST per event).
    // A 1 ms simulated round trip (conservative vs a real HEC's 10-50 ms)
    // restores it over ONE page tick: the serial shipper pays page × RTT.
    val lat = new HttpTransport with Serializable {
      def get(url: String, headers: Map[String, String]) = HttpReply(200, "")
      def post(url: String, body: String, headers: Map[String, String]) = {
        Thread.sleep(1L); HttpReply(200, "ok")
      }
    }
    def oneTick(tick: () => (Long, Long)): (Long, Double) = {
      val t = System.nanoTime()
      val (s, _) = tick()
      (s, (System.nanoTime() - t) / 1e9)
    }
    val shipper3 = new SplunkShipper(freshStore(),
      new SplunkHecClient(lat, "http://lat", "k", sleep = _ => ()), "bench", new MetricsRegistry)
    val (shipped3, ship3Sec) = oneTick(() => shipper3.shipOnce())

    batch.unpersist()
    s"""{"events":$n,"stored":$stored,"store_sec":$storeSec,"store_eps":${stored / storeSec},""" +
      s""""redup_stored":$redup,"dedup_sec":$dedupSec,""" +
      s""""shipped":$shipped,"ship_ticks":$shipTicks,"ship_sec":$shipSec,"ship_eps":${shipped / shipSec},""" +
      s""""lat_ship_eps":${shipped3 / ship3Sec}}"""
  }
}
