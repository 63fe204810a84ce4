package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, functions => F}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType

import graft.metrics.{Metrics, MetricsRegistry}
import graft.model.Schemas
import graft.sources._
import graft.store.ParquetEventStore
import graft.streaming.{Collector, Informer, SplunkHecClient, SplunkShipper}

/** Scriptable POST transport: each call consumes the next status. */
final class FakePoster(statuses: Seq[Int]) extends HttpTransport with Serializable {
  private val q = mutable.Queue(statuses: _*)
  val posts: mutable.ArrayBuffer[(String, String, Map[String, String])] = mutable.ArrayBuffer.empty
  def get(url: String, headers: Map[String, String]): HttpReply = throw new UnsupportedOperationException
  def post(url: String, body: String, headers: Map[String, String]): HttpReply = {
    posts += ((url, body, headers))
    HttpReply(if (q.nonEmpty) q.dequeue() else 200, "ok")
  }
}

/** JVM-static POST counter: executor task closures are deserialized COPIES
  * even in local mode, so mutations on a captured transport are invisible
  * to the driver — a static atomic is the one channel that isn't. */
object ShipCounters {
  val posts = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Always-200 transport that counts POSTs via [[ShipCounters]]. */
final class CountingPoster extends HttpTransport with Serializable {
  def get(url: String, headers: Map[String, String]): HttpReply = throw new UnsupportedOperationException
  def post(url: String, body: String, headers: Map[String, String]): HttpReply = {
    ShipCounters.posts.incrementAndGet()
    HttpReply(200, "ok")
  }
}

class StoreAndPipelineSpec extends SparkSpec {

  private def newStore() = {
    val dir = Files.createTempDirectory("graft-store").toString
    val st = new ParquetEventStore(spark, dir)
    st.init()
    st
  }

  private def pageJson(guids: Seq[String], atIso: Seq[String], next: String): String = {
    val resources = guids.zip(atIso).map { case (g, at) =>
      s"""{"metadata":{"guid":"$g","created_at":"$at"},
         |"entity":{"type":"test.event.type","actor":"a","actor_type":"t","actor_name":"n",
         |"actor_username":"u","actee":"e","actee_type":"t","actee_name":"n",
         |"organization_guid":"","space_guid":"sg","metadata":{}}}""".stripMargin
    }.mkString(",")
    s"""{"total_results":${guids.size},"total_pages":9,"next_url":"$next","resources":[$resources]}"""
  }

  describe("ParquetEventStore") {
    it("init is idempotent and empty store reads back empty") {
      val st = newStore()
      st.init()
      st.events.count() shouldBe 0L
      st.getLatestCFEventTime() shouldBe graft.model.Schemas.epoch
      st.getCFEventCount() shouldBe 0L
    }

    it("assigns monotonically increasing ingest ids across batches and dedups on guid") {
      val st = newStore()
      val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), "")
      val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      val collector = new Collector(spark, st, f, new MetricsRegistry)
      val b1 = Seq(mk("g1", "2024-01-01T10:00:00Z"), mk("g2", "2024-01-01T11:00:00Z"))
      val b2 = Seq(mk("g2", "2024-01-01T11:00:00Z"), mk("g3", "2024-01-02T10:00:00Z"))
      st.storeCFAuditEvents(collector.pageToDf(b1)) shouldBe 2L
      st.storeCFAuditEvents(collector.pageToDf(b2)) shouldBe 1L // g2 deduped
      val rows = st.events.orderBy("id").select("id", "guid", "organization_guid").collect()
      rows.map(_.getLong(0)) shouldBe Array(1L, 2L, 3L)
      rows.map(_.getString(1)) shouldBe Array("g1", "g2", "g3")
      rows(0).isNullAt(2) shouldBe true // '' -> NULL at the edge (R3)
      st.getLatestCFEventTime().toInstant shouldBe Instant.parse("2024-01-02T10:00:00Z")
    }

    it("exposes a typed Dataset[CfAuditEvent] surface") {
      val st = newStore()
      val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), "")
      val collector = new Collector(spark, st, f, new MetricsRegistry)
      st.storeCFAuditEvents(collector.pageToDf(Seq(
        CfWireEvent("g1", "2024-01-01T10:00:00Z", "t", "a", "at", "an", "au",
          "e", "et", "en", "", "sg", "{}"))))
      val typed: Seq[graft.model.CfAuditEvent] = st.eventsTyped.collect().toSeq
      typed.head.guid shouldBe "g1"
      typed.head.organization_guid shouldBe None // '' -> NULL -> None
      typed.head.space_guid shouldBe Some("sg")
    }

    it("event count is an O(1) statistics read maintained at store time (reltuples analog)") {
      val st = newStore()
      val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), "")
      val collector = new Collector(spark, st, f, new MetricsRegistry)
      val mk = (g: String) => CfWireEvent(g, "2024-01-01T10:00:00Z", "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      st.getCFEventCount() shouldBe 0L
      st.storeCFAuditEvents(collector.pageToDf(Seq(mk("a"), mk("b"))))
      st.getCFEventCount() shouldBe 2L
      st.storeCFAuditEvents(collector.pageToDf(Seq(mk("b"), mk("c")))) // 1 new
      st.getCFEventCount() shouldBe 3L
    }

    it("maintains the max ingest id in a sidecar: continuity across restarts without a history scan") {
      val dir = Files.createTempDirectory("graft-store-maxid").toString
      val st = new ParquetEventStore(spark, dir); st.init()
      val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), "")
      val collector = new Collector(spark, st, f, new MetricsRegistry)
      val mk = (g: String) => CfWireEvent(g, "2024-01-01T10:00:00Z", "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      st.storeCFAuditEvents(collector.pageToDf(Seq(mk("a"), mk("b"))))
      val sidecar = new java.io.File(s"$dir/_stats_maxid")
      sidecar.exists() shouldBe true
      Files.readString(sidecar.toPath).trim shouldBe "2" // known without reading the table
      // a NEW store instance (process restart) resumes the sequence from the sidecar
      val st2 = new ParquetEventStore(spark, dir)
      st2.storeCFAuditEvents(collector.pageToDf(Seq(mk("c"))))
      Files.readString(sidecar.toPath).trim shouldBe "3"
      st2.events.orderBy("id").collect().map(_.getLong(0)) shouldBe Array(1L, 2L, 3L)
      // recovery path: sidecar lost -> one full scan rebuilds continuity
      sidecar.delete()
      st2.storeCFAuditEvents(collector.pageToDf(Seq(mk("d"))))
      st2.events.orderBy("id").collect().map(_.getLong(0)) shouldBe Array(1L, 2L, 3L, 4L)
      Files.readString(sidecar.toPath).trim shouldBe "4" // re-materialized
    }

    it("compacts small ingest files and preserves every row") {
      val st = newStore()
      val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), "")
      val collector = new Collector(spark, st, f, new MetricsRegistry)
      val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      // three page-sized batches into the same partition -> >= 3 files
      (1 to 3).foreach { b =>
        st.storeCFAuditEvents(collector.pageToDf(
          (1 to 5).map(i => mk(s"g$b-$i", s"2024-01-01T0$b:0$i:00Z"))))
      }
      val beforeRows = st.events.orderBy("guid").collect().map(_.getString(1)).toSeq
      val (before, after) = st.compact()
      after should be < before
      st.events.count() shouldBe 15L
      st.events.orderBy("guid").collect().map(_.getString(1)).toSeq shouldBe beforeRows
    }

    it("guid point lookup prunes to the bloom-matching partition and stays exact") {
      val st = newStore()
      val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), "")
      val collector = new Collector(spark, st, f, new MetricsRegistry)
      val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      // 60 events across 3 date partitions
      val wire = (0 until 60).map(i =>
        mk(s"guid-$i", f"2024-04-${i % 3 + 1}%02dT0${i % 9}:00:00Z"))
      st.storeCFAuditEvents(collector.pageToDf(wire))
      // the lookup finds its row...
      val row = st.lookupByGuid("guid-7").collect()
      row.length shouldBe 1
      row(0).getString(1) shouldBe "guid-7"
      // ...and the metadata decision pruned to (almost) one partition:
      // guid-7 lives in day 2 only; FP odds at 8M bits are negligible
      st.guidCandidatePartitions("guid-7") shouldBe Seq("2024-04-02")
      // absent guid: no partition matches, empty exact result
      st.guidCandidatePartitions("no-such-guid") shouldBe Seq.empty
      st.lookupByGuid("no-such-guid").count() shouldBe 0L
      // a second batch into an existing partition MERGES its bloom
      st.storeCFAuditEvents(collector.pageToDf(Seq(mk("late-guid", "2024-04-02T10:00:00Z"))))
      st.guidCandidatePartitions("late-guid") shouldBe Seq("2024-04-02")
      st.guidCandidatePartitions("guid-7") shouldBe Seq("2024-04-02") // old guids survive the merge
    }

    it("compactPartial rewrites only over-fragmented partitions and leaves healthy ones untouched") {
      val st = newStore()
      val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), "")
      val collector = new Collector(spark, st, f, new MetricsRegistry)
      val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      // four batches into day 1 (hot), one batch into day 2 (healthy)
      (1 to 4).foreach { b =>
        st.storeCFAuditEvents(collector.pageToDf(
          (1 to 3).map(i => mk(s"h$b-$i", s"2024-02-01T0$b:0$i:00Z"))))
      }
      st.storeCFAuditEvents(collector.pageToDf(Seq(mk("cold", "2024-02-02T10:00:00Z"))))
      val coldDir = new java.io.File(
        st.events.filter(F.col("guid") === "cold").select(F.input_file_name())
          .collect()(0).getString(0).stripPrefix("file:")).getParentFile
      val coldFiles = coldDir.listFiles().map(_.getName).toSet

      val (rewritten, before, after) = st.compactPartial(maxFiles = 2)
      rewritten shouldBe 1L // only the hot day
      after should be < before
      st.events.count() shouldBe 13L
      coldDir.listFiles().map(_.getName).toSet shouldBe coldFiles // untouched
      st.getCFEventCount() shouldBe 13L
    }

    it("compactZOrder clusters files so actor+time predicates prune; plain compact cannot") {
      val st = newStore()
      val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), "")
      val collector = new Collector(spark, st, f, new MetricsRegistry)
      // 64 hex-prefixed actors spread over the 16-bit band, 2000 events
      // interleaved across actors and times of one day
      val actors = (0 until 64).map(i => f"${i * 1024}%04x-0000-4000-8000-000000000000")
      val wire = (0 until 2000).map { n =>
        val minute = (n * 37) % 1440
        CfWireEvent(s"g$n", f"2024-03-01T${minute / 60}%02d:${minute % 60}%02d:00Z",
          "t", actors(n % 64), "at", "an", "au", "e", "et", "en", "", "sg", "{}")
      }
      st.storeCFAuditEvents(collector.pageToDf(wire))

      // Per-file NATURAL-column min/max — what parquet footer stats give a
      // real scanner. Returns (files matching actor, files matching
      // actor AND a 6h window, total files).
      def touched(actor: String): (Long, Long, Long) = {
        val ranges = st.events
          .groupBy(F.input_file_name().as("f"))
          .agg(F.min("actor").as("alo"), F.max("actor").as("ahi"),
            F.min("created_at").as("tlo"), F.max("created_at").as("thi"))
          .collect()
        val t1 = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T06:00:00Z"))
        val t2 = java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T12:00:00Z"))
        val aHit = ranges.count(r => r.getString(1) <= actor && actor <= r.getString(2))
        val atHit = ranges.count { r =>
          r.getString(1) <= actor && actor <= r.getString(2) &&
            !r.getTimestamp(4).after(t2) && !r.getTimestamp(3).before(t1)
        }
        (aHit.toLong, atHit.toLong, ranges.length.toLong)
      }

      // Plain compact preserves ingest (time) order: time predicates prune,
      // actor predicates cannot — every file spans all actors.
      st.compact(maxRecordsPerFile = 250)
      val (plainA, _, plainFiles) = touched(actors(17))
      plainA shouldBe plainFiles

      st.compactZOrder(filesPerDay = 8, maxRecordsPerFile = 250)
      st.events.count() shouldBe 2000L // clustering rewrites, loses nothing
      val (zA, zAT, zFiles) = touched(actors(17))
      zFiles should be >= 6L
      zA should be <= plainA / 2 // actor-band clustering prunes on actor alone
      zAT should be <= zA // the time dimension can only prune further
    }

    it("expires whole partitions before a cutoff date") {
      val st = newStore()
      val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), "")
      val collector = new Collector(spark, st, f, new MetricsRegistry)
      val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      st.storeCFAuditEvents(collector.pageToDf(Seq(
        mk("old1", "2024-01-01T10:00:00Z"), mk("old2", "2024-01-15T10:00:00Z"),
        mk("new1", "2024-02-01T10:00:00Z"))))
      st.expireBefore(java.sql.Date.valueOf("2024-02-01")) shouldBe 2L
      st.events.collect().map(_.getAs[String]("guid")) shouldBe Array("new1")
    }

    it("unshipped scan prunes partitions from the cursor date") {
      val st = newStore()
      val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), "")
      val collector = new Collector(spark, st, f, new MetricsRegistry)
      val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      st.storeCFAuditEvents(collector.pageToDf(Seq(
        mk("g1", "2024-01-01T10:00:00Z"), mk("g2", "2024-03-01T10:00:00Z"))))
      st.updateShipperCursor("s", "2024-03-01T00:00:00Z", "g1")
      val q = st.getUnshippedCFAuditEventsForShipper("s")
      q.collect().map(_.getAs[String]("guid")) shouldBe Array("g2")
      val plan = q.queryExecution.executedPlan.toString
      plan should include("PartitionFilters")
      plan should include("event_date")
      plan should include("2024-03-01") // the cursor-derived pruning bound
    }

    it("upserts shipper cursors by name (R19/S8)") {
      val st = newStore()
      st.updateShipperCursor("s1", "2024-01-01T00:00:00Z", "g1")
      st.updateShipperCursor("s2", "2024-01-02T00:00:00Z", "g2")
      st.updateShipperCursor("s1", "2024-01-03T00:00:00Z", "g3")
      val rows = st.cursors.orderBy("name").collect()
      rows.length shouldBe 2
      rows(0).getString(0) shouldBe "s1"
      rows(0).getString(2) shouldBe "g3"
      rows(0).getTimestamp(1).toInstant shouldBe Instant.parse("2024-01-03T00:00:00Z")
    }
    it("rebases a lost stats count on the exact count before the append") {
      val dir = Files.createTempDirectory("graft-store-count").toString
      val st = new ParquetEventStore(spark, dir); st.init()
      val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), "")
      val collector = new Collector(spark, st, f, new MetricsRegistry)
      val mk = (g: String) => CfWireEvent(g, "2024-01-01T10:00:00Z", "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      st.storeCFAuditEvents(collector.pageToDf(Seq(mk("a"), mk("b"), mk("c"))))
      new java.io.File(s"$dir/_stats_count").delete() shouldBe true
      st.storeCFAuditEvents(collector.pageToDf(Seq(mk("c"), mk("d")))) shouldBe 1L
      st.getCFEventCount() shouldBe 4L // not the batch size
      Files.readString(new java.io.File(s"$dir/_stats_count").toPath).trim shouldBe "4"
    }

    it("restores cursors a crash left renamed aside mid-swap") {
      val dir = Files.createTempDirectory("graft-store-cursor").toString
      val st = new ParquetEventStore(spark, dir); st.init()
      st.updateShipperCursor("s1", "2024-01-01T00:00:00Z", "g1")
      st.updateShipperCursor("s2", "2024-01-02T00:00:00Z", "g2")
      new java.io.File(s"$dir/shipper_cursors_old").exists() shouldBe false
      new java.io.File(s"$dir/shipper_cursors_tmp").exists() shouldBe false
      // the swap's first rename happened, the second did not
      Files.move(java.nio.file.Paths.get(s"$dir/shipper_cursors"),
        java.nio.file.Paths.get(s"$dir/shipper_cursors_old"))
      val restarted = new ParquetEventStore(spark, dir); restarted.init()
      restarted.cursors.orderBy("name").collect().map(r => (r.getString(0), r.getString(2))) shouldBe
        Array(("s1", "g1"), ("s2", "g2"))
      new java.io.File(s"$dir/shipper_cursors_old").exists() shouldBe false
    }
  }

  describe("Collector (collector.go semantics)") {
    it("fetches all pages, stores them page-by-page, and advances metrics") {
      val p1 = "/v2/events?q=timestamp%3E1970-01-01T00%3A00%3A00Z&results-per-page=100"
      val p2 = "/v2/events?page=2"
      val p3 = "/v2/events?page=3"
      val transport = new FakeTransport(Map(
        p1 -> HttpReply(200, pageJson(Seq("g1", "g2"), Seq("2024-01-01T10:00:00Z", "2024-01-01T11:00:00Z"), p2)),
        p2 -> HttpReply(200, pageJson(Seq("g3"), Seq("2024-01-01T12:00:00Z"), p3)),
        p3 -> HttpReply(200, pageJson(Seq("g4"), Seq("2024-01-01T13:00:00Z"), ""))))
      val st = newStore()
      val reg = new MetricsRegistry
      val collector = new Collector(spark, st,
        new CfAuditEventFetcher(transport, "", paginationWaitMillis = 0), reg)
      collector.pullEventsSince() shouldBe Instant.EPOCH // empty store → epoch (ST2)
      collector.collectOnce() shouldBe Right(4L)
      st.events.count() shouldBe 4L
      reg.counterValue(Metrics.CollectorEventsCollected) shouldBe 4.0
      // resume point = max - 5s overlap
      collector.pullEventsSince() shouldBe Instant.parse("2024-01-01T12:59:55Z")
    }

    it("is idempotent across overlapping re-fetches (ST2 + R18)") {
      val body = pageJson(Seq("g1"), Seq("2024-01-01T10:00:00Z"), "")
      val p1 = "/v2/events?q=timestamp%3E1970-01-01T00%3A00%3A00Z&results-per-page=100"
      val p2 = "/v2/events?q=timestamp%3E2024-01-01T09%3A59%3A55Z&results-per-page=100"
      val transport = new FakeTransport(Map(
        p1 -> HttpReply(200, body), p2 -> HttpReply(200, body)))
      val st = newStore()
      val collector = new Collector(spark, st,
        new CfAuditEventFetcher(transport, "", paginationWaitMillis = 0), new MetricsRegistry)
      collector.collectOnce() shouldBe Right(1L)
      // second tick re-fetches from max-5s and re-delivers g1; store dedups
      collector.collectOnce() shouldBe Right(1L)
      st.events.count() shouldBe 1L
    }

    it("fail-fast on fetch errors (main.go:94-97)") {
      val st = newStore()
      val reg = new MetricsRegistry
      val collector = new Collector(spark, st,
        new CfAuditEventFetcher(new FakeTransport(Map.empty), "", paginationWaitMillis = 0), reg)
      collector.collectOnce().isLeft shouldBe true
      reg.counterValue(Metrics.CollectorErrors) shouldBe 1.0
    }
  }

  describe("SplunkHecClient retry policy (shipper.go:62-86)") {
    it("retries through transient 500s within one logical post") {
      val poster = new FakePoster(Seq(500, 500, 200))
      val hec = new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ())
      hec.post("{}").isRight shouldBe true
      poster.posts.size shouldBe 3
      poster.posts.head._3("Authorization") shouldBe "Splunk KEY"
    }
    it("gives up after maxRetries") {
      val poster = new FakePoster(Seq(500, 500, 500, 500, 500))
      val hec = new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ())
      hec.post("{}").isLeft shouldBe true
      poster.posts.size shouldBe 4 // initial + 3 retries
    }
  }

  describe("SplunkShipper (ST4/ST5)") {
    def seed(st: ParquetEventStore): Unit = {
      import spark.implicits._
      val batch = Seq(
        ("g1", "2024-01-01T10:00:00Z"), ("g2", "2024-01-01T11:00:00Z"), ("g3", "2024-01-01T12:00:00Z")
      ).toDF("guid", "created_at_raw")
        .withColumn("created_at", F.to_timestamp(F.col("created_at_raw")))
        .withColumn("event_type", F.lit("t")).withColumn("actor", F.lit("a"))
        .withColumn("actor_type", F.lit("t")).withColumn("actor_name", F.lit("n"))
        .withColumn("actor_username", F.lit("u")).withColumn("actee", F.lit("e"))
        .withColumn("actee_type", F.lit("t")).withColumn("actee_name", F.lit("n"))
        .withColumn("organization_guid", F.lit(null).cast("string"))
        .withColumn("space_guid", F.lit(null).cast("string"))
        .withColumn("metadata", F.lit("{}"))
        .withColumn("id", F.lit(0L))
      st.storeCFAuditEvents(batch)
      ()
    }

    it("ships the full batch in order, wraps the HEC envelope, and commits the cursor") {
      val st = newStore(); seed(st)
      val poster = new FakePoster(Seq.fill(10)(200))
      val reg = new MetricsRegistry
      val shipper = new SplunkShipper(st,
        new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()), "test-env", reg)
      shipper.shipOnce() shouldBe ((3L, 0L))
      poster.posts.size shouldBe 3
      poster.posts.head._2 should include(""""sourcetype":"cf-audit-event"""")
      poster.posts.head._2 should include(""""source":"test-env"""")
      poster.posts.head._2 should include(""""guid":"g1"""")
      val cur = st.cursors.collect()(0)
      cur.getString(0) shouldBe "cf-audit-events-to-splunk"
      cur.getString(2) shouldBe "g3"
      reg.counterValue(Metrics.ShipperEventsShipped) shouldBe 3.0
      reg.gaugeValue(Metrics.ShipperLatestEventTimestamp) shouldBe
        Instant.parse("2024-01-01T12:00:00Z").getEpochSecond.toDouble
    }

    it("commits only the shipped prefix on mid-batch failure, then redelivers (at-least-once, shipper_test.go:187-203)") {
      val st = newStore(); seed(st)
      // g1 ok; g2 fails through all 4 attempts; tick stops
      val poster = new FakePoster(Seq(200, 500, 500, 500, 500))
      val reg = new MetricsRegistry
      val shipper = new SplunkShipper(st,
        new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()), "test-env", reg)
      shipper.shipOnce() shouldBe ((1L, 1L))
      st.cursors.collect()(0).getString(2) shouldBe "g1"
      reg.counterValue(Metrics.ShipperErrors) shouldBe 1.0
      // next tick: resumes at g1's timestamp, excludes g1 itself, ships g2+g3
      val poster2 = new FakePoster(Seq.fill(10)(200))
      val shipper2 = new SplunkShipper(st,
        new SplunkHecClient(poster2, "https://hec", "KEY", sleep = _ => ()), "test-env", reg)
      shipper2.shipOnce() shouldBe ((2L, 0L))
      poster2.posts.map(p => p._2.contains(""""guid":"g2"""")).head shouldBe true
      st.cursors.collect()(0).getString(2) shouldBe "g3"
    }

    it("batched HEC posts preserve order and prefix-commit (postBatchSize=2)") {
      val st = newStore(); seed(st)
      val poster = new FakePoster(Seq.fill(10)(200))
      val reg = new MetricsRegistry
      val shipper = new SplunkShipper(st,
        new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()), "test-env", reg)
      shipper.shipOnce(postBatchSize = 2) shouldBe ((3L, 0L))
      poster.posts.size shouldBe 2 // ceil(3/2) requests
      poster.posts.head._2.linesIterator.size shouldBe 2 // two events in request 1
      poster.posts.head._2 should include(""""guid":"g1"""")
      poster.posts.head._2 should include(""""guid":"g2"""")
      st.cursors.collect()(0).getString(2) shouldBe "g3"
    }

    it("parallel range-partitioned ship preserves prefix-commit semantics") {
      val st = newStore(); seed(st)
      val poster = new FakePoster(Seq.fill(10)(200))
      val reg = new MetricsRegistry
      val shipper = new SplunkShipper(st,
        new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()), "test-env", reg)
      val (shipped, failed) = shipper.shipPartitionedOnce(2,
        () => new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()))
      shipped shouldBe 3L
      failed shouldBe 0L
      st.cursors.collect()(0).getString(2) shouldBe "g3"
    }

    /** POST transport that rejects any body naming `failGuid` (injected
      * mid-batch failure), shared across serial and parallel drives. */
    class GuidFailPoster(failGuid: String) extends HttpTransport with Serializable {
      val posts: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
      def get(url: String, headers: Map[String, String]): HttpReply = throw new UnsupportedOperationException
      def post(url: String, body: String, headers: Map[String, String]): HttpReply = {
        posts.synchronized { posts += body }
        if (body.contains(s""""guid":"$failGuid"""")) HttpReply(500, "boom") else HttpReply(200, "ok")
      }
    }

    def seed6(st: ParquetEventStore): Unit = {
      import spark.implicits._
      val batch = (1 to 6).map(i => (s"g$i", f"2024-01-01T1$i%d:00:00Z"))
        .toDF("guid", "created_at_raw")
        .withColumn("created_at", F.to_timestamp(F.col("created_at_raw")))
        .withColumn("event_type", F.lit("t")).withColumn("actor", F.lit("a"))
        .withColumn("actor_type", F.lit("t")).withColumn("actor_name", F.lit("n"))
        .withColumn("actor_username", F.lit("u")).withColumn("actee", F.lit("e"))
        .withColumn("actee_type", F.lit("t")).withColumn("actee_name", F.lit("n"))
        .withColumn("organization_guid", F.lit(null).cast("string"))
        .withColumn("space_guid", F.lit(null).cast("string"))
        .withColumn("metadata", F.lit("{}"))
        .withColumn("id", F.lit(0L))
      st.storeCFAuditEvents(batch)
      ()
    }

    def mkShipper(st: ParquetEventStore, poster: HttpTransport) = new SplunkShipper(st,
      new SplunkHecClient(poster, "https://hec", "KEY", maxRetries = 0, sleep = _ => ()),
      "test-env", new MetricsRegistry)

    it("parallel ship commits the same cursor as serial under the same mid-batch failure") {
      for (failAt <- Seq("g2", "g5")) { // failure in the first and in a later range partition
        val serialStore = newStore(); seed6(serialStore)
        val parallelStore = newStore(); seed6(parallelStore)
        val serialShipped = mkShipper(serialStore, new GuidFailPoster(failAt)).shipOnce()._1
        val parallelShipped = {
          val p = new GuidFailPoster(failAt)
          mkShipper(parallelStore, p).shipPartitionedOnce(2,
            () => new SplunkHecClient(p, "https://hec", "KEY", maxRetries = 0, sleep = _ => ()))._1
        }
        val serialCur = serialStore.cursors.collect()(0).getString(2)
        val parallelCur = parallelStore.cursors.collect()(0).getString(2)
        withClue(s"failAt=$failAt:") {
          parallelCur shouldBe serialCur // identical committed prefix boundary
          parallelShipped shouldBe serialShipped // identical prefix accounting
        }
      }
    }

    it("batched parallel ship (postBatchSize=3) amortizes POSTs with identical delivery") {
      ShipCounters.posts.set(0)
      val st = newStore(); seed6(st)
      val (shipped, failed) = mkShipper(st, new CountingPoster).shipPartitionedOnce(2,
        () => new SplunkHecClient(new CountingPoster, "https://hec", "KEY", maxRetries = 0, sleep = _ => ()),
        postBatchSize = 3)
      (shipped, failed) shouldBe ((6L, 0L))
      st.cursors.collect()(0).getString(2) shouldBe "g6"
      ShipCounters.posts.get() shouldBe 2 // one 3-event POST per range partition, not 6
    }

    it("batched parallel ship stops each partition at its last fully-shipped group and redelivers after heal") {
      val st = newStore(); seed6(st)
      val failing = new GuidFailPoster("g5")
      mkShipper(st, failing).shipPartitionedOnce(2,
        () => new SplunkHecClient(failing, "https://hec", "KEY", maxRetries = 0, sleep = _ => ()),
        postBatchSize = 2)
      // partition 1's first group [g4,g5] fails -> committed prefix is
      // partition 0's fully-shipped tail (group granularity, like shipOnce)
      st.cursors.collect()(0).getString(2) shouldBe "g3"
      val healed = new FakePoster(Seq.fill(10)(200))
      val (reshipped, f2) = mkShipper(st, healed).shipOnce()
      (reshipped, f2) shouldBe ((3L, 0L)) // g4..g6, at-least-once, no loss
      st.cursors.collect()(0).getString(2) shouldBe "g6"
    }

    it("HecClientPool shares ONE client per key across partitions and ticks") {
      graft.streaming.HecClientPool.clear()
      val st = newStore(); seed6(st)
      val sh = mkShipper(st, new CountingPoster)
      def mk() = new SplunkHecClient(new CountingPoster, "https://hec", "KEY", maxRetries = 0, sleep = _ => ())
      sh.shipPartitionedOnce(2, () => mk(), clientPoolKey = Some("hec-pool-test"))
      sh.shipPartitionedOnce(2, () => mk(), clientPoolKey = Some("hec-pool-test")) // next tick
      // 2 partitions x 2 ticks all resolved to a single pooled client
      graft.streaming.HecClientPool.size shouldBe 1
      st.cursors.collect()(0).getString(2) shouldBe "g6"
    }

    it("parallel ship redelivers everything past the committed prefix after the failure heals") {
      val st = newStore(); seed6(st)
      val failing = new GuidFailPoster("g3")
      mkShipper(st, failing).shipPartitionedOnce(2,
        () => new SplunkHecClient(failing, "https://hec", "KEY", maxRetries = 0, sleep = _ => ()))
      st.cursors.collect()(0).getString(2) shouldBe "g2" // prefix boundary before the failure
      val healed = new FakePoster(Seq.fill(10)(200))
      val (reshipped, failed) = mkShipper(st, healed).shipOnce()
      (reshipped, failed) shouldBe ((4L, 0L)) // g3..g6 redelivered (at-least-once)
      (3 to 6).foreach(i => healed.posts.map(_._2).exists(_.contains(s""""guid":"g$i"""")) shouldBe true)
      st.cursors.collect()(0).getString(2) shouldBe "g6"
    }
  }

  describe("Informer (informer.go:26-54)") {
    it("publishes count and latest-timestamp gauges") {
      val st = newStore();
      val reg = new MetricsRegistry
      new Informer(st, reg).informOnce()
      reg.gaugeValue(Metrics.InformerEventsTotal) shouldBe 0.0
      reg.gaugeValue(Metrics.InformerLatestEventTimestamp) shouldBe 0.0
    }
  }

  // `ParquetEventStore.storeCFAuditEvents` has two paths: batches whose plan
  // folds to a `LocalRelation` (every collector page) are deduped, numbered
  // and bloomed on the driver; all others go through the distributed
  // anti-join / `row_number` / bloom-aggregate plan. Both must leave the
  // warehouse byte-for-byte in the same state, and the driver path must
  // cost one Spark job per page.

  // pageToDf's output schema is nullable; so is this one.
  private val nullableEvents = StructType(Schemas.cfAuditEvents.map(_.copy(nullable = true)))

  private def ev(guid: String, at: String, eventType: String = "t",
                 org: String = "og", space: String = "sg"): Row = {
    val ts = scala.util.Try(Timestamp.from(Instant.parse(at))).toOption.orNull
    Row(0L, guid, ts, at, eventType, "a", "at", "an", "au", "e", "et", "en", org, space, "{}")
  }

  private def onDriver(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, nullableEvents)

  // One slice: first occurrence of an in-batch duplicate is deterministic.
  private def distributed(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), nullableEvents)

  private def newStoreAt(): (ParquetEventStore, Path) = {
    val dir = Files.createTempDirectory("graft-store-paths")
    val st = new ParquetEventStore(spark, dir.toString)
    st.init()
    (st, dir)
  }

  private def bloomFiles(dir: Path): Map[String, Seq[Byte]] = {
    val d = dir.resolve("_bloom_guid").toFile
    Option(d.listFiles()).toSeq.flatten
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
  }

  private def sidecarText(dir: Path, name: String): String =
    Files.readString(dir.resolve(name)).trim

  private def storedRows(st: ParquetEventStore): Seq[Seq[Any]] =
    st.events.orderBy("id").collect().map(_.toSeq).toSeq

  describe("driver path == distributed path") {
    it("stores identical rows, ids, stats and bloom sidecars") {
      val (drv, dirA) = newStoreAt()
      val (dst, dirB) = newStoreAt()
      def both(batch: Seq[Row]): Long = {
        onDriver(batch).queryExecution.optimizedPlan shouldBe a[LocalRelation]
        distributed(batch).queryExecution.optimizedPlan should not be a[LocalRelation]
        val n = drv.storeCFAuditEvents(onDriver(batch))
        dst.storeCFAuditEvents(distributed(batch)) shouldBe n
        storedRows(drv) shouldBe storedRows(dst)
        sidecarText(dirA, "_stats_maxid") shouldBe sidecarText(dirB, "_stats_maxid")
        sidecarText(dirA, "_stats_count") shouldBe sidecarText(dirB, "_stats_count")
        bloomFiles(dirA) shouldBe bloomFiles(dirB)
        n
      }
      // in-batch duplicate (first occurrence wins), null org/space, a
      // pre-epoch row, the epoch itself, an unparseable created_at, and two
      // guids tied on created_at whose UTF-8 order differs from UTF-16's
      both(Seq(
        ev("g1", "2024-03-01T10:00:00Z", eventType = "first"),
        ev("g2", "2024-03-01T11:00:00Z", org = null, space = null),
        ev("g1", "2024-03-01T10:00:00Z", eventType = "second"),
        ev("pre", "1969-12-31T23:59:59Z"),
        ev("zero", "1970-01-01T00:00:00Z"),
        ev("bad", "not-a-time"),
        ev("xＡ", "2024-03-01T09:00:00Z"),
        ev("x😀", "2024-03-01T09:00:00Z"))) shouldBe 4L
      drv.events.filter("guid = 'g1'").collect().map(_.getAs[String]("event_type")) shouldBe
        Array("first")
      // overlap re-fetch of g2, spanning two dates
      both(Seq(ev("g2", "2024-03-01T11:00:00Z"), ev("g3", "2024-03-01T12:00:00Z"),
        ev("g4", "2024-03-02T01:00:00Z"))) shouldBe 2L
      // g1 re-delivered with a later date: still found in 2024-03-01, the
      // earlier partition inside the scope (min date of the batch)
      both(Seq(ev("g5", "2024-03-01T23:00:00Z"), ev("g1", "2024-03-02T05:00:00Z"),
        ev("g6", "2024-03-02T06:00:00Z"))) shouldBe 2L
      both(Seq.empty) shouldBe 0L
      // a scoped partition without its bloom sidecar still dedups exactly
      Seq(dirA, dirB).foreach(d => Files.delete(d.resolve("_bloom_guid/2024-03-02")))
      both(Seq(ev("g4", "2024-03-02T01:00:00Z"), ev("g7", "2024-03-02T07:00:00Z"))) shouldBe 1L
      drv.events.count() shouldBe 9L
      drv.getCFEventCount() shouldBe 9L
    }
  }

  describe("driver path job count") {
    /** Spark jobs `body` launches on this thread. */
    def jobsOf(body: => Unit): Int = {
      val tag = s"store-jobs-${System.nanoTime()}"
      val n = new AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("graft.spec.jobs") == tag)
            n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setLocalProperty("graft.spec.jobs", tag)
      try { body; TestBus.drain(spark.sparkContext); n.get }
      finally {
        spark.sparkContext.setLocalProperty("graft.spec.jobs", null)
        spark.sparkContext.removeSparkListener(listener)
      }
    }

    it("costs one job for a fresh-date page and at most two for a re-fetch") {
      val (st, _) = newStoreAt()
      val collector = new Collector(spark, st,
        new CfAuditEventFetcher(new FakeTransport(Map.empty), ""), new MetricsRegistry)
      val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      val page1 = (0 until 100).map(i => mk(s"p1-$i", f"2024-05-01T10:${i % 60}%02d:00Z"))
      jobsOf(st.storeCFAuditEvents(collector.pageToDf(page1))) shouldBe 1
      // the next page re-fetches part of the first one (the 5 s overlap)
      val page2 = page1.takeRight(10) ++
        (0 until 90).map(i => mk(s"p2-$i", f"2024-05-01T11:${i % 60}%02d:00Z"))
      var stored = 0L
      jobsOf { stored = st.storeCFAuditEvents(collector.pageToDf(page2)) } should be <= 2
      stored shouldBe 90L
      jobsOf(st.storeCFAuditEvents(collector.pageToDf(
        Seq(mk("p3", "2024-05-02T00:00:01Z"))))) shouldBe 1
      st.getCFEventCount() shouldBe 191L
    }
  }
}
