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
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.types.StructType

import graft.metrics.{Metrics, MetricsRegistry}
import graft.model.Schemas
import graft.operators.AuditQueries
import graft.sources._
import graft.store.{EventPage, EventStore, ParquetEventStore}
import graft.streaming.{Collector, Informer, SplunkHecClient, SplunkShipper}
import org.apache.spark.sql.graftnative.{BloomFunctions, DriverParquet, LazySession}

/** Scriptable POST transport: each call consumes the next status. */
final class FakePoster(statuses: Seq[Int]) extends HttpTransport with Serializable {
  private val q = mutable.Queue(statuses: _*)
  val posts: mutable.ArrayBuffer[(String, String, Map[String, String])] = mutable.ArrayBuffer.empty
  /** Every posted body split on `\n`, in post order: one HEC event per line. */
  def lines: Seq[String] = posts.toSeq.flatMap(_._2.split("\n"))
  def get(url: String, headers: Map[String, String]): HttpReply = throw new UnsupportedOperationException
  def post(url: String, body: String, headers: Map[String, String]): HttpReply = {
    posts += ((url, body, headers))
    HttpReply(if (q.nonEmpty) q.dequeue() else 200, "ok")
  }
}

/** Delegates every call to a real store; specs override the calls that fail. */
class DelegatingStore(inner: EventStore) extends EventStore {
  def init(): Unit = inner.init()
  def storeCFAuditEvents(batch: DataFrame): Long = inner.storeCFAuditEvents(batch)
  def getCFAuditEvents(filter: graft.operators.AuditQueries.RawEventFilter): DataFrame =
    inner.getCFAuditEvents(filter)
  def getLatestCFEventTime(): Timestamp = inner.getLatestCFEventTime()
  def getCFEventCount(): Long = inner.getCFEventCount()
  def getUnshippedCFAuditEventsForShipper(shipperName: String): DataFrame =
    inner.getUnshippedCFAuditEventsForShipper(shipperName)
  def updateShipperCursor(shipperName: String, updatedAt: String, shippedId: String): Unit =
    inner.updateShipperCursor(shipperName, updatedAt, shippedId)
  def events: DataFrame = inner.events
  def cursors: DataFrame = inner.cursors
}

/** Delegates to a real store, except that every page write fails. */
final class FailingWriteStore(inner: EventStore) extends DelegatingStore(inner) {
  override def storeCFAuditEvents(batch: DataFrame): Long = throw new RuntimeException("disk full")
}

class StoreAndPipelineSpec extends SparkSpec {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

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

    it("expires whole partitions before a cutoff date") {
      val (st, dir) = newStoreAt()
      val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), "")
      val collector = new Collector(spark, st, f, new MetricsRegistry)
      val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      st.storeCFAuditEvents(collector.pageToDf(Seq(
        mk("old1", "2024-01-01T10:00:00Z"), mk("old2", "2024-01-15T10:00:00Z"),
        mk("new1", "2024-02-01T10:00:00Z"))))
      st.expireBefore(java.sql.Date.valueOf("2024-02-01")) shouldBe 2L
      st.events.collect().map(_.getAs[String]("guid")) shouldBe Array("new1")
      st.getCFEventCount() shouldBe 1L
      sidecarText(dir, "_stats_count") shouldBe "1"
      bloomFiles(dir).keySet.filterNot(_.startsWith(".")) shouldBe Set("2024-02-01")
      bloomFiles(dir).keySet.filter(_.contains("2024-01")) shouldBe empty
      // later commits add to the exact count, not the pre-expiry one
      st.storeCFAuditEvents(collector.pageToDf(Seq(mk("new2", "2024-02-02T10:00:00Z")))) shouldBe 1L
      st.getCFEventCount() shouldBe 2L
    }

    it("expireBefore drops only event_date= directories, leaving the table's other entries alone") {
      val (st, dir) = newStoreAt()
      st.storeCFAuditEvents(onDriver(Seq(
        ev("old1", "2024-01-01T10:00:00Z"), ev("new1", "2024-02-01T10:00:00Z"))))
      val table = dir.resolve("cf_audit_events")
      val hidden = Files.createDirectory(table.resolve(".event_date=2023-01-01.old"))
      val marker = Files.createFile(table.resolve("_marker"))
      st.expireBefore(java.sql.Date.valueOf("2024-02-01")) shouldBe 1L
      Files.exists(hidden) shouldBe true
      Files.exists(marker) shouldBe true
      st.events.select("guid").collect().map(_.getString(0)).toSeq shouldBe Seq("new1")
    }

    it("compact reports the events table's on-disk parquet file counts before and after") {
      val (st, dir) = newStoreAt()
      def parquetFiles(): Long = {
        val s = Files.walk(dir.resolve("cf_audit_events"))
        try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
        finally s.close()
      }
      (1 to 3).foreach { b =>
        st.storeCFAuditEvents(onDriver(Seq(
          ev(s"g$b", s"2024-01-0${b}T10:00:00Z"), ev(s"h$b", s"2024-01-01T1$b:00:00Z"))))
      }
      val onDisk = parquetFiles()
      val (before, after) = st.compact()
      before shouldBe onDisk
      after shouldBe parquetFiles()
      after shouldBe 3L // one file per event_date
      st.events.count() shouldBe 6L
    }

    it("compactPartial replaces an aside left by an interrupted swap and leaves no hidden sibling") {
      val (st, dir) = newStoreAt()
      (1 to 3).foreach { b =>
        st.storeCFAuditEvents(onDriver(Seq(ev(s"g$b", s"2024-02-01T0$b:00:00Z"))))
      }
      val table = dir.resolve("cf_audit_events")
      val stale = Files.createDirectory(table.resolve(".event_date=2024-02-01.old"))
      Files.write(stale.resolve("part-stale.parquet"), Array[Byte](1, 2, 3))
      val (rewritten, before, after) = st.compactPartial(maxFiles = 2)
      rewritten shouldBe 1L
      after shouldBe 1L
      after should be < before
      val siblings = {
        val s = Files.list(table)
        try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith(".event_date=")).toSeq
        finally s.close()
      }
      siblings shouldBe empty
      st.events.select("guid").collect().map(_.getString(0)).sorted.toSeq shouldBe Seq("g1", "g2", "g3")
    }

    it("unshipped scan prunes partitions from the cursor date") {
      val (st, dir) = newStoreAt()
      val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), "")
      val collector = new Collector(spark, st, f, new MetricsRegistry)
      val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      st.storeCFAuditEvents(collector.pageToDf(Seq(
        mk("g1", "2024-01-01T10:00:00Z"), mk("g2", "2024-03-01T10:00:00Z"))))
      st.updateShipperCursor("s", "2024-03-01T00:00:00Z", "g1")
      // a store that has not appended yet (a restarted daemon) scans
      val q = new ParquetEventStore(spark, dir.toString).getUnshippedCFAuditEventsForShipper("s")
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

    it("keeps max(created_at) in _stats_latest after the append; a failed append leaves it unchanged") {
      val (st, dir) = newStoreAt()
      sidecarText(dir, "_stats_latest") shouldBe "0" // epoch for a new table
      st.storeCFAuditEvents(onDriver(Seq(
        ev("g1", "2024-05-01T10:00:00Z"), ev("g2", "2024-05-02T08:30:00.250Z"))))
      val latest = Instant.parse("2024-05-02T08:30:00.250Z")
      sidecarText(dir, "_stats_latest") shouldBe (latest.getEpochSecond * 1000000L + 250000L).toString
      st.getLatestCFEventTime().toInstant shouldBe latest
      // an older batch does not move it back
      st.storeCFAuditEvents(onDriver(Seq(ev("g0", "2024-05-02T01:00:00Z")))) shouldBe 1L
      st.getLatestCFEventTime().toInstant shouldBe latest
      // a regular file where the append wants the new date's directory makes it throw
      val blocker = Files.createFile(dir.resolve("cf_audit_events/event_date=2024-05-03"))
      val before = sidecarText(dir, "_stats_latest")
      an[Exception] should be thrownBy
        st.storeCFAuditEvents(onDriver(Seq(ev("g9", "2024-05-03T00:00:00Z"))))
      sidecarText(dir, "_stats_latest") shouldBe before
      Files.delete(blocker)
      st.getLatestCFEventTime().toInstant shouldBe latest
      st.events.filter("guid = 'g9'").count() shouldBe 0L
    }

    it("reads a lost _stats_latest from the table, and the next commit rewrites it") {
      val (st, dir) = newStoreAt()
      st.storeCFAuditEvents(onDriver(Seq(
        ev("g1", "2024-05-01T10:00:00Z"), ev("g2", "2024-05-02T08:30:00Z"))))
      Files.delete(dir.resolve("_stats_latest"))
      st.getLatestCFEventTime().toInstant shouldBe Instant.parse("2024-05-02T08:30:00Z")
      // the rebuilt value covers the table, not only the (older) batch
      st.storeCFAuditEvents(onDriver(Seq(ev("g3", "2024-05-01T11:00:00Z")))) shouldBe 1L
      Files.exists(dir.resolve("_stats_latest")) shouldBe true
      st.getLatestCFEventTime().toInstant shouldBe Instant.parse("2024-05-02T08:30:00Z")
      // an unreadable sidecar reads as lost
      Files.writeString(dir.resolve("_stats_latest"), "not a number")
      st.getLatestCFEventTime().toInstant shouldBe Instant.parse("2024-05-02T08:30:00Z")
    }

    it("expireBefore dropping the newest partition leaves the latest time to the table") {
      val (st, _) = newStoreAt()
      st.storeCFAuditEvents(onDriver(Seq(
        ev("g1", "2024-05-01T10:00:00Z"), ev("g2", "2024-05-02T08:30:00Z"))))
      st.expireBefore(java.sql.Date.valueOf("2024-05-03")) shouldBe 2L
      st.getLatestCFEventTime() shouldBe Schemas.epoch
      st.storeCFAuditEvents(onDriver(Seq(ev("g3", "2024-05-04T09:00:00Z")))) shouldBe 1L
      st.getLatestCFEventTime().toInstant shouldBe Instant.parse("2024-05-04T09:00:00Z")
    }

    it("re-reads a cursor table rewritten outside the store (INT96, two part files) on the next tick") {
      val (st, dir) = newStoreAt()
      st.storeCFAuditEvents(onDriver(Seq(ev("g1", "2024-05-01T10:00:00Z"),
        ev("g2", "2024-05-01T10:00:01Z"), ev("g3", "2024-05-01T10:00:02Z"))))
      st.updateShipperCursor("s", "2024-05-01T10:00:00Z", "g1")
      st.getUnshippedCFAuditEventsForShipper("s").select("guid").collect().map(_.getString(0)) shouldBe
        Array("g2", "g3")
      import spark.implicits._
      val key = "spark.sql.parquet.outputTimestampType"
      spark.conf.set(key, "INT96")
      try Seq(("s", Timestamp.from(Instant.parse("2024-05-01T10:00:01Z")), "g2"),
          ("other", Timestamp.from(Instant.parse("2024-05-01T10:00:02Z")), "g3"))
        .toDF("name", "updated_at", "shipped_id").repartition(2)
        .write.mode("overwrite").parquet(dir.resolve("shipper_cursors").toString)
      finally spark.conf.unset(key)
      val parts = Files.list(dir.resolve("shipper_cursors"))
      try parts.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")) shouldBe 2
      finally parts.close()
      st.getUnshippedCFAuditEventsForShipper("s").select("guid").collect().map(_.getString(0)) shouldBe
        Array("g3")
      // the next commit keeps the other shipper's row from the foreign files
      st.updateShipperCursor("s", "2024-05-01T10:00:02Z", "g3")
      st.cursors.orderBy("name").collect().map(r => (r.getString(0), r.getString(2))).toSeq shouldBe
        Seq(("other", "g3"), ("s", "g3"))
      st.getUnshippedCFAuditEventsForShipper("s").count() shouldBe 0L
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

  describe("StoreIO") {
    import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path => HPath}
    import graft.store.StoreIO

    it("renameOrAbort turns a rename that returns false into an error naming the step and paths") {
      val local = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
      val dir = Files.createTempDirectory("graft-rename")
      val live = Files.createDirectory(dir.resolve("live"))
      Files.write(live.resolve("data"), "kept".getBytes("UTF-8"))
      val from = new HPath(live.toUri)
      val to = new HPath(dir.resolve("moved").toUri)
      val refusing = new FilterFileSystem(local) {
        override def rename(src: HPath, dst: HPath): Boolean = false
      }
      val e = intercept[java.io.IOException](StoreIO.renameOrAbort(refusing, from, to, "test swap"))
      e.getMessage should include("test swap rename")
      e.getMessage should include("returned false")
      e.getMessage should include(live.toString)
      // a rename that succeeds moves the tree and returns quietly
      StoreIO.renameOrAbort(local, from, to, "test swap")
      Files.exists(live) shouldBe false
      new String(Files.readAllBytes(dir.resolve("moved/data")), "UTF-8") shouldBe "kept"
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

    it("returns a store failure as Left, so the daemon exits instead of losing the collector") {
      val p1 = "/v2/events?q=timestamp%3E1970-01-01T00%3A00%3A00Z&results-per-page=100"
      val transport = new FakeTransport(Map(
        p1 -> HttpReply(200, pageJson(Seq("g1"), Seq("2024-01-01T10:00:00Z"), ""))))
      val collector = new Collector(spark, new FailingWriteStore(newStore()),
        new CfAuditEventFetcher(transport, "", paginationWaitMillis = 0), new MetricsRegistry)
      collector.collectOnce().left.map(_.getMessage) shouldBe Left("disk full")
      collector.run(60000L, () => false).isLeft shouldBe true
    }

    it("fails the tick on an unparseable created_at and stores none of the page (ANSI cast)") {
      val p1 = "/v2/events?q=timestamp%3E1970-01-01T00%3A00%3A00Z&results-per-page=100"
      val transport = new FakeTransport(Map(p1 -> HttpReply(200,
        pageJson(Seq("g1", "g2"), Seq("2024-01-01T10:00:00Z", "not-a-timestamp"), ""))))
      val st = newStore()
      val collector = new Collector(spark, st,
        new CfAuditEventFetcher(transport, "", paginationWaitMillis = 0), new MetricsRegistry)
      val result = collector.collectOnce()
      result.isLeft shouldBe true
      result.swap.toOption.get.getMessage should include("CAST_INVALID_INPUT")
      st.events.count() shouldBe 0L
      st.getCFEventCount() shouldBe 0L
    }

    it("logs a failed page write as err-store-events at error level") {
      val p1 = "/v2/events?q=timestamp%3E1970-01-01T00%3A00%3A00Z&results-per-page=100"
      val transport = new FakeTransport(Map(
        p1 -> HttpReply(200, pageJson(Seq("g1"), Seq("2024-01-01T10:00:00Z"), ""))))
      val lines = mutable.ArrayBuffer.empty[String]
      val collector = new Collector(spark, new FailingWriteStore(newStore()),
        new CfAuditEventFetcher(transport, "", paginationWaitMillis = 0), new MetricsRegistry,
        logger = graft.logging.Lager.to("paasauditorspark", lines += _))
      collector.collectOnce().isLeft shouldBe true
      val logged = lines.toSeq.map(mapper.readTree(_))
      val messages = logged.map(_.get("message").asText())
      messages should not contain "paasauditorspark.cf-audit-event-collector.run.stored-all-events"
      val err = logged.find(_.get("message").asText() ==
        "paasauditorspark.cf-audit-event-collector.run.err-store-events").get
      err.get("log_level").asInt() shouldBe 2
      err.get("data").get("error").asText() should include("disk full")
    }

    it("types created_at and maps '' org/space to NULL at the page edge, keeping the raw string") {
      val collector = new Collector(spark, newStore(),
        new CfAuditEventFetcher(new FakeTransport(Map.empty), ""), new MetricsRegistry)
      val df = collector.pageToDf(Seq(
        CfWireEvent("g1", "2024-01-01T10:00:00Z", "t", "a", "at", "an", "au", "e", "et", "en", "", "sg", "{}"),
        CfWireEvent("g2", "2024-01-01T11:30:00+01:00", "t", "a", "at", "an", "au", "e", "et", "en", "og", "", "{}")))
      df.schema.fieldNames.toSeq shouldBe Schemas.cfAuditEvents.fieldNames.toSeq
      val rows = df.orderBy("guid")
        .select("created_at", "created_at_raw", "organization_guid", "space_guid", "id").collect()
      rows(0).getTimestamp(0).toInstant shouldBe Instant.parse("2024-01-01T10:00:00Z")
      rows(1).getTimestamp(0).toInstant shouldBe Instant.parse("2024-01-01T10:30:00Z")
      rows(1).getString(1) shouldBe "2024-01-01T11:30:00+01:00" // shipped as received
      rows(0).isNullAt(2) shouldBe true
      rows(0).getString(3) shouldBe "sg"
      rows(1).getString(2) shouldBe "og"
      rows(1).isNullAt(3) shouldBe true
      rows.map(_.getLong(4)).toSeq shouldBe Seq(0L, 0L) // ids are the store's to assign
    }

    it("clamps the resume point at epoch and honours the overlap setting") {
      val st = newStore()
      val f = new CfAuditEventFetcher(new FakeTransport(Map.empty), "")
      val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      val collector = new Collector(spark, st, f, new MetricsRegistry)
      st.storeCFAuditEvents(collector.pageToDf(Seq(mk("g1", "1970-01-01T00:00:02Z"))))
      collector.pullEventsSince() shouldBe Instant.EPOCH // 2 s − 5 s clamps at epoch
      st.storeCFAuditEvents(collector.pageToDf(Seq(mk("g2", "2024-01-01T10:00:00Z"))))
      new Collector(spark, st, f, new MetricsRegistry, overlapSeconds = 60L).pullEventsSince() shouldBe
        Instant.parse("2024-01-01T09:59:00Z")
    }

    it("resumes after a restart from max(created_at) − 5 s without re-storing or losing events") {
      val dir = Files.createTempDirectory("graft-store-restart").toString
      val st = new ParquetEventStore(spark, dir); st.init()
      val p1 = "/v2/events?q=timestamp%3E1970-01-01T00%3A00%3A00Z&results-per-page=100"
      val first = new Collector(spark, st, new CfAuditEventFetcher(new FakeTransport(Map(
        p1 -> HttpReply(200, pageJson(Seq("g1", "g2"),
          Seq("2024-01-01T10:00:00Z", "2024-01-01T10:00:10Z"), "")))), "", paginationWaitMillis = 0),
        new MetricsRegistry)
      first.collectOnce() shouldBe Right(2L)
      // a new process: new store and collector objects over the same warehouse;
      // g2 is re-fetched by the overlap and g3 arrived while it was down
      val restarted = new ParquetEventStore(spark, dir); restarted.init()
      val p2 = "/v2/events?q=timestamp%3E2024-01-01T10%3A00%3A05Z&results-per-page=100"
      val transport = new FakeTransport(Map(
        p2 -> HttpReply(200, pageJson(Seq("g2", "g3"),
          Seq("2024-01-01T10:00:10Z", "2024-01-01T10:00:20Z"), ""))))
      new Collector(spark, restarted,
        new CfAuditEventFetcher(transport, "", paginationWaitMillis = 0), new MetricsRegistry)
        .collectOnce() shouldBe Right(2L)
      transport.requests.toSeq shouldBe Seq(p2)
      val rows = restarted.events.orderBy("id").select("id", "guid").collect()
      rows.map(_.getString(1)).toSeq shouldBe Seq("g1", "g2", "g3")
      rows.map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L)
    }

    it("keeps the pages stored before a mid-feed fetch error, and the next run drops no page") {
      val p1 = "/v2/events?q=timestamp%3E1970-01-01T00%3A00%3A00Z&results-per-page=100"
      val p2 = "/v2/events?page=2" // not served: the fetch fails
      val st = newStore()
      val reg = new MetricsRegistry
      val failing = new Collector(spark, st, new CfAuditEventFetcher(new FakeTransport(Map(
        p1 -> HttpReply(200, pageJson(Seq("g1"), Seq("2024-01-01T10:00:00Z"), p2)))),
        "", paginationWaitMillis = 0), reg)
      failing.collectOnce().left.map(_.getMessage) shouldBe Left(s"connection refused: $p2")
      reg.counterValue(Metrics.CollectorErrors) shouldBe 1.0
      st.events.select("guid").collect().map(_.getString(0)).toSeq shouldBe Seq("g1")
      val resume = "/v2/events?q=timestamp%3E2024-01-01T09%3A59%3A55Z&results-per-page=100"
      val healed = new Collector(spark, st, new CfAuditEventFetcher(new FakeTransport(Map(
        resume -> HttpReply(200, pageJson(Seq("g1", "g2"),
          Seq("2024-01-01T10:00:00Z", "2024-01-01T10:00:30Z"), "")))), "", paginationWaitMillis = 0),
        new MetricsRegistry)
      healed.collectOnce() shouldBe Right(2L)
      st.events.orderBy("id").select("guid").collect().map(_.getString(0)).toSeq shouldBe Seq("g1", "g2")
    }

    it("authenticates every page GET via UAA when credentials are configured, as Main wires it") {
      val api = "https://cf.example.com"
      val p1 = "/v2/events?q=timestamp%3E1970-01-01T00%3A00%3A00Z&results-per-page=100"
      val p2 = "/v2/events?page=2"
      val gets = mutable.ArrayBuffer.empty[(String, Map[String, String])]
      val tokenPosts = new AtomicInteger(0)
      val cf = new HttpTransport {
        def get(url: String, headers: Map[String, String]): HttpReply = {
          gets += ((url, headers))
          if (url == api + "/v2/info") HttpReply(200, """{"token_endpoint":"https://uaa.example.com"}""")
          else if (!headers.get("Authorization").contains("Bearer tok-1"))
            HttpReply(401, """{"error":"invalid_token"}""")
          else if (url == api + p1) HttpReply(200, pageJson(Seq("g1"), Seq("2024-01-01T10:00:00Z"), p2))
          else HttpReply(200, pageJson(Seq("g2"), Seq("2024-01-01T10:00:01Z"), ""))
        }
        def post(url: String, body: String, headers: Map[String, String]): HttpReply = {
          tokenPosts.incrementAndGet()
          HttpReply(200, """{"access_token":"tok-1","token_type":"bearer","expires_in":43199}""")
        }
      }
      val auth = new UaaAuthenticator(cf, CfAuthConfig(api, clientId = "auditor", clientSecret = "s3cret"))
      val st = newStore()
      val collector = new Collector(spark, st,
        new CfAuditEventFetcher(new AuthenticatedTransport(cf, auth), api, paginationWaitMillis = 0),
        new MetricsRegistry)
      collector.collectOnce() shouldBe Right(2L)
      st.events.orderBy("id").select("guid").collect().map(_.getString(0)).toSeq shouldBe Seq("g1", "g2")
      tokenPosts.get() shouldBe 1
      val pageGets = gets.toSeq.filter(_._1.contains("/v2/events"))
      pageGets.map(_._1) shouldBe Seq(api + p1, api + p2)
      pageGets.foreach(_._2("Authorization") shouldBe "Bearer tok-1")
    }

    it("run ticks on its schedule until stop flips, then returns Right") {
      val p1 = "/v2/events?q=timestamp%3E1970-01-01T00%3A00%3A00Z&results-per-page=100"
      val p2 = "/v2/events?q=timestamp%3E2024-01-01T09%3A59%3A55Z&results-per-page=100"
      val body = pageJson(Seq("g1"), Seq("2024-01-01T10:00:00Z"), "")
      val transport = new FakeTransport(Map(p1 -> HttpReply(200, body), p2 -> HttpReply(200, body)))
      val st = newStore()
      val reg = new MetricsRegistry
      val collector = new Collector(spark, st,
        new CfAuditEventFetcher(transport, "", paginationWaitMillis = 0), reg)
      collector.run(0L, () => transport.requests.size >= 2) shouldBe Right(())
      transport.requests.toSeq shouldBe Seq(p1, p2) // second tick resumes from max − 5 s
      st.events.count() shouldBe 1L
      reg.counterValue(Metrics.CollectorEventsCollected) shouldBe 2.0 // fetched, as collector.go counts
    }

    it("stops between pages once the stop flag flips, keeping the pages already stored") {
      val p1 = "/v2/events?q=timestamp%3E1970-01-01T00%3A00%3A00Z&results-per-page=100"
      val p2 = "/v2/events?page=2"
      val p3 = "/v2/events?page=3"
      val transport = new FakeTransport(Map(
        p1 -> HttpReply(200, pageJson(Seq("g1", "g2"), Seq("2024-01-01T10:00:00Z", "2024-01-01T11:00:00Z"), p2)),
        p2 -> HttpReply(200, pageJson(Seq("g3"), Seq("2024-01-01T12:00:00Z"), p3)),
        p3 -> HttpReply(200, pageJson(Seq("g4"), Seq("2024-01-01T13:00:00Z"), ""))))
      val st = newStore()
      val writes = new AtomicInteger(0)
      val counting = new DelegatingStore(st) {
        override def storeCFAuditEvents(batch: DataFrame): Long = {
          writes.incrementAndGet()
          super.storeCFAuditEvents(batch)
        }
      }
      val collector = new Collector(spark, counting,
        new CfAuditEventFetcher(transport, "", paginationWaitMillis = 0), new MetricsRegistry)
      collector.collectOnce(() => writes.get() >= 1) shouldBe Right(2L)
      writes.get() shouldBe 1
      st.events.select("guid").collect().map(_.getString(0)).sorted.toSeq shouldBe Seq("g1", "g2")
    }

    it("run hands its stop flag to the tick: a flip mid-feed ends the loop after the page in hand") {
      val p1 = "/v2/events?q=timestamp%3E1970-01-01T00%3A00%3A00Z&results-per-page=100"
      val p2 = "/v2/events?page=2"
      val p3 = "/v2/events?page=3"
      val transport = new FakeTransport(Map(
        p1 -> HttpReply(200, pageJson(Seq("g1"), Seq("2024-01-01T10:00:00Z"), p2)),
        p2 -> HttpReply(200, pageJson(Seq("g2"), Seq("2024-01-01T11:00:00Z"), p3)),
        p3 -> HttpReply(200, pageJson(Seq("g3"), Seq("2024-01-01T12:00:00Z"), ""))))
      val st = newStore()
      val writes = new AtomicInteger(0)
      val counting = new DelegatingStore(st) {
        override def storeCFAuditEvents(batch: DataFrame): Long = {
          writes.incrementAndGet()
          super.storeCFAuditEvents(batch)
        }
      }
      val collector = new Collector(spark, counting,
        new CfAuditEventFetcher(transport, "", paginationWaitMillis = 0), new MetricsRegistry)
      val t0 = System.nanoTime()
      collector.run(3600000L, () => writes.get() >= 1) shouldBe Right(())
      (System.nanoTime() - t0) should be < 60L * 1000000000L // not the 1 h schedule
      writes.get() shouldBe 1
      st.events.select("guid").collect().map(_.getString(0)).toSeq shouldBe Seq("g1")
    }
  }

  describe("collector and shipper ticks (the daemon's thread loops)") {
    it("store every guid once and deliver every event in order as the feed grows") {
      val feed = Seq( // in (created_at, guid) order; released over three ticks
        Seq(("g1", "2024-01-01T10:00:00Z"), ("g2", "2024-01-01T10:00:00Z"),
          ("g3", "2024-01-01T10:00:01Z")),
        Seq(("g4", "2024-01-01T10:00:03Z"), ("g5", "2024-01-01T10:00:03Z")),
        Seq(("g6", "2024-01-01T10:01:00Z")))
      var released = Seq.empty[(String, String)]
      // serves the released events after the request's timestamp>T, newest
      // first; the collector's 5 s overlap re-fetches stored events
      val cf = new HttpTransport {
        def get(url: String, headers: Map[String, String]): HttpReply = {
          val t = "timestamp%3E([^&]+)".r.findFirstMatchIn(url)
            .map(m => Instant.parse(java.net.URLDecoder.decode(m.group(1), "UTF-8"))).get
          val page = released.filter { case (_, at) => Instant.parse(at).isAfter(t) }.reverse
          HttpReply(200, pageJson(page.map(_._1), page.map(_._2), ""))
        }
        def post(url: String, body: String, headers: Map[String, String]): HttpReply =
          throw new UnsupportedOperationException
      }
      val st = newStore()
      val reg = new MetricsRegistry
      val collector = new Collector(spark, st,
        new CfAuditEventFetcher(cf, "", paginationWaitMillis = 0), reg)
      val hec = new FakePoster(Nil)
      val shipper = new SplunkShipper(st,
        new SplunkHecClient(hec, "https://hec", "KEY", sleep = _ => ()), "test-env", reg)
      for (events <- feed) {
        released ++= events
        collector.collectOnce().isRight shouldBe true
        shipper.shipOnce()._2 shouldBe 0L
      }
      val all = feed.flatten.map(_._1)
      st.events.select("guid").collect().map(_.getString(0)).sorted shouldBe all
      val received = hec.lines.map(l => "\"guid\":\"(g\\d+)\"".r.findFirstMatchIn(l).get.group(1))
      received.distinct shouldBe all // first receipts in (created_at, guid) order
      val cursor = st.cursors.collect().head
      cursor.getAs[String]("shipped_id") shouldBe "g6"
      cursor.getAs[Timestamp]("updated_at").toInstant shouldBe Instant.parse("2024-01-01T10:01:00Z")
    }
  }

  describe("loop pacing and the collector-to-shipper wake") {
    val p1 = "/v2/events?q=timestamp%3E1970-01-01T00%3A00%3A00Z&results-per-page=100"
    val p2 = "/v2/events?q=timestamp%3E2024-01-01T09%3A59%3A55Z&results-per-page=100"
    def feed = new FakeTransport(Map(
      p1 -> HttpReply(200, pageJson(Seq("g1"), Seq("2024-01-01T10:00:00Z"), "")),
      p2 -> HttpReply(200, pageJson(Seq("g1"), Seq("2024-01-01T10:00:00Z"), ""))))
    def waitUntil(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!cond && System.nanoTime() < deadline) Thread.sleep(10L)
      withClue(what) { cond shouldBe true }
    }

    it("Pacer returns at the deadline, on stop, or on a wake; wakes coalesce") {
      val pacer = new graft.streaming.Pacer
      def timed(body: => Unit): Long = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1000000L }
      timed(pacer.await(300L, () => false)) should be >= 300L
      timed(pacer.await(60000L, () => true)) should be < 1000L
      pacer.wake(); pacer.wake() // two wakes before a wait are one
      timed(pacer.await(60000L, () => false)) should be < 1000L
      timed(pacer.await(300L, () => false)) should be >= 300L
      val waker = new Thread(() => { Thread.sleep(200L); pacer.wake() })
      waker.start()
      timed(pacer.await(60000L, () => false)) should be < 10000L
      waker.join()
    }

    it("a page that stores new rows wakes the shipper: it reaches HEC in under 2 s on a 60 s schedule") {
      val st = newStore()
      @volatile var receivedAt = 0L
      val hec = new HttpTransport {
        def get(url: String, headers: Map[String, String]): HttpReply = throw new UnsupportedOperationException
        def post(url: String, body: String, headers: Map[String, String]): HttpReply = {
          if (receivedAt == 0L) receivedAt = System.nanoTime()
          HttpReply(200, "ok")
        }
      }
      val reg = new MetricsRegistry
      val shipper = new SplunkShipper(st, new SplunkHecClient(hec, "https://hec", "KEY", sleep = _ => ()),
        "test-env", reg)
      @volatile var wokenAt = 0L
      val collector = new Collector(spark, st, new CfAuditEventFetcher(feed, "", paginationWaitMillis = 0),
        new MetricsRegistry, onStored = () => { wokenAt = System.nanoTime(); shipper.wake() })
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val loop = new Thread(() => shipper.run(60000L, () => stop.get()))
      loop.start()
      try {
        waitUntil("the shipper's first tick")(reg.counterValue(Metrics.ShipperShipDuration) > 0.0)
        collector.collectOnce() shouldBe Right(1L)
        wokenAt should be > 0L
        waitUntil("g1 at HEC")(receivedAt > 0L)
        (receivedAt - wokenAt) should be < 2000L * 1000000L
      } finally { stop.set(true); loop.join(10000L) }
      loop.isAlive shouldBe false
    }

    it("a page that only re-fetches the overlap does not wake the shipper") {
      val st = newStore()
      val wakes = new AtomicInteger(0)
      val collector = new Collector(spark, st, new CfAuditEventFetcher(feed, "", paginationWaitMillis = 0),
        new MetricsRegistry, onStored = () => wakes.incrementAndGet())
      collector.collectOnce() shouldBe Right(1L)
      wakes.get() shouldBe 1
      collector.collectOnce() shouldBe Right(1L) // fetched again, stored 0
      wakes.get() shouldBe 1
      st.events.count() shouldBe 1L
    }

    it("stop ends every loop within the drain deadline, whatever its schedule") {
      val st = newStore()
      val counts = new AtomicInteger(0)
      val counting = new DelegatingStore(st) {
        override def getCFEventCount(): Long = { counts.incrementAndGet(); super.getCFEventCount() }
      }
      val reg = new MetricsRegistry
      val collector = new Collector(spark, counting, new CfAuditEventFetcher(feed, "", paginationWaitMillis = 0), reg)
      val shipper = new SplunkShipper(counting,
        new SplunkHecClient(new FakePoster(Nil), "https://hec", "KEY", sleep = _ => ()), "test-env", reg)
      val informer = new Informer(counting, reg)
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val loops = Seq[() => Unit](
        () => collector.run(60000L, () => stop.get()),
        () => shipper.run(60000L, () => stop.get()),
        () => informer.run(60000L, () => stop.get())).map(body => new Thread(() => body()))
      loops.foreach(_.start())
      try waitUntil("one tick of each loop")(reg.counterValue(Metrics.CollectorCollectDuration) > 0.0 &&
        reg.counterValue(Metrics.ShipperShipDuration) > 0.0 && counts.get() > 0)
      finally stop.set(true)
      val deadline = System.currentTimeMillis() + 5000L // Main's drain deadline
      loops.foreach(t => t.join(math.max(1L, deadline - System.currentTimeMillis())))
      loops.map(_.isAlive) shouldBe Seq(false, false, false)
    }
  }

  describe("Main on SIGTERM (ST7, main.go:124-135)") {
    /** A CF stub on loopback that answers `/v2/events` with `reply(query)`. */
    def cfStub(reply: String => String): (com.sun.net.httpserver.HttpServer, java.util.concurrent.ExecutorService) = {
      val pool = java.util.concurrent.Executors.newCachedThreadPool()
      val cf = com.sun.net.httpserver.HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      cf.setExecutor(pool)
      cf.createContext("/v2/events", (ex: com.sun.net.httpserver.HttpExchange) => {
        val bytes = reply(ex.getRequestURI.getRawQuery).getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
      cf.start()
      (cf, pool)
    }
    /** `Main` in a child JVM (this JVM's classpath and JVM options, a
      * smaller heap, `local[1]`) over `dir/warehouse`, polling `cf`, its
      * output in `dir/daemon.log`. */
    def startMain(dir: Path, cf: com.sun.net.httpserver.HttpServer): Process = {
      val metricsPort = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      val cmd = Seq(new java.io.File(System.getProperty("java.home"), "bin/java").getPath) ++ jvmArgs ++
        Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), "graft.app.Main")
      val pb = new ProcessBuilder(cmd.asJava).directory(dir.toFile)
        .redirectErrorStream(true).redirectOutput(dir.resolve("daemon.log").toFile)
      Seq("DATABASE_URL", "CF_CLIENT_ID", "CF_CLIENT_SECRET", "CF_USERNAME", "CF_PASSWORD",
        "SPLUNK_API_KEY", "SPLUNK_HEC_ENDPOINT_URL").foreach(pb.environment().remove)
      pb.environment().putAll(Map(
        "WAREHOUSE_DIR" -> s"$dir/warehouse",
        "CF_API_ADDRESS" -> s"http://127.0.0.1:${cf.getAddress.getPort}",
        "FETCHER_PAGINATION_WAIT_TIME" -> "0",
        "COLLECTOR_SCHEDULE" -> "1h",
        "PORT" -> metricsPort.toString,
        "SPARK_MASTER" -> "local[1]",
        "SPARK_GRAFT_CPUS" -> "1").asJava)
      pb.start()
    }
    def logOf(dir: Path): String = new String(Files.readAllBytes(dir.resolve("daemon.log")), "UTF-8")
    /** Waits, at most 180 s, for the child's log to contain `marker`. */
    def awaitLog(proc: Process, dir: Path, marker: String): Unit = {
      val deadline = System.nanoTime() + 180L * 1000000000L
      while (proc.isAlive && !logOf(dir).contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(50L)
      withClue(logOf(dir)) { logOf(dir) should include (marker) }
    }
    def quietExit(lines: Seq[String]): Unit = {
      lines.filter(l => l.contains("fatal:") || l.contains("SparkContext has been shutdown")) shouldBe empty
      lines.filter(l => l.startsWith("{") && l.contains(".err-")) shouldBe empty
      lines.filter(_.startsWith("Exception in thread")) shouldBe empty // no loop thread died
    }

    it("drains the collector before Spark stops: no fatal exit, no error line, page 1 stored once") {
      // A CF stub that holds page 2 until after the SIGTERM, as a slow API
      // would: the collector is then mid-tick while the JVM shuts down.
      val release = new java.util.concurrent.CountDownLatch(1)
      val (cf, pool) = cfStub { q =>
        if (q.contains("page=2")) {
          release.await(60, java.util.concurrent.TimeUnit.SECONDS)
          pageJson(Seq("g3"), Seq("2024-01-01T10:00:02Z"), "")
        } else pageJson(Seq("g1", "g2"), Seq("2024-01-01T10:00:00Z", "2024-01-01T10:00:01Z"),
          "/v2/events?page=2")
      }
      val dir = Files.createTempDirectory("graft-main")
      val proc = startMain(dir, cf)
      try {
        awaitLog(proc, dir, "cf-audit-event-collector.run.stored-events")
        proc.destroy() // SIGTERM
        Thread.sleep(1000L) // long enough for Spark's own hook to stop an undrained context
        release.countDown()
        proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      } finally {
        release.countDown()
        proc.destroyForcibly()
        cf.stop(0)
        pool.shutdownNow()
      }
      val lines = logOf(dir).split("\n").toSeq
      withClue(logOf(dir)) {
        quietExit(lines)
        lines.exists(_.contains("cf-audit-event-collector.run.end")) shouldBe true
        // A fresh warehouse's pages need no scan, so Spark never started:
        // not for the pages, and not at shutdown either.
        lines.filter(_.contains("Running Spark version")) shouldBe empty
      }
      val guids = new ParquetEventStore(spark, s"$dir/warehouse").events
        .select("guid").collect().map(_.getString(0)).toSeq
      guids.filter(Set("g1", "g2")).sorted shouldBe Seq("g1", "g2")
      guids.distinct.size shouldBe guids.size
    }

    it("a restart stopped while its first page builds Spark exits with no fatal exit and no error line") {
      // An existing warehouse: the restart's first page re-fetches g2, which
      // its bloom sidecar holds, so the dedup probe scans and builds Spark.
      val dir = Files.createTempDirectory("graft-main-restart")
      val before = new ParquetEventStore(spark, s"$dir/warehouse")
      before.init()
      before.storeCFAuditEventPage(EventPage(spark, Seq(
        CfWireEvent("g1", "2024-01-01T10:00:00Z", "t", "a", "at", "an", "au", "e", "et", "en", "", "sg", "{}"),
        CfWireEvent("g2", "2024-01-01T10:00:01Z", "t", "a", "at", "an", "au", "e", "et", "en", "", "sg", "{}")))) shouldBe 2L
      val (cf, pool) = cfStub(_ => pageJson(Seq("g2", "g3"), Seq("2024-01-01T10:00:01Z", "2024-01-01T10:00:02Z"), ""))
      val proc = startMain(dir, cf)
      try {
        // SparkContext's first line: the build is under way inside the page
        awaitLog(proc, dir, "Running Spark version")
        proc.destroy() // SIGTERM
        proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      } finally {
        proc.destroyForcibly()
        cf.stop(0)
        pool.shutdownNow()
      }
      val lines = logOf(dir).split("\n").toSeq
      withClue(logOf(dir)) {
        quietExit(lines)
        lines.filter(_.contains("stored-events")) shouldBe empty // the page ended as stopped
      }
      val guids = new ParquetEventStore(spark, s"$dir/warehouse").events
        .select("guid").collect().map(_.getString(0)).toSeq
      guids.sorted shouldBe Seq("g1", "g2")
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
    it("treats any 2xx as success without retrying (shipper.go:216-223)") {
      val poster = new FakePoster(Seq(201, 204))
      val hec = new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ())
      hec.post("{}").map(_.status) shouldBe Right(201)
      hec.post("{}").map(_.status) shouldBe Right(204)
      poster.posts.size shouldBe 2
    }
    it("backs off from 100 ms, doubling to a 2 s cap, plus under 500 ms of jitter") {
      val sleeps = mutable.ArrayBuffer.empty[Long]
      val poster = new FakePoster(Seq.fill(7)(503))
      val hec = new SplunkHecClient(poster, "https://hec", "KEY", maxRetries = 6, sleep = sleeps += _)
      hec.post("{}").left.map(_.getMessage) shouldBe Left("received status code 503 with body ok")
      poster.posts.size shouldBe 7
      val base = Seq(100L, 200L, 400L, 800L, 1600L, 2000L)
      sleeps.size shouldBe base.size
      sleeps.zip(base).foreach { case (slept, b) => slept should (be >= b and be < b + 500L) }
    }
    it("backs off with no jitter when jitterMillis is 0") {
      val sleeps = mutable.ArrayBuffer.empty[Long]
      val poster = new FakePoster(Seq(503, 503, 200))
      val hec = new SplunkHecClient(poster, "https://hec", "KEY", jitterMillis = 0L, sleep = sleeps += _)
      hec.post("{}").isRight shouldBe true
      poster.posts.size shouldBe 3
      sleeps shouldBe Seq(100L, 200L)
    }
    it("retries transport errors and returns the last one") {
      val attempts = new AtomicInteger(0)
      val down = new HttpTransport {
        def get(url: String, headers: Map[String, String]): HttpReply = throw new UnsupportedOperationException
        def post(url: String, body: String, headers: Map[String, String]): HttpReply =
          throw new java.io.IOException(s"connection reset ${attempts.incrementAndGet()}")
      }
      val hec = new SplunkHecClient(down, "https://hec", "KEY", sleep = _ => ())
      hec.post("{}").left.map(_.getMessage) shouldBe Left("connection reset 4")
      attempts.get() shouldBe 4
    }
  }

  describe("SplunkShipper (ST4/ST5)") {
    /** Metadata that makes each HEC line longer than half the request cap: one event per request. */
    val halfCap = s"""{"pad":"${"x" * (SplunkShipper.MaxPostBytes / 2)}"}"""

    def seed(st: ParquetEventStore, metadata: String = "{}"): Unit = seedAt(st,
      Seq(("g1", "2024-01-01T10:00:00Z"), ("g2", "2024-01-01T11:00:00Z"), ("g3", "2024-01-01T12:00:00Z")),
      metadata)

    def seedAt(st: ParquetEventStore, events: Seq[(String, String)], metadata: String = "{}"): Unit = {
      import spark.implicits._
      val batch = events.toDF("guid", "created_at_raw")
        .withColumn("created_at", F.to_timestamp(F.col("created_at_raw")))
        .withColumn("event_type", F.lit("t")).withColumn("actor", F.lit("a"))
        .withColumn("actor_type", F.lit("t")).withColumn("actor_name", F.lit("n"))
        .withColumn("actor_username", F.lit("u")).withColumn("actee", F.lit("e"))
        .withColumn("actee_type", F.lit("t")).withColumn("actee_name", F.lit("n"))
        .withColumn("organization_guid", F.lit(null).cast("string"))
        .withColumn("space_guid", F.lit(null).cast("string"))
        .withColumn("metadata", F.lit(metadata))
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
      poster.posts.size shouldBe 1
      postedGuids(poster) shouldBe Seq("g1", "g2", "g3")
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
      val st = newStore(); seed(st, halfCap) // one event per request
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

    def guidOf(line: String): String = mapper.readTree(line).get("event").get("guid").asText()

    def postedGuids(poster: FakePoster): Seq[String] = poster.lines.map(guidOf)

    it("ships nothing and commits no cursor when the store is empty") {
      val st = newStore()
      val poster = new FakePoster(Nil)
      val reg = new MetricsRegistry
      val shipper = new SplunkShipper(st,
        new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()), "test-env", reg)
      shipper.shipOnce() shouldBe ((0L, 0L))
      poster.posts shouldBe empty
      st.cursors.count() shouldBe 0L
      reg.counterValue(Metrics.ShipperEventsShipped) shouldBe 0.0
    }

    it("posts the reference's event shape: raw created_at, type, '' for NULL org/space, metadata object, no id") {
      val st = newStore(); seed(st)
      val poster = new FakePoster(Nil)
      val shipper = new SplunkShipper(st,
        new SplunkHecClient(poster, "https://hec/services/collector", "KEY", sleep = _ => ()),
        "test-env", new MetricsRegistry)
      shipper.shipOnce() shouldBe ((3L, 0L))
      val (url, _, headers) = poster.posts.head
      url shouldBe "https://hec/services/collector"
      headers("Content-Type") shouldBe "application/json"
      val env = mapper.readTree(poster.lines.head)
      env.fieldNames().asScala.toSeq shouldBe Seq("sourcetype", "source", "event")
      val ev = env.get("event")
      ev.fieldNames().asScala.toSeq shouldBe Seq("guid", "created_at", "type", "actor", "actor_type",
        "actor_name", "actor_username", "actee", "actee_type", "actee_name", "organization_guid",
        "space_guid", "metadata")
      ev.get("created_at").asText() shouldBe "2024-01-01T10:00:00Z"
      ev.get("type").asText() shouldBe "t"
      ev.get("organization_guid").asText() shouldBe ""
      ev.get("space_guid").asText() shouldBe ""
      ev.get("metadata").isObject shouldBe true
    }

    /** The payload expression the shipper evaluated through Catalyst
      * before it built lines with Jackson: the oracle for those lines. */
    def catalystPayloads(df: DataFrame): Seq[String] = df.select(F.to_json(F.struct(
      F.lit("cf-audit-event").as("sourcetype"), F.lit("test-env").as("source"),
      F.struct(
        F.col("guid"), F.col("created_at_raw").as("created_at"), F.col("event_type").as("type"),
        F.col("actor"), F.col("actor_type"), F.col("actor_name"), F.col("actor_username"),
        F.col("actee"), F.col("actee_type"), F.col("actee_name"),
        Schemas.nullToEmpty(F.col("organization_guid")).as("organization_guid"),
        Schemas.nullToEmpty(F.col("space_guid")).as("space_guid"),
        F.parse_json(F.coalesce(F.col("metadata"), F.lit("null"))).as("metadata")
      ).as("event")))).collect().map(_.getString(0)).toSeq

    def withMetadata(r: Row, metadata: String): Row = Row.fromSeq(r.toSeq.updated(14, metadata))

    it("builds every HEC line as the Catalyst to_json/parse_json payload, as a JSON tree, on one line (property)") {
      import org.scalacheck.{Gen, Prop, Test}
      import org.scalacheck.rng.Seed
      import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
      import com.fasterxml.jackson.databind.node.{NullNode, ObjectNode}
      val exact = new ObjectMapper().enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
      def withoutMetadata(line: JsonNode): JsonNode = {
        val c = line.deepCopy[ObjectNode]()
        c.get("event").asInstanceOf[ObjectNode].remove("metadata")
        c
      }
      // Spark's variant to_json decodes non-ASCII text with the JVM's default
      // charset: on a JVM whose default is not UTF-8 (JDK 17 under a POSIX
      // locale) the Catalyst line carries U+FFFD for each byte of it. There
      // the oracle holds for the rest of the line, and the metadata is
      // checked against the source text instead.
      val utf8Jvm = java.nio.charset.Charset.defaultCharset == java.nio.charset.StandardCharsets.UTF_8
      // numbers compare by value (1.50 = 1.5, 1e3 = 1000.0); everything else exactly
      val byValue: java.util.Comparator[JsonNode] = (a, b) =>
        if (a.isNumber && b.isNumber) a.decimalValue.compareTo(b.decimalValue) else if (a == b) 0 else 1
      val genString = Gen.oneOf("\"plain\"", "\"\"", "\"\\u00e9\\ud83d\\ude00\\u540d\"", "\"ü😀名\"",
        "\"quote \\\" backslash \\\\ tab \\t newline \\n\"")
      // integers up to 38 digits: parse_json keeps them exact (a decimal), as Jackson does
      val genBigInt = Gen.chooseNum(18, 37).flatMap(n => Gen.listOfN(n, Gen.numChar)).map("9" + _.mkString)
      val genNumber = Gen.oneOf(Gen.oneOf("1.50", "1e3", "-0", "2.5E-7", "-17", "0.1"), genBigInt,
        Gen.zip(Gen.chooseNum(0L, 99999999L), Gen.chooseNum(0, 999999)).map { case (a, b) => s"-$a.$b" })
      val genKey = Gen.oneOf("\"a\"", "\"b\"", "\"k\\u00e9\"", "\"ü\"", "\"request\"", "\"x y\"")
      val genSep = Gen.oneOf(",", ", ", ",\n  ")
      def genValue(depth: Int): Gen[String] =
        if (depth == 0) Gen.oneOf(genString, genNumber, Gen.oneOf("true", "false", "null"))
        else Gen.frequency(
          (2, genValue(0)),
          (1, Gen.zip(Gen.chooseNum(0, 4).flatMap(n => Gen.listOfN(n, genValue(depth - 1))), genSep)
            .map { case (vs, sep) => vs.mkString("[", sep, "]") }),
          (3, genObject(depth)))
      def genObject(depth: Int): Gen[String] =
        Gen.zip(Gen.chooseNum(0, 4).flatMap(n => Gen.listOfN(n, Gen.zip(genKey, genValue(depth - 1)))), genSep)
          .map { case (kvs, sep) => kvs.distinctBy(_._1).map { case (k, v) => s"$k:$v" }.mkString("{", sep, "}") }
      val genMetadata = Gen.frequency((1, Gen.const(null)), (6, genObject(3)), (1, genValue(2)))
      val genRow = Gen.zip(genMetadata, Gen.option(Gen.oneOf("og", "örg")), Gen.option(Gen.const("sg")),
        Gen.oneOf("an", "Zoë", "名前"))
      val genCase = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, genRow))

      val (st, _) = newStoreAt()
      val poster = new FakePoster(Nil)
      val shipper = new SplunkShipper(st, new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()),
        "test-env", new MetricsRegistry)
      val t0 = Instant.parse("2024-05-01T10:00:00Z")
      var n = 0
      val prop = Prop.forAllNoShrink(genCase) { evs =>
        val rows = evs.map { case (metadata, org, space, actorName) =>
          n += 1
          val at = t0.plusSeconds(n.toLong).toString
          Row(0L, f"g$n%05d", Timestamp.from(Instant.parse(at)), at, "audit.app.update", "a", "user",
            actorName, "au", "e", "app", "en", org.orNull, space.orNull, metadata)
        }
        poster.posts.clear()
        st.storeCFAuditEvents(onDriver(rows))
        val tick = shipper.shipOnce()
        val lines = poster.lines
        val want = catalystPayloads(st.events.filter(F.col("guid").isin(rows.map(_.getString(1)): _*))
          .orderBy("created_at", "guid"))
        val metas = evs.map(_._1)
        def source(m: String): JsonNode = if (m == null) NullNode.instance else exact.readTree(m)
        def asciiOnly(m: String): Boolean = source(m).toString.forall(_ < 128)
        val labels = Set(
          "catalyst-oracle-whole-line" -> metas.exists(m => utf8Jvm || asciiOnly(m)),
          "null-metadata" -> metas.contains(null),
          "null-org" -> evs.exists(_._2.isEmpty), "null-space" -> evs.exists(_._3.isEmpty),
          "nested" -> metas.exists(m => m != null && m.drop(1).exists(c => c == '{' || c == '[')),
          "scalar-metadata" -> metas.exists(m => m != null && !m.startsWith("{")),
          "1.50" -> metas.exists(m => m != null && m.contains("1.50")),
          "1e3" -> metas.exists(m => m != null && m.contains("1e3")),
          "big-int" -> metas.exists(m => m != null && m.matches("(?s).*9[0-9]{18}.*")),
          "unicode-escape" -> metas.exists(m => m != null && m.contains("\\u")),
          "newline" -> metas.exists(m => m != null && m.contains("\n"))
        ).collect { case (l, true) => l }
        val ok = tick == ((rows.size.toLong, 0L)) && lines.size == want.size &&
          lines.zip(want).zip(metas).forall { case ((l, w), m) =>
            val (jackson, catalyst) = (exact.readTree(l), exact.readTree(w))
            !l.contains('\n') &&
              withoutMetadata(jackson).equals(byValue, withoutMetadata(catalyst)) &&
              jackson.get("event").get("metadata").equals(byValue, source(m)) &&
              (!(utf8Jvm || asciiOnly(m)) || jackson.equals(byValue, catalyst))
          }
        Prop.collect[Set[String]](labels)(Prop(ok) :| s"tick $tick\njackson  ${lines.mkString("\n")}\ncatalyst ${want.mkString("\n")}")
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(40).withWorkers(1)
        .withInitialSeed(Seed(20241020L)), prop)
      withClue(org.scalacheck.util.Pretty.pretty(result)) { result.passed shouldBe true }
      result.freqMap.getCounts.flatMap(_._1).flatMap { case l: Set[_] => l }.toSet shouldBe
        Set("catalyst-oracle-whole-line", "null-metadata", "null-org", "null-space", "nested", "scalar-metadata",
          "1.50", "1e3", "big-int", "unicode-escape", "newline")
    }

    it("fails the tick with nothing posted when a row's metadata is not JSON, as parse_json did") {
      Seq("""{"a":1""", "", "  ", """{"a":1,"a":2}""", "not json").foreach { bad =>
        withClue(s"metadata [$bad]: ") {
          val (st, _) = newStoreAt()
          val rows = Seq(ev("g1", "2024-05-01T10:00:00Z"), withMetadata(ev("g2", "2024-05-01T10:00:01Z"), bad))
          st.storeCFAuditEvents(onDriver(rows)) shouldBe 2L
          an[Exception] should be thrownBy catalystPayloads(st.events)
          val poster = new FakePoster(Nil)
          val reg = new MetricsRegistry
          new SplunkShipper(st, new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()),
            "test-env", reg).shipOnce() shouldBe ((0L, 1L))
          poster.posts shouldBe empty
          st.cursors.count() shouldBe 0L
          reg.counterValue(Metrics.ShipperErrors) shouldBe 1.0
        }
      }
      // text after the first JSON value is not read, by either
      val (st, _) = newStoreAt()
      st.storeCFAuditEvents(onDriver(Seq(withMetadata(ev("g1", "2024-05-01T10:00:00Z"), """{"a":1} {"b":"""))))
      val poster = new FakePoster(Nil)
      new SplunkShipper(st, new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()),
        "test-env", new MetricsRegistry).shipOnce() shouldBe ((1L, 0L))
      mapper.readTree(poster.lines.head) shouldBe mapper.readTree(catalystPayloads(st.events).head)
    }

    it("re-ships the cursor second's other events on the next tick (boundary at-least-once, R6)") {
      val st = newStore()
      seedAt(st, Seq(("g1", "2024-01-01T10:00:00Z"), ("g2", "2024-01-01T10:00:00Z")))
      val poster = new FakePoster(Nil)
      val shipper = new SplunkShipper(st,
        new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()), "test-env", new MetricsRegistry)
      shipper.shipOnce() shouldBe ((2L, 0L))
      st.cursors.collect()(0).getString(2) shouldBe "g2"
      shipper.shipOnce() shouldBe ((1L, 0L)) // same second, not the cursor's own guid
      postedGuids(poster) shouldBe Seq("g1", "g2", "g1")
      st.cursors.collect()(0).getString(2) shouldBe "g1"
    }

    it("keeps one cursor per shipper name") {
      val st = newStore(); seed(st)
      def shipperNamed(name: String, poster: FakePoster) = new SplunkShipper(st,
        new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()), "test-env",
        new MetricsRegistry, shipperName = name)
      val (pa, pb) = (new FakePoster(Nil), new FakePoster(Nil))
      shipperNamed("a", pa).shipOnce() shouldBe ((3L, 0L))
      shipperNamed("b", pb).shipOnce() shouldBe ((3L, 0L)) // a's cursor does not move b's
      postedGuids(pb) shouldBe Seq("g1", "g2", "g3")
      st.cursors.orderBy("name").collect().map(r => (r.getString(0), r.getString(2))).toSeq shouldBe
        Seq(("a", "g3"), ("b", "g3"))
      shipperNamed("a", pa).shipOnce() shouldBe ((0L, 0L))
    }

    it("absorbs a failed unshipped read as a failed tick and logs it (ST5)") {
      val st = newStore(); seed(st)
      val broken = new DelegatingStore(st) {
        override def getUnshippedCFAuditEventsForShipper(shipperName: String): DataFrame =
          throw new RuntimeException("scan failed")
      }
      val poster = new FakePoster(Nil)
      val reg = new MetricsRegistry
      val lines = mutable.ArrayBuffer.empty[String]
      val shipper = new SplunkShipper(broken,
        new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()), "test-env", reg,
        logger = graft.logging.Lager.to("paasauditorspark", lines += _))
      shipper.shipOnce() shouldBe ((0L, 1L))
      poster.posts shouldBe empty
      reg.counterValue(Metrics.ShipperErrors) shouldBe 1.0
      val err = lines.toSeq.map(mapper.readTree(_)).find(_.get("message").asText() ==
        "paasauditorspark.cf-audit-events-to-splunk-shipper.run.err-get-unshipped-cf-audit-events-for-shipper").get
      err.get("log_level").asInt() shouldBe 2
      err.get("data").get("error").asText() should include("scan failed")
    }

    it("logs a failed cursor commit under its own action and re-ships the batch next tick (ST5)") {
      val st = newStore(); seed(st)
      var commitFails = true
      val flaky = new DelegatingStore(st) {
        override def updateShipperCursor(shipperName: String, updatedAt: String, shippedId: String): Unit =
          if (commitFails) throw new RuntimeException("cursor swap failed")
          else super.updateShipperCursor(shipperName, updatedAt, shippedId)
      }
      val poster = new FakePoster(Nil)
      val reg = new MetricsRegistry
      val lines = mutable.ArrayBuffer.empty[String]
      val shipper = new SplunkShipper(flaky,
        new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()), "test-env", reg,
        logger = graft.logging.Lager.to("paasauditorspark", lines += _))
      shipper.shipOnce() shouldBe ((0L, 1L))
      postedGuids(poster) shouldBe Seq("g1", "g2", "g3")
      reg.counterValue(Metrics.ShipperErrors) shouldBe 1.0
      reg.counterValue(Metrics.ShipperEventsShipped) shouldBe 0.0
      st.cursors.count() shouldBe 0L
      val logged = lines.toSeq.map(mapper.readTree(_))
      val errs = logged.filter(_.get("log_level").asInt() == 2)
      errs.map(_.get("message").asText()) shouldBe
        Seq("paasauditorspark.cf-audit-events-to-splunk-shipper.run.err-update-shipper-cursor")
      errs.head.get("data").get("error").asText() should include("cursor swap failed")
      commitFails = false
      shipper.shipOnce() shouldBe ((3L, 0L))
      postedGuids(poster) shouldBe Seq("g1", "g2", "g3", "g1", "g2", "g3")
      st.cursors.collect()(0).getString(2) shouldBe "g3"
      reg.counterValue(Metrics.ShipperEventsShipped) shouldBe 3.0
    }

    it("run keeps ticking after a failed tick and ships everything once HEC heals (ST5)") {
      val st = newStore(); seed(st, halfCap) // one event per request
      val poster = new FakePoster(Seq(500, 500, 500, 500)) // first tick: g1 fails every attempt
      val reg = new MetricsRegistry
      val shipper = new SplunkShipper(st,
        new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()), "test-env", reg)
      // a shipper that skips the failed g1 never reaches 7 posts: stop at a deadline too
      val deadline = System.nanoTime() + 20L * 1000000000L
      shipper.run(0L, () => poster.posts.size >= 7 || System.nanoTime() > deadline)
      postedGuids(poster) shouldBe Seq("g1", "g1", "g1", "g1", "g1", "g2", "g3")
      reg.counterValue(Metrics.ShipperErrors) shouldBe 1.0
      reg.counterValue(Metrics.ShipperEventsShipped) shouldBe 3.0
      st.cursors.collect()(0).getString(2) shouldBe "g3"
    }

    /** Rows g01, g02, … one second apart whose HEC lines are `sizes` UTF-8
      * bytes long: a probe row measures the part of a line the metadata
      * padding does not. */
    def rowsOfLineBytes(sizes: Seq[Int]): Seq[Row] = {
      def padded(i: Int, pad: Int) =
        withMetadata(ev(f"g$i%02d", f"2024-05-01T10:00:$i%02dZ"), s"""{"p":"${"x" * pad}"}""")
      val (probe, _) = newStoreAt()
      probe.storeCFAuditEvents(onDriver(Seq(padded(0, 0))))
      val poster = new FakePoster(Nil)
      new SplunkShipper(probe, new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()),
        "test-env", new MetricsRegistry).shipOnce() shouldBe ((1L, 0L))
      val fixed = poster.lines.head.length
      sizes.zipWithIndex.map { case (n, i) => padded(i + 1, n - fixed) }
    }

    it("joins consecutive lines into bodies of at most MaxPostBytes, in order; an over-cap line goes alone") {
      val cap = SplunkShipper.MaxPostBytes
      // g01+g02 fill a body exactly; g03+g04 are one byte over; g05 is over the cap by itself
      val sizes = Seq(cap / 2, cap - 1 - cap / 2, cap / 2, cap / 2, cap + 10, 1000, 1000)
      val (st, _) = newStoreAt()
      st.storeCFAuditEvents(onDriver(rowsOfLineBytes(sizes))) shouldBe 7L
      val poster = new FakePoster(Nil)
      val reg = new MetricsRegistry
      new SplunkShipper(st, new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()),
        "test-env", reg).shipOnce() shouldBe ((7L, 0L))
      val bodies = poster.posts.map(_._2).toSeq
      bodies.map(_.split("\n").toSeq.map(guidOf)) shouldBe
        Seq(Seq("g01", "g02"), Seq("g03"), Seq("g04"), Seq("g05"), Seq("g06", "g07"))
      bodies.map(_.getBytes("UTF-8").length) shouldBe Seq(cap, cap / 2, cap / 2, cap + 10, 2001)
      bodies.foreach { b =>
        b should not be empty
        if (b.contains('\n')) b.getBytes("UTF-8").length should be <= cap
      }
      poster.lines.map(_.getBytes("UTF-8").length) shouldBe sizes
      poster.lines.map(mapper.readTree) shouldBe
        catalystPayloads(st.events.orderBy("created_at", "guid")).map(mapper.readTree)
      st.cursors.collect()(0).getString(2) shouldBe "g07"
      reg.counterValue(Metrics.ShipperEventsShipped) shouldBe 7.0
    }

    it("a failed request k commits request k-1's last row; the next tick starts at request k's first row") {
      val (st, _) = newStoreAt()
      st.storeCFAuditEvents(onDriver(rowsOfLineBytes(Seq.fill(9)(300000)))) shouldBe 9L // 3 per request
      val poster = new FakePoster(Seq(200, 500, 500, 500, 500)) // request 2 fails every attempt
      val reg = new MetricsRegistry
      new SplunkShipper(st, new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()),
        "test-env", reg).shipOnce() shouldBe ((3L, 1L))
      poster.posts.map(_._2.split("\n").toSeq.map(guidOf)).distinct.toSeq shouldBe
        Seq(Seq("g01", "g02", "g03"), Seq("g04", "g05", "g06"))
      st.cursors.collect()(0).getString(2) shouldBe "g03"
      reg.counterValue(Metrics.ShipperErrors) shouldBe 1.0
      reg.counterValue(Metrics.ShipperEventsShipped) shouldBe 3.0
      val poster2 = new FakePoster(Nil)
      new SplunkShipper(st, new SplunkHecClient(poster2, "https://hec", "KEY", sleep = _ => ()),
        "test-env", reg).shipOnce() shouldBe ((6L, 0L))
      poster2.posts.size shouldBe 2
      guidOf(poster2.posts.head._2.split("\n").head) shouldBe "g04"
      postedGuids(poster2) shouldBe (4 to 9).map(i => f"g$i%02d")
      st.cursors.collect()(0).getString(2) shouldBe "g09"
    }

    it("ships a 300-row tick through the JDK transport to a loopback HEC that splits bodies on newlines") {
      val (st, _) = newStoreAt()
      val t0 = Instant.parse("2024-05-01T10:00:00Z")
      val guids = (0 until 300).map(i => f"g$i%03d")
      st.storeCFAuditEvents(onDriver(guids.zipWithIndex.map { case (g, i) =>
        ev(g, t0.plusSeconds(i.toLong).toString) })) shouldBe 300L
      val received = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val requests = new AtomicInteger(0)
      val hec = com.sun.net.httpserver.HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      hec.createContext("/services/collector", (ex: com.sun.net.httpserver.HttpExchange) => {
        requests.incrementAndGet()
        new String(ex.getRequestBody.readAllBytes(), "UTF-8").split("\n").filter(_.nonEmpty)
          .foreach(l => received.add(guidOf(l)))
        val ok = """{"text":"Success","code":0}""".getBytes("UTF-8")
        ex.sendResponseHeaders(200, ok.length.toLong)
        ex.getResponseBody.write(ok)
        ex.close()
      })
      hec.start()
      try {
        val url = s"http://127.0.0.1:${hec.getAddress.getPort}/services/collector"
        new SplunkShipper(st, new SplunkHecClient(new JdkHttpTransport(java.time.Duration.ofSeconds(10)), url, "KEY"),
          "test-env", new MetricsRegistry).shipOnce() shouldBe ((300L, 0L))
      } finally hec.stop(0)
      received.asScala.toSeq shouldBe guids
      requests.get() shouldBe 1
      st.cursors.collect()(0).getString(2) shouldBe "g299"
    }
  }

  describe("Config durations (Go time.ParseDuration, main_config.go:55-58)") {
    import graft.app.Config.parseDurationMillis
    it("parses single- and multi-unit values to whole milliseconds") {
      Seq("250ms" -> 250L, "90s" -> 90000L, "2m" -> 120000L, "1m30s" -> 90000L,
        "1.5s" -> 1500L, "1h" -> 3600000L).foreach { case (v, ms) =>
        withClue(v) { parseDurationMillis("SHIPPER_SCHEDULE", v, 15000L) shouldBe ms }
      }
    }

    it("keeps the default for an empty value") {
      parseDurationMillis("COLLECTOR_SCHEDULE", "", 120000L) shouldBe 120000L
    }

    it("rejects malformed values with a message naming the variable") {
      Seq("garbage", "15", "1.5", "s", "1x").foreach { v =>
        val e = intercept[IllegalArgumentException](parseDurationMillis("INFORMER_SCHEDULE", v, 15000L))
        e.getMessage should include("INFORMER_SCHEDULE")
        e.getMessage should include(s"'$v'")
      }
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

    it("reads the stored count and the latest created_at into the gauges") {
      val st = newStore()
      val collector = new Collector(spark, st,
        new CfAuditEventFetcher(new FakeTransport(Map.empty), ""), new MetricsRegistry)
      val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      st.storeCFAuditEvents(collector.pageToDf(Seq(
        mk("g1", "2024-01-01T10:00:00Z"), mk("g2", "2024-01-02T08:30:00Z"))))
      val reg = new MetricsRegistry
      new Informer(st, reg).informOnce()
      reg.gaugeValue(Metrics.InformerEventsTotal) shouldBe 2.0
      reg.gaugeValue(Metrics.InformerLatestEventTimestamp) shouldBe
        Instant.parse("2024-01-02T08:30:00Z").getEpochSecond.toDouble
    }

    it("sets both gauges to 0 and logs each error when the store fails (informer.go:42,48)") {
      val broken = new DelegatingStore(newStore()) {
        override def getCFEventCount(): Long = throw new RuntimeException("no stats")
        override def getLatestCFEventTime(): Timestamp = throw new RuntimeException("no table")
      }
      val reg = new MetricsRegistry
      reg.setGauge(Metrics.InformerEventsTotal, 5.0)
      reg.setGauge(Metrics.InformerLatestEventTimestamp, 5.0)
      val lines = mutable.ArrayBuffer.empty[String]
      new Informer(broken, reg, logger = graft.logging.Lager.to("paasauditorspark", lines += _)).informOnce()
      reg.gaugeValue(Metrics.InformerEventsTotal) shouldBe 0.0
      reg.gaugeValue(Metrics.InformerLatestEventTimestamp) shouldBe 0.0
      val logged = lines.toSeq.map(mapper.readTree(_))
      logged.map(_.get("message").asText()) shouldBe Seq(
        "paasauditorspark.informer.run.err-event-db-get-cf-event-count",
        "paasauditorspark.informer.run.err-event-db-get-latest-cf-event-time")
      logged.foreach(_.get("log_level").asInt() shouldBe 2)
    }
  }

  // `ParquetEventStore.storeCFAuditEvents` has one write path: the batch is
  // collected (at most `MaxBatchRows` valid rows) and deduped, numbered and
  // bloomed on the driver. An in-memory model of the store's rules is its
  // reference, and a collector page must cost one Spark job.

  // pageToDf's output schema is nullable; so is this one.
  private val nullableEvents = StructType(Schemas.cfAuditEvents.map(_.copy(nullable = true)))

  private def ev(guid: String, at: String, eventType: String = "t",
                 org: String = "og", space: String = "sg"): Row = {
    val ts = scala.util.Try(Timestamp.from(Instant.parse(at))).toOption.orNull
    Row(0L, guid, ts, at, eventType, "a", "at", "an", "au", "e", "et", "en", org, space, "{}")
  }

  private def onDriver(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, nullableEvents)

  // One slice: the collected row order is the batch order.
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

  /** Every regular file under `dir` with its bytes. */
  private def treeBytes(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  /** Spark jobs `body` launches on this thread. */
  private def jobsOf(body: => Unit): Int = {
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

  /** Query executions (a `QueryExecutionListener`: any action on this
    * session) and Spark jobs (this thread's) `body` runs. */
  private def plansAndJobsOf(body: => Unit): (Int, Int) = {
    val plans = new AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        plans.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    try { val jobs = jobsOf(body); (plans.get, jobs) } // jobsOf drains the listener bus
    finally spark.listenerManager.unregister(listener)
  }

  /** Whether an unshipped read was answered from the store's tail. */
  private def fromTail(df: DataFrame): Boolean = df.queryExecution.logical.isInstanceOf[LocalRelation]

  describe("store write path") {
    /** Over seeded page sequences, `write` (one page into a store) stores
      * what an in-memory model of the store's rules stores. */
    def storesLikeTheModel(write: (ParquetEventStore, Collector, Seq[CfWireEvent]) => Long): Unit = {
      import org.scalacheck.{Gen, Prop, Test}
      import org.scalacheck.rng.Seed
      // The store's fixed bloom sizing.
      val (bloomItems, bloomBits) = (1L << 20, 1L << 23)
      // A pool guid always carries the same created_at, so a later page
      // holding it is an overlap re-fetch. 23:59:00 + 0..119 s spans two dates.
      val base = Instant.parse("2024-05-01T23:59:00Z")
      val poolAt = (i: Int) => base.plusSeconds((i * 37L) % 120).toString
      val utfPair = Seq("xＡ", "x😀") // UTF-16 order differs from UTF-8's
      val utfAt = base.plusSeconds(30).toString
      sealed trait Step
      final case class Page(events: Seq[(String, String)]) extends Step // (guid, raw created_at)
      final case class DropBloom(pick: Int) extends Step
      case object Restart extends Step // a new store over the warehouse: its tail is unknown
      val genEvent: Gen[Seq[(String, String)]] = Gen.frequency(
        (10, Gen.chooseNum(0, 29).map(i => Seq((s"g$i", poolAt(i))))),
        // a pool guid re-delivered a day later: deduped only while its
        // stored date is inside the page's scope
        (1, Gen.chooseNum(0, 29).map(i => Seq((s"g$i", Instant.parse(poolAt(i)).plusSeconds(86400).toString)))),
        (1, Gen.const(utfPair.map(_ -> utfAt))),
        (1, Gen.oneOf("1969-12-31T23:59:59Z", "1970-01-01T00:00:00Z", null)
          .flatMap(at => Gen.chooseNum(0, 29).map(i => Seq((s"g$i", at))))))
      val genPage: Gen[Step] = Gen.frequency(
        (12, Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, genEvent)).map(es => Page(es.flatten))),
        (1, Gen.const(Page(Nil))),
        (1, Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0, 29)))
          .map(is => Page(is.map(i => (s"g$i", if (i % 2 == 0) null else "1970-01-01T00:00:00Z"))))),
        (1, Gen.chooseNum(0, 29).map(i => Page(Seq((s"g$i", poolAt(i)), (s"bad$i", "not-a-time"))))),
        (2, Gen.chooseNum(0, 9).map(DropBloom(_))),
        (1, Gen.const(Restart)))
      val genSteps = Gen.chooseNum(4, 10).flatMap(n => Gen.listOfN(n, genPage))

      /** Java's String order is UTF-16; the store orders guids by UTF-8 bytes. */
      val utf8Order: Ordering[String] = (a, b) =>
        java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      def micros(at: String): Option[Long] =
        Option(at).map(Instant.parse).map(i => i.getEpochSecond * 1000000L + i.getNano / 1000)
      def dateOf(at: String): String = at.take(10)

      val prop = Prop.forAllNoShrink(genSteps) { steps =>
        val (first, dir) = newStoreAt()
        var st = first
        val collector = new Collector(spark, st,
          new CfAuditEventFetcher(new FakeTransport(Map.empty), ""), new MetricsRegistry)
        // model: stored rows in id order, as (guid, raw created_at, event_type)
        val model = mutable.ArrayBuffer.empty[(String, String, String)]
        val lostBlooms = mutable.Set.empty[String] // dates whose sidecar was deleted
        val tailRows = mutable.Set.empty[(String, String)] // (guid, date) stored by the current instance
        val labels = mutable.Set.empty[String]
        val failures = mutable.ArrayBuffer.empty[String]
        def check(what: String, ok: Boolean): Unit = if (!ok) failures += what
        steps.zipWithIndex.foreach {
          case (Restart, _) =>
            st = new ParquetEventStore(spark, dir.toString)
            st.init()
            tailRows.clear()
          case (DropBloom(pick), _) =>
            val present = model.map(r => dateOf(r._2)).distinct.sorted.filterNot(lostBlooms)
            if (present.nonEmpty) {
              val d = present(pick % present.size)
              Files.delete(dir.resolve(s"_bloom_guid/$d"))
              lostBlooms += d
            }
          case (Page(evs), p) =>
            val wire = evs.zipWithIndex.map { case ((g, at), k) =>
              CfWireEvent(g, at, s"t$p-$k", "a", "at", "an", "au", "e", "et", "en", "", "sg", "{}")
            }
            val before = model.toVector
            if (evs.exists(_._2 == "not-a-time")) {
              // The ANSI cast refuses the whole page before any write.
              labels += "unparseable"
              val err = scala.util.Try(write(st, collector, wire)).failed.toOption
              check(s"page $p: unparseable page not refused", err.exists(_.getMessage.contains("CAST_INVALID_INPUT")))
            } else {
              evs.foreach { case (_, at) =>
                if (at == null) labels += "null"
                else if (at.startsWith("1969")) labels += "pre-epoch"
                else if (at.startsWith("1970")) labels += "epoch"
              }
              val valid = wire.filter(w => micros(w.created_at).exists(_ > 0L)) // after the epoch
              if (evs.isEmpty) labels += "empty"
              else if (valid.isEmpty) labels += "all-invalid"
              val firsts = valid.distinctBy(_.guid)
              val minDate = if (firsts.isEmpty) "" else firsts.map(w => dateOf(w.created_at)).min
              val inScope = before.filter(r => dateOf(r._2) >= minDate).map(_._1).toSet
              val kept = firsts.filterNot(w => inScope(w.guid))
                .sortWith { (a, b) =>
                  val t = micros(a.created_at).get.compare(micros(b.created_at).get)
                  if (t != 0) t < 0 else utf8Order.lt(a.guid, b.guid)
                }
              if (firsts.exists(w => inScope(w.guid))) {
                labels += "refetch"
                // a dedup hit is served from the tail, or by the probe
                val inTail = (g: String) => tailRows.exists(r => r._1 == g && r._2 >= minDate)
                if (firsts.exists(w => inScope(w.guid) && inTail(w.guid))) labels += "dedup-tail"
                if (firsts.exists(w => inScope(w.guid) && !inTail(w.guid))) labels += "dedup-probe"
                if (firsts.map(w => dateOf(w.created_at)).distinct.size > 1) labels += "refetch-span-dates"
              }
              if (firsts.exists(w => before.exists(_._1 == w.guid) && !inScope(w.guid))) labels += "out-of-scope"
              if (kept.exists(k => valid.count(_.guid == k.guid) > 1)) labels += "in-page-dup"
              if (utfPair.forall(g => kept.exists(_.guid == g))) labels += "utf-tie"
              val keptDates = kept.map(w => dateOf(w.created_at)).toSet
              if (firsts.nonEmpty && lostBlooms.exists(_ >= minDate)) labels += "probe-lost-bloom"
              if (keptDates.exists(lostBlooms)) labels += "rebuild-lost-bloom"
              lostBlooms --= keptDates
              model ++= kept.map(w => (w.guid, w.created_at, w.event_type))
              tailRows ++= kept.map(w => (w.guid, dateOf(w.created_at)))
              val n = write(st, collector, wire)
              check(s"page $p: stored $n, model ${kept.size}", n == kept.size.toLong)
            }
            // every stored row, in id order
            val expected = model.zipWithIndex.map { case ((g, at, t), i) =>
              Seq[Any](i + 1L, g, Timestamp.from(Instant.parse(at)), at, t,
                "a", "at", "an", "au", "e", "et", "en", null, "sg", "{}")
            }
            check(s"page $p: stored rows", storedRows(st) == expected.toSeq)
            check(s"page $p: count", st.getCFEventCount() == model.size.toLong)
            check(s"page $p: _stats_maxid", sidecarText(dir, "_stats_maxid") == model.size.toString)
            val latest = model.map(r => Instant.parse(r._2)).maxOption.getOrElse(Instant.EPOCH)
            check(s"page $p: latest", st.getLatestCFEventTime().toInstant == latest)
            // each sidecar is the bloom aggregate over its partition's guids
            import spark.implicits._
            val blooms = model.toSeq.map(r => (dateOf(r._2), r._1)).toDF("d", "guid")
              .groupBy("d").agg(graft.functions.BloomSupport.bloomAgg(F.col("guid"), bloomItems, bloomBits))
              .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
            val onDisk = bloomFiles(dir).filter { case (name, _) => !name.startsWith(".") }
            check(s"page $p: bloom sidecars", onDisk == blooms.filter { case (d, _) => !lostBlooms(d) })
            check(s"page $p: temporary files left", !treeBytes(dir).keys.exists(_.endsWith(".tmp")))
        }
        Prop.collect[Set[String]](labels.toSet)(Prop(failures.isEmpty) :| failures.mkString("; "))
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(30).withWorkers(1)
        .withInitialSeed(Seed(20241019L)), prop)
      withClue(org.scalacheck.util.Pretty.pretty(result)) { result.passed shouldBe true }
      result.freqMap.getCounts.flatMap(_._1).flatMap { case l: Set[_] => l }.toSet shouldBe
        Set("refetch", "refetch-span-dates", "out-of-scope", "in-page-dup", "utf-tie", "null",
          "pre-epoch", "epoch", "unparseable", "empty", "all-invalid", "probe-lost-bloom",
          "rebuild-lost-bloom", "dedup-tail", "dedup-probe")
    }

    it("stores what an in-memory model of the store's rules stores, page after page (property)") {
      storesLikeTheModel((st, collector, wire) => st.storeCFAuditEvents(collector.pageToDf(wire)))
    }

    it("stores what the model stores through the collector's driver path, page after page (property)") {
      storesLikeTheModel((st, _, wire) => st.storeCFAuditEventPage(EventPage(spark, wire)))
    }

    it("stores a parallelized (non-local) batch like its local twin") {
      val (drv, dirA) = newStoreAt()
      val (par, dirB) = newStoreAt()
      val batch = Seq(ev("g1", "2024-03-01T10:00:00Z", eventType = "first"),
        ev("g2", "2024-03-01T11:00:00Z", org = null), ev("g1", "2024-03-01T10:00:00Z", eventType = "second"))
      distributed(batch).queryExecution.optimizedPlan should not be a[LocalRelation]
      drv.storeCFAuditEvents(onDriver(batch)) shouldBe 2L
      par.storeCFAuditEvents(distributed(batch)) shouldBe 2L
      storedRows(par) shouldBe storedRows(drv)
      Seq("_stats_maxid", "_stats_count", "_stats_latest").foreach { s =>
        sidecarText(dirB, s) shouldBe sidecarText(dirA, s)
      }
      bloomFiles(dirB) shouldBe bloomFiles(dirA)
    }

    it("refuses a batch of more than MaxBatchRows valid rows, naming the cap, and writes nothing") {
      val (st, dir) = newStoreAt()
      st.storeCFAuditEvents(onDriver(Seq(ev("g1", "2024-03-01T10:00:00Z")))) shouldBe 1L
      val before = treeBytes(dir)
      val cap = ParquetEventStore.MaxBatchRows
      // invalid rows do not count: cap valid rows plus one pre-epoch row is accepted below
      val big = (0 to cap).map(i => ev(s"b$i", Instant.parse("2024-03-02T00:00:00Z").plusSeconds(i).toString))
      val e = the[IllegalArgumentException] thrownBy st.storeCFAuditEvents(onDriver(big))
      e.getMessage should include(cap.toString)
      treeBytes(dir) shouldBe before
      st.storeCFAuditEvents(onDriver(big.tail :+ ev("pre", "1969-12-31T23:59:59Z"))) shouldBe cap.toLong
      st.getCFEventCount() shouldBe cap + 1L
    }

    it("replaces _stats_count whole while a reader reads it beside the commits") {
      val (st, dir) = newStoreAt()
      val stats = dir.resolve("_stats_count")
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      // each distinct read in order (a repeat of the previous one is only counted)
      val reads = mutable.ArrayBuffer.empty[String]
      var total = 0L
      val reader = new Thread(() => {
        while (!done.get()) {
          val s = scala.util.Try(new String(Files.readAllBytes(stats), "UTF-8")).getOrElse("<absent>")
          total += 1
          if (reads.lastOption.forall(_ != s)) reads += s
        }
      })
      reader.start()
      try (1 to 20).foreach { b =>
        st.storeCFAuditEvents(onDriver((1 to 3).map(i => ev(s"g$b-$i", f"2024-03-01T10:$b%02d:0${i}Z"))))
      } finally { done.set(true); reader.join() }
      total should be > 20L
      val bad = reads.filterNot(_.matches("[0-9]+"))
      withClue(s"reads not a whole count, of $total: ${bad.distinct.take(5)}") { bad shouldBe empty }
      val counts = reads.map(_.toLong).toSeq
      counts shouldBe counts.sorted // non-decreasing
      sidecarText(dir, "_stats_count") shouldBe "60"
      treeBytes(dir).keys.filter(_.endsWith(".tmp")) shouldBe empty
    }

    it("appends each date's rows as one driver-written parquet file that Spark reads back, footer schema included") {
      import org.apache.hadoop.fs.{Path => HPath}
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.schema.LogicalTypeAnnotation
      import org.apache.spark.sql.types.{DataType, TimestampType}
      val (st, dir) = newStoreAt()
      val micros = "2024-05-01T10:00:00.123456Z"
      val rows = Seq(
        Row(0L, "g1", Timestamp.from(Instant.parse(micros)), micros, "t", "Zoë", "at", "名前", "au",
          "e", "et", "en", null, null, null),
        Row(0L, "g2", Timestamp.from(Instant.parse("2024-05-01T11:00:00Z")), "2024-05-01T11:00:00Z", "t",
          "a", "at", "an", "au", "e", "et", "en", "og", "sg", """{"k":"ü😀","n":[1,{"x":null}]}"""),
        Row(0L, "g3", Timestamp.from(Instant.parse("2024-05-02T00:00:00.000001Z")),
          "2024-05-02T00:00:00.000001Z", "t", "a", "at", "an", "au", "e", "et", "en", "og", null, "{}"))
      st.storeCFAuditEvents(onDriver(rows)) shouldBe 3L
      val expected = rows.zipWithIndex.map { case (r, i) => r.toSeq.updated(0, i + 1L) }
      storedRows(st) shouldBe expected
      // one file per date, in its directory, named as Spark names a data file
      val files = treeBytes(dir.resolve("cf_audit_events")).keys.filter(_.endsWith(".parquet")).toSeq.sorted
      files.map(_.takeWhile(_ != '/')) shouldBe Seq("event_date=2024-05-01", "event_date=2024-05-02")
      all(files.map(_.dropWhile(_ != '/').drop(1))) should fullyMatch regex
        s"part-[0-9a-f-]{36}\\.c000${DriverParquet.codec(spark).getExtension.replace(".", "\\.")}\\.parquet"
      // partition discovery reads event_date from the directory name
      spark.read.parquet(dir.resolve("cf_audit_events").toString).orderBy("id")
        .select("event_date").collect().map(_.getDate(0).toString).toSeq shouldBe
        Seq("2024-05-01", "2024-05-01", "2024-05-02")
      // the footer schema alone: the 15 event columns, no event_date
      val day1 = dir.resolve("cf_audit_events").resolve(files.head)
      val inferred = spark.read.parquet(day1.toString)
      inferred.schema.fieldNames.toSeq shouldBe Schemas.cfAuditEvents.fieldNames.toSeq
      inferred.schema("created_at").dataType shouldBe TimestampType
      inferred.orderBy("id").collect().map(_.toSeq).toSeq shouldBe expected.take(2)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(day1.toUri),
        spark.sparkContext.hadoopConfiguration))
      val meta = try reader.getFooter.getFileMetaData finally reader.close()
      val kv = meta.getKeyValueMetaData.asScala
      DataType.fromJson(kv("org.apache.spark.sql.parquet.row.metadata")) shouldBe
        StructType(Schemas.cfAuditEvents.map(_.copy(nullable = true)))
      kv("org.apache.spark.version") shouldBe spark.version.takeWhile(c => c.isDigit || c == '.')
      meta.getSchema.getType(meta.getSchema.getFieldIndex("created_at")).getLogicalTypeAnnotation shouldBe
        LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS)
      meta.getSchema.containsField("event_date") shouldBe false
    }

    it("a crash before an append's rename leaves only a hidden file: reads skip it and init deletes it") {
      import org.apache.hadoop.fs.{Path => HPath}
      val (st, dir) = newStoreAt()
      st.storeCFAuditEvents(onDriver(Seq(ev("g1", "2024-05-01T10:00:00Z")))) shouldBe 1L
      // what an append leaves when the process dies between its file write and its rename
      val hidden = dir.resolve("cf_audit_events/event_date=2024-05-01")
        .resolve(s".${DriverParquet.fileName(spark)}.tmp")
      DriverParquet.write(spark, new HPath(hidden.toUri), Schemas.cfAuditEvents,
        Seq(ev("g2", "2024-05-01T10:00:01Z")))
      Files.exists(hidden) shouldBe true
      st.events.select("guid").collect().map(_.getString(0)).toSeq shouldBe Seq("g1")
      spark.read.parquet(dir.resolve("cf_audit_events").toString).count() shouldBe 1L
      val restarted = new ParquetEventStore(spark, dir.toString)
      restarted.init()
      treeBytes(dir).keys.filter(_.contains(".tmp")) shouldBe empty
      // the lost row is stored when it is fetched again
      restarted.storeCFAuditEvents(onDriver(Seq(ev("g2", "2024-05-01T10:00:01Z")))) shouldBe 1L
      restarted.events.select("guid").collect().map(_.getString(0)).sorted.toSeq shouldBe Seq("g1", "g2")
    }
  }

  describe("driver path job count") {
    it("costs no job for a fresh-date page and at most one for a re-fetch") {
      val (st, _) = newStoreAt()
      val collector = new Collector(spark, st,
        new CfAuditEventFetcher(new FakeTransport(Map.empty), ""), new MetricsRegistry)
      val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
        "e", "et", "en", "", "sg", "{}")
      val page1 = (0 until 100).map(i => mk(s"p1-$i", f"2024-05-01T10:${i % 60}%02d:00Z"))
      jobsOf(st.storeCFAuditEvents(collector.pageToDf(page1))) shouldBe 0
      // the next page re-fetches part of the first one (the 5 s overlap)
      val page2 = page1.takeRight(10) ++
        (0 until 90).map(i => mk(s"p2-$i", f"2024-05-01T11:${i % 60}%02d:00Z"))
      var stored = 0L
      jobsOf { stored = st.storeCFAuditEvents(collector.pageToDf(page2)) } should be <= 1
      stored shouldBe 90L
      jobsOf(st.storeCFAuditEvents(collector.pageToDf(
        Seq(mk("p3", "2024-05-02T00:00:01Z"))))) shouldBe 0
      st.getCFEventCount() shouldBe 191L
    }

    it("a warm store reads the latest time, plans unshipped, commits the cursor and informs with no job") {
      val (writer, dir) = newStoreAt()
      writer.storeCFAuditEvents(onDriver(Seq(
        ev("g1", "2024-05-01T10:00:00Z"), ev("g2", "2024-05-01T10:00:01Z"))))
      // a restarted store: its tail is unknown until it appends, so the shipper scans
      val st = new ParquetEventStore(spark, dir.toString)
      // a store loads the cursor table through Spark once; then it is warm
      jobsOf(st.getUnshippedCFAuditEventsForShipper("s")) should be >= 1
      jobsOf(st.getUnshippedCFAuditEventsForShipper("s")) shouldBe 0
      jobsOf(st.getLatestCFEventTime()) shouldBe 0
      jobsOf(st.updateShipperCursor("s", "2024-05-01T10:00:00Z", "g1")) shouldBe 0
      jobsOf(st.getUnshippedCFAuditEventsForShipper("s")) shouldBe 0
      jobsOf(new Informer(st, new MetricsRegistry).informOnce()) shouldBe 0
      val poster = new FakePoster(Nil)
      val shipper = new SplunkShipper(st, new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()),
        "test-env", new MetricsRegistry, shipperName = "s")
      var shipped = (0L, 0L)
      jobsOf { shipped = shipper.shipOnce() } shouldBe 1 // the unshipped scan; the commit runs none
      shipped shouldBe ((1L, 0L))
      jobsOf { shipped = shipper.shipOnce() } shouldBe 1
      shipped shouldBe ((0L, 0L))
      st.cursors.collect().map(r => (r.getString(0), r.getString(2))).toSeq shouldBe Seq(("s", "g2"))
    }

    it("the daemon's literal-cursor unshipped rows, in order, equal AuditQueries.unshipped (property)") {
      import org.scalacheck.{Gen, Prop, Test}
      import org.scalacheck.rng.Seed
      // 23:59:30 + up to 60 s spans two date partitions; whole seconds tie
      val base = Instant.parse("2024-05-01T23:59:30Z")
      val at = (secs: Long) => base.plusSeconds(secs).toString
      val genSmall = for {
        n <- Gen.chooseNum(0, 40)
        evs <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0, 60).map(i => s"g$i"), Gen.chooseNum(0L, 60L)))
        utf <- Gen.oneOf(true, false)
        utfAt <- Gen.chooseNum(0L, 60L)
      } yield evs ++ (if (utf) Seq(("xＡ", utfAt), ("x😀", utfAt)) else Nil) // UTF-16 order != UTF-8
      val genBulk = Gen.listOfN(8300, Gen.chooseNum(0L, 60L))
        .map(_.zipWithIndex.map { case (t, i) => (s"b$i", t) })
      val genCase = for {
        evs <- Gen.frequency((4, genSmall), (1, genBulk))
        kind <- Gen.oneOf("none", "on-event", "between", "after-all")
        pick <- Gen.chooseNum(0, Int.MaxValue)
        other <- Gen.oneOf(true, false) // another shipper's cursor, after every event
      } yield (evs, kind, pick, other)
      val name = "cf-audit-events-to-splunk"
      val prop = Prop.forAllNoShrink(genCase) { case (evs, kind, pick, other) =>
        val (st, _) = newStoreAt()
        evs.map { case (g, t) => ev(g, at(t)) }.grouped(ParquetEventStore.MaxBatchRows)
          .foreach(page => st.storeCFAuditEvents(onDriver(page)))
        val stored = st.events.select("guid", "created_at").orderBy("created_at", "guid").collect()
        // on, or just after, one of the earliest 64 events: a bulk case keeps > 8192 pending
        lazy val early = stored(pick % math.min(stored.length, 64))
        val label = (kind, stored.isEmpty) match {
          case ("none", _) | (_, true) => "none"
          case ("on-event", _) =>
            st.updateShipperCursor(name, early.getTimestamp(1).toInstant.toString, early.getString(0)); kind
          case ("between", _) => // events sit on whole seconds
            st.updateShipperCursor(name, early.getTimestamp(1).toInstant.plusMillis(500).toString, "zz"); kind
          case _ =>
            st.updateShipperCursor(name, base.plusSeconds(61).toString, stored.last.getString(0)); kind
        }
        if (other) st.updateShipperCursor("other", base.plusSeconds(99).toString, "g0")
        val read = st.getUnshippedCFAuditEventsForShipper(name)
        val daemon = read.collect().toSeq
        val daemonRows = st.getUnshippedCFAuditEventRowsForShipper(name)
        val board = AuditQueries.unshipped(st.events, st.cursors, name).collect().toSeq
        val byTime = stored.groupBy(_.getTimestamp(1)).values
        val from = AuditQueries.lastShippedOf(st.cursors.collect().toSeq, name)._1
        val labels = Set(label, if (fromTail(read)) "tail" else "scan") ++
          (if (stored.count(!_.getTimestamp(1).before(from)) > 8192) Set("over-cap") else Set()) ++
          (if (byTime.exists(_.length > 1)) Set("same-second") else Set()) ++
          (if (byTime.exists(_.map(_.getString(0)).toSet == Set("xＡ", "x😀"))) Set("utf-tie") else Set())
        Prop.collect[Set[String]](labels)(Prop(daemon == board && daemonRows == daemon) :|
          s"daemon ${daemon.size} rows, as rows ${daemonRows.size}, board ${board.size}")
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(24).withWorkers(1)
        .withInitialSeed(Seed(20241018L)), prop)
      withClue(org.scalacheck.util.Pretty.pretty(result)) { result.passed shouldBe true }
      result.freqMap.getCounts.flatMap(_._1).flatMap { case l: Set[_] => l }.toSet shouldBe
        Set("none", "on-event", "between", "after-all", "over-cap", "same-second", "utf-tie", "tail", "scan")
    }
  }

  describe("the tail of the store's own appends") {
    val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
      "e", "et", "en", "", "sg", "{}")
    def guidsOf(df: DataFrame): Seq[String] = df.select("guid").collect().map(_.getString(0)).toSeq
    def shipperOf(st: EventStore, poster: FakePoster) = new SplunkShipper(st,
      new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()), "test-env", new MetricsRegistry,
      shipperName = "s")
    def posted(poster: FakePoster): Seq[String] =
      poster.lines.map(l => "\"guid\":\"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1))

    it("a warm re-fetch of guids this store appended runs no job") {
      val (st, _) = newStoreAt()
      val collector = new Collector(spark, st,
        new CfAuditEventFetcher(new FakeTransport(Map.empty), ""), new MetricsRegistry)
      val page1 = (0 until 100).map(i => mk(s"p1-$i", f"2024-05-01T10:00:${i % 60}%02d.$i%03dZ"))
      st.storeCFAuditEvents(collector.pageToDf(page1)) shouldBe 100L
      // the collector's 5 s overlap: the last 10 guids again, then 90 new ones
      val page2 = page1.takeRight(10) ++ (0 until 90).map(i => mk(s"p2-$i", f"2024-05-01T10:01:${i % 60}%02dZ"))
      var stored = 0L
      jobsOf { stored = st.storeCFAuditEvents(collector.pageToDf(page2)) } shouldBe 0
      stored shouldBe 90L
      st.getCFEventCount() shouldBe 190L
      st.events.select("guid").distinct().count() shouldBe 190L
    }

    it("a shipper tick whose cursor is above the watermark runs no Spark job") {
      val (st, _) = newStoreAt() // init created the table: the watermark is epoch
      st.storeCFAuditEvents(onDriver(Seq(
        ev("g1", "2024-05-01T10:00:00Z"), ev("g2", "2024-05-01T10:00:01Z")))) shouldBe 2L
      st.updateShipperCursor("s", "2024-05-01T10:00:00Z", "g1")
      val poster = new FakePoster(Nil)
      val shipper = shipperOf(st, poster)
      var shipped = (0L, 0L)
      jobsOf { shipped = shipper.shipOnce() } shouldBe 0
      shipped shouldBe ((1L, 0L))
      st.storeCFAuditEvents(onDriver(Seq(ev("g3", "2024-05-01T10:00:02Z")))) shouldBe 1L
      jobsOf { shipped = shipper.shipOnce() } shouldBe 0
      shipped shouldBe ((1L, 0L))
      jobsOf { shipped = shipper.shipOnce() } shouldBe 0 // idle: nothing after g3
      shipped shouldBe ((0L, 0L))
      posted(poster) shouldBe Seq("g2", "g3")
      st.cursors.collect().map(r => (r.getString(0), r.getString(2))).toSeq shouldBe Seq(("s", "g3"))
    }

    it("a fresh store ships its first page with no Spark job: the tail answers the epoch cursor") {
      val (st, _) = newStoreAt()
      val poster = new FakePoster(Nil)
      val shipper = shipperOf(st, poster)
      var shipped = (0L, 0L)
      jobsOf { shipped = shipper.shipOnce() } shouldBe 0 // idle, before any page
      shipped shouldBe ((0L, 0L))
      val collector = new Collector(spark, st,
        new CfAuditEventFetcher(new FakeTransport(Map.empty), ""), new MetricsRegistry)
      st.storeCFAuditEvents(collector.pageToDf((0 until 100).map(i =>
        mk(f"p$i%03d", f"2024-05-01T10:00:${i % 60}%02d.$i%03dZ")))) shouldBe 100L
      fromTail(st.getUnshippedCFAuditEventsForShipper("s")) shouldBe true
      jobsOf { shipped = shipper.shipOnce() } shouldBe 0
      shipped shouldBe ((100L, 0L))
      posted(poster) shouldBe (0 until 100).sortBy(i => (i % 60, i)).map(i => f"p$i%03d")
    }

    it("a new store over the same warehouse scans until its first append") {
      val (st, dir) = newStoreAt()
      st.storeCFAuditEvents(onDriver(Seq(
        ev("g1", "2024-05-01T10:00:00Z"), ev("g2", "2024-05-01T10:00:01Z")))) shouldBe 2L
      val restarted = new ParquetEventStore(spark, dir.toString)
      restarted.init()
      restarted.updateShipperCursor("s", "2024-05-01T10:00:00Z", "g1")
      val before = restarted.getUnshippedCFAuditEventsForShipper("s")
      fromTail(before) shouldBe false
      guidsOf(before) shouldBe Seq("g2")
      restarted.storeCFAuditEvents(onDriver(Seq(ev("g3", "2024-05-01T10:00:02Z")))) shouldBe 1L
      // the first append took the table's exact max, 10:00:01, as its watermark
      fromTail(restarted.getUnshippedCFAuditEventsForShipper("s")) shouldBe false
      restarted.updateShipperCursor("s", "2024-05-01T10:00:01.500Z", "none")
      val after = restarted.getUnshippedCFAuditEventsForShipper("s")
      fromTail(after) shouldBe true
      guidsOf(after) shouldBe Seq("g3")
    }

    it("after evicting past MaxBatchRows, a cursor at or below the watermark gets the scan") {
      val (st, _) = newStoreAt()
      val cap = ParquetEventStore.MaxBatchRows
      val t0 = Instant.parse("2024-05-01T10:00:00Z")
      st.storeCFAuditEvents(onDriver((0 until cap).map(i => ev(f"a$i%05d", t0.plusMillis(i.toLong).toString))))
      st.storeCFAuditEvents(onDriver((0 until 10).map(i => ev(s"b$i", t0.plusSeconds(60L + i).toString)))) shouldBe 10L
      // a00000 .. a00009 left the tail; the watermark is a00009's time
      def board = AuditQueries.unshipped(st.events, st.cursors, "s").collect().toSeq
      Seq(5 -> false, 9 -> false, 10 -> true).foreach { case (i, tail) =>
        st.updateShipperCursor("s", t0.plusMillis(i.toLong).toString, f"a$i%05d")
        val q = st.getUnshippedCFAuditEventsForShipper("s")
        withClue(s"cursor on a$i: ") {
          fromTail(q) shouldBe tail
          q.collect().toSeq shouldBe board
        }
      }
    }

    it("a throwing append leaves the tail unchanged, so the re-fetch still stores the row") {
      val (st, dir) = newStoreAt()
      st.storeCFAuditEvents(onDriver(Seq(ev("g1", "2024-05-01T10:00:00Z")))) shouldBe 1L
      st.updateShipperCursor("s", "2024-05-01T10:00:00Z", "g1")
      // a regular file where the append wants the new date's directory makes it throw
      val blocker = Files.createFile(dir.resolve("cf_audit_events/event_date=2024-05-02"))
      an[Exception] should be thrownBy
        st.storeCFAuditEvents(onDriver(Seq(ev("g2", "2024-05-02T10:00:01Z"))))
      Files.delete(blocker)
      guidsOf(st.getUnshippedCFAuditEventsForShipper("s")) shouldBe Nil
      st.storeCFAuditEvents(onDriver(Seq(ev("g2", "2024-05-02T10:00:01Z")))) shouldBe 1L
      val q = st.getUnshippedCFAuditEventsForShipper("s")
      fromTail(q) shouldBe true
      guidsOf(q) shouldBe Seq("g2")
    }

    it("expireBefore resets the tail: no expired row is read or deduped from it") {
      val (st, _) = newStoreAt()
      st.storeCFAuditEvents(onDriver(Seq(
        ev("g1", "2024-05-01T10:00:00Z"), ev("g2", "2024-05-02T10:00:00Z")))) shouldBe 2L
      st.updateShipperCursor("s", "2024-05-01T00:00:00Z", "none")
      guidsOf(st.getUnshippedCFAuditEventsForShipper("s")) shouldBe Seq("g1", "g2")
      st.expireBefore(java.sql.Date.valueOf("2024-05-02")) shouldBe 1L
      val q = st.getUnshippedCFAuditEventsForShipper("s")
      fromTail(q) shouldBe false
      guidsOf(q) shouldBe Seq("g2")
      // a re-delivery of the expired g1 is stored again
      st.storeCFAuditEvents(onDriver(Seq(ev("g1", "2024-05-01T10:00:00Z")))) shouldBe 1L
      guidsOf(st.getUnshippedCFAuditEventsForShipper("s")) shouldBe Seq("g1", "g2")
    }

    it("a restart whose _stats_latest lags the data still ships the rows above the lagging sidecar") {
      val (st, dir) = newStoreAt()
      st.storeCFAuditEvents(onDriver(Seq(ev("g0", "2024-05-01T09:59:59Z")))) shouldBe 1L
      st.storeCFAuditEvents(onDriver(Seq(ev("g1", "2024-05-01T10:00:00Z"),
        ev("g2", "2024-05-01T10:00:02Z"), ev("g3", "2024-05-01T10:00:04Z")))) shouldBe 3L
      st.updateShipperCursor("s", "2024-05-01T10:00:00Z", "g1")
      // a crash after the second append, before its _stats_latest write
      Files.writeString(dir.resolve("_stats_latest"),
        (Instant.parse("2024-05-01T09:59:59Z").getEpochSecond * 1000000L).toString)
      val restarted = new ParquetEventStore(spark, dir.toString)
      restarted.init()
      // the restarted collector's first page: an overlap re-fetch and one new row
      restarted.storeCFAuditEvents(onDriver(Seq(
        ev("g3", "2024-05-01T10:00:04Z"), ev("g4", "2024-05-01T10:00:06Z")))) shouldBe 1L
      val poster = new FakePoster(Nil)
      shipperOf(restarted, poster).shipOnce() shouldBe ((3L, 0L))
      posted(poster) shouldBe Seq("g2", "g3", "g4")
    }
  }

  describe("a page and a ship tick with no query plan") {
    val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
      "e", "et", "en", "", "sg", "{}")

    /** The wire→row conversion as a Catalyst projection: Spark's own
      * `to_timestamp` and `nullif`, evaluated by Spark. */
    def catalystPage(wire: Seq[CfWireEvent]): DataFrame = {
      import spark.implicits._
      wire.toDF().select(Schemas.cfAuditEvents.fieldNames.toSeq.map {
        case "id" => F.lit(0L).as("id")
        case "created_at" => F.to_timestamp(F.col("created_at")).as("created_at")
        case "created_at_raw" => F.col("created_at").as("created_at_raw")
        case c @ ("organization_guid" | "space_guid") => Schemas.emptyToNull(F.col(c)).as(c)
        case c => F.col(c)
      }: _*)
    }

    it("converts a wire page on the driver as Spark's cast, nullif, CHECK and to_date do (property)") {
      import org.scalacheck.{Gen, Prop, Test}
      import org.scalacheck.rng.Seed
      import org.apache.spark.sql.internal.SQLConf
      val (st, dir) = newStoreAt()
      val collector = new Collector(spark, st,
        new CfAuditEventFetcher(new FakeTransport(Map.empty), ""), new MetricsRegistry)
      // (label, raw created_at)
      val genAt: Gen[(String, String)] = Gen.frequency(
        (4, Gen.chooseNum(0L, 86399L).map(s => "Z" -> Instant.parse("2024-05-01T00:00:00Z").plusSeconds(s).toString)),
        (2, Gen.chooseNum(0, 999999).map(us => "Z" -> f"2024-05-01T23:59:59.$us%06dZ")),
        (3, Gen.chooseNum(0, 23).map(h => "+01:00" -> f"2024-05-02T$h%02d:30:00+01:00")),
        (3, Gen.chooseNum(0, 23).map(h => "space" -> f"2024-05-01 $h%02d:15:00")),
        (3, Gen.chooseNum(0, 23).map(h => "zone-less" -> f"2024-05-01T$h%02d:45:00")),
        (1, Gen.const("null" -> null)),
        (1, Gen.const("epoch" -> "1970-01-01T00:00:00Z")),
        (1, Gen.oneOf("1969-12-31T23:59:59Z", "1500-03-01T00:00:00Z").map("pre-epoch" -> _)),
        (1, Gen.oneOf("not-a-time", "", "2024-13-01T00:00:00Z").map("unparseable" -> _)))
      val genEvent = for {
        guid <- Gen.oneOf("g0", "g1", "g2", "g3", "g4", "xＡ", "x😀")
        at <- genAt
        name <- Gen.oneOf("an", "Zoë", "名前")
        org <- Gen.oneOf("", null, "og", "орг-😀")
        space <- Gen.oneOf("", null, "sg")
        meta <- Gen.oneOf("{}", null, """{"k":"ü😀","n":[1,{"x":null}]}""")
      } yield (at._1, CfWireEvent(guid, at._2, "t", "a", "at", name, "au", "e", "et", "en", org, space, meta))
      val genCase = for {
        n <- Gen.chooseNum(0, 8)
        evs <- Gen.listOfN(n, genEvent)
        zone <- Gen.oneOf("UTC", "Asia/Kolkata", "America/Los_Angeles")
        ansi <- Gen.frequency((3, true), (1, false))
      } yield (evs, zone, ansi)
      val checkedCols = Schemas.cfAuditEvents.fieldNames.toSeq.map(F.col) :+
        F.to_date(F.col("created_at")).cast("string")
      val castFailure = (t: scala.util.Try[_]) => t.failed.toOption.exists(_.getMessage.contains("CAST_INVALID_INPUT"))
      val prop = Prop.forAllNoShrink(genCase) { case (evs, zone, ansi) =>
        val wire = evs.map(_._2)
        val labels = mutable.Set.empty[String] ++ evs.map(_._1)
        labels += (if (ansi) "ansi" else "ansi-off")
        if (zone != "UTC") labels += "session-zone"
        if (wire.exists(w => w.organization_guid == "" || w.space_guid == "")) labels += "empty-org-space"
        if (wire.exists(_.actor_name != "an")) labels += "non-ascii"
        if (wire.map(_.guid).distinct.size < wire.size) labels += "dup-guid"
        val failures = mutable.ArrayBuffer.empty[String]
        def check(what: String, ok: Boolean): Unit = if (!ok) failures += what
        val saved = Seq(SQLConf.SESSION_LOCAL_TIMEZONE.key, SQLConf.ANSI_ENABLED.key).map(k => k -> spark.conf.get(k))
        spark.conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, zone)
        spark.conf.set(SQLConf.ANSI_ENABLED.key, ansi)
        try {
          val driver = scala.util.Try(EventPage(spark, wire))
          val catalyst = scala.util.Try(catalystPage(wire).collect().toSeq.map(_.toSeq))
          if (ansi && labels("unparseable")) {
            labels += "refused"
            check("driver conversion not refused", castFailure(driver))
            check("Catalyst projection not refused", castFailure(catalyst))
            check("pageToDf not refused", castFailure(scala.util.Try(collector.pageToDf(wire).collect())))
            val before = treeBytes(dir)
            check("driver path stored", castFailure(scala.util.Try(st.storeCFAuditEventPage(EventPage(spark, wire)))))
            check("DataFrame path stored", castFailure(scala.util.Try(st.storeCFAuditEvents(collector.pageToDf(wire)))))
            check("the warehouse changed", treeBytes(dir) == before)
          } else {
            val page = driver.get
            check("rows differ from the Catalyst projection", page.rows.map(_.toSeq) == catalyst.get)
            val oracle = catalystPage(wire).filter(AuditQueries.passesCheck).select(checkedCols: _*)
              .collect().toSeq.map(_.toSeq)
            check("checked rows or dates differ", page.checked.map { case (r, d) => r.toSeq :+ d.toString } == oracle)
            check("pageToDf.filter(passesCheck) differs from the checked rows",
              collector.pageToDf(wire).filter(AuditQueries.passesCheck).collect().toSeq.map(_.toSeq) ==
                page.checked.map(_._1.toSeq))
            if (page.checked.map(_._2).distinct.size > 1) labels += "two-dates"
          }
        } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
        Prop.collect[Set[String]](labels.toSet)(Prop(failures.isEmpty) :| failures.mkString("; "))
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(60).withWorkers(1)
        .withInitialSeed(Seed(20241021L)), prop)
      withClue(org.scalacheck.util.Pretty.pretty(result)) { result.passed shouldBe true }
      result.freqMap.getCounts.flatMap(_._1).flatMap { case l: Set[_] => l }.toSet shouldBe
        Set("Z", "+01:00", "space", "zone-less", "null", "epoch", "pre-epoch", "unparseable", "refused",
          "ansi", "ansi-off", "session-zone", "empty-org-space", "non-ascii", "dup-guid", "two-dates")
    }

    it("a fresh warehouse's init, a page with no bloom positives and a tail-answered ship tick plan nothing and run no job") {
      val dir = Files.createTempDirectory("graft-store-noplan")
      val st = new ParquetEventStore(spark, dir.toString)
      plansAndJobsOf(st.init()) shouldBe ((0, 0))
      var stored = 0L
      plansAndJobsOf { stored = st.storeCFAuditEventPage(EventPage(spark,
        (0 until 100).map(i => mk(f"a$i%03d", f"2024-05-01T10:00:${i % 60}%02d.$i%03dZ")))) } shouldBe ((0, 0))
      stored shouldBe 100L
      // the same date again, new guids: its bloom sidecar is read and holds none of them
      plansAndJobsOf { stored = st.storeCFAuditEventPage(EventPage(spark,
        (0 until 100).map(i => mk(f"b$i%03d", f"2024-05-01T11:00:${i % 60}%02d.$i%03dZ")))) } shouldBe ((0, 0))
      stored shouldBe 100L
      val poster = new FakePoster(Nil)
      val shipper = new SplunkShipper(st, new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()),
        "test-env", new MetricsRegistry, shipperName = "s")
      var shipped = (0L, 0L)
      plansAndJobsOf { shipped = shipper.shipOnce() } shouldBe ((0, 0))
      shipped shouldBe ((200L, 0L))
      plansAndJobsOf { shipped = shipper.shipOnce() } shouldBe ((0, 0)) // idle
      shipped shouldBe ((0L, 0L))
      // the DataFrame members still plan, and the listener sees it
      val collector = new Collector(spark, st,
        new CfAuditEventFetcher(new FakeTransport(Map.empty), ""), new MetricsRegistry)
      plansAndJobsOf(st.storeCFAuditEvents(collector.pageToDf(Seq(mk("c", "2024-05-01T12:00:00Z")))))._1 should be >= 1
      plansAndJobsOf(st.getUnshippedCFAuditEventsForShipper("s").collect())._1 should be >= 1
    }

    it("a restart with _stats_latest and _stats_maxid removed scans, resumes at max - 5 s and numbers on") {
      val (st, dir) = newStoreAt()
      st.storeCFAuditEventPage(EventPage(spark, Seq(
        mk("g1", "2024-05-01T10:00:00Z"), mk("g2", "2024-05-02T08:30:00Z")))) shouldBe 2L
      Files.delete(dir.resolve("_stats_latest"))
      Files.delete(dir.resolve("_stats_maxid"))
      val restarted = new ParquetEventStore(spark, dir.toString)
      plansAndJobsOf(restarted.init()) shouldBe ((0, 0)) // nothing to create
      val collector = new Collector(spark, restarted,
        new CfAuditEventFetcher(new FakeTransport(Map.empty), ""), new MetricsRegistry)
      var since = Instant.EPOCH
      jobsOf { since = collector.pullEventsSince() } should be >= 1 // the scan
      since shouldBe Instant.parse("2024-05-02T08:29:55Z")
      restarted.storeCFAuditEventPage(EventPage(spark, Seq(
        mk("g2", "2024-05-02T08:30:00Z"), mk("g3", "2024-05-02T08:30:01Z")))) shouldBe 1L
      storedRows(restarted).map(r => (r(0), r(1))) shouldBe Seq((1L, "g1"), (2L, "g2"), (3L, "g3"))
      sidecarText(dir, "_stats_maxid") shouldBe "3"
      restarted.getLatestCFEventTime().toInstant shouldBe Instant.parse("2024-05-02T08:30:01Z")
    }

    it("init leaves a fresh warehouse Spark reads back empty, its cursor schema in one file's footer") {
      import org.apache.hadoop.fs.{Path => HPath}
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.spark.sql.types.DataType
      val (st, dir) = newStoreAt()
      st.events.count() shouldBe 0L
      st.events.schema.fieldNames.toSeq shouldBe Schemas.cfAuditEvents.fieldNames.toSeq
      st.cursors.count() shouldBe 0L
      st.cursors.schema.fieldNames.toSeq shouldBe Schemas.shipperCursors.fieldNames.toSeq
      // the events table: a bare directory
      Files.isDirectory(dir.resolve("cf_audit_events")) shouldBe true
      treeBytes(dir.resolve("cf_audit_events")) shouldBe empty
      // the cursor table: one parquet file, its schema in the footer
      val files = treeBytes(dir.resolve("shipper_cursors")).keys.toSeq
      val parquet = files.filter(_.endsWith(".parquet"))
      parquet.size shouldBe 1
      files.filterNot(f => f.endsWith(".parquet") || f.endsWith(".parquet.crc")) shouldBe empty
      spark.read.parquet(dir.resolve("shipper_cursors").toString).schema.fieldNames.toSeq shouldBe
        Schemas.shipperCursors.fieldNames.toSeq
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new HPath(dir.resolve("shipper_cursors").resolve(parquet.head).toUri), spark.sparkContext.hadoopConfiguration))
      val footer = try reader.getFooter finally reader.close()
      DataType.fromJson(footer.getFileMetaData.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")) shouldBe
        StructType(Schemas.shipperCursors.map(_.copy(nullable = true)))
      footer.getBlocks.asScala.map(_.getRowCount).sum shouldBe 0L
      // idempotent over a warehouse in use
      st.storeCFAuditEventPage(EventPage(spark, Seq(mk("g1", "2024-05-01T10:00:00Z")))) shouldBe 1L
      st.updateShipperCursor("s", "2024-05-01T10:00:00Z", "g1")
      val inUse = treeBytes(dir)
      plansAndJobsOf(st.init()) shouldBe ((0, 0))
      treeBytes(dir) shouldBe inUse
      // a crash inside a cursor swap, and one before an append's rename
      Files.move(dir.resolve("shipper_cursors"), dir.resolve("shipper_cursors_old"))
      val hidden = dir.resolve("cf_audit_events/event_date=2024-05-01").resolve(s".${DriverParquet.fileName(spark)}.tmp")
      Files.write(hidden, Array[Byte](1, 2, 3))
      val restarted = new ParquetEventStore(spark, dir.toString)
      restarted.init()
      treeBytes(dir) shouldBe inUse
      restarted.cursors.collect().map(r => (r.getString(0), r.getString(2))).toSeq shouldBe Seq(("s", "g1"))
    }
  }

  describe("a session built on the first scan") {
    val mk = (g: String, at: String) => CfWireEvent(g, at, "t", "a", "at", "an", "au",
      "e", "et", "en", "", "sg", "{}")
    /** A handle with the daemon's pre-session confs whose session, once
      * asked for, is this spec's: what `GraftSession.lazily` gives `Main`. */
    def lazySession(): LazySession = LazySession(GraftSession.options(cpus = 4))(spark)
    def guidsOf(st: EventStore): Seq[String] = st.events.select("guid").collect().map(_.getString(0)).toSeq.sorted
    /** Replaces the date's bloom sidecar by one holding `guids`, a few
      * milliseconds after the store last wrote it. */
    def replaceBloom(dir: Path, date: String, guids: Seq[String]): Unit = {
      Thread.sleep(10L)
      val bf = org.apache.spark.util.sketch.BloomFilter.create(1L << 20, 1L << 23)
      BloomFunctions.putDriver(bf, guids)
      Files.write(dir.resolve(s"_bloom_guid/$date"), BloomFunctions.toBytes(bf))
    }

    it("a pre-session SQL conf is the session's where the store reads it, and a page stored through either writes the same parquet") {
      import org.apache.hadoop.fs.{Path => HPath}
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.spark.sql.internal.SQLConf
      val pre = lazySession()
      Seq(SQLConf.SESSION_LOCAL_TIMEZONE, SQLConf.ANSI_ENABLED, SQLConf.PARQUET_COMPRESSION,
        SQLConf.PARQUET_WRITE_LEGACY_FORMAT, SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
        SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).map(_.key).foreach { k =>
        withClue(k)(pre.sqlConf.getConfString(k) shouldBe spark.sessionState.conf.getConfString(k))
      }
      val page = Seq(mk("g1", "2024-05-01T10:00:00Z"), mk("g2", "2024-05-01T10:00:01.5+01:00"),
        CfWireEvent("g3", "2024-05-01T10:00:02Z", "t", null, "at", "an", "au", "e", "et", "en", "og", "", "{}"))
      val stores = Seq(pre, spark: LazySession).map { s =>
        val dir = Files.createTempDirectory("graft-store-confs")
        val st = new ParquetEventStore(s, dir.toString)
        st.init()
        st.storeCFAuditEventPage(EventPage(s, page)) shouldBe 3L
        dir
      }
      pre.isBuilt shouldBe false
      def parquetFiles(dir: Path): Seq[Path] = treeBytes(dir).keys.filter(_.endsWith(".parquet")).toSeq.sorted
        .map(dir.resolve)
      val Seq(a, b) = stores.map(parquetFiles)
      a.map(_.getParent.getFileName) shouldBe b.map(_.getParent.getFileName) // the cursor table and one partition
      a.size shouldBe 2
      a.zip(b).foreach { case (fa, fb) =>
        def footer(f: Path) = {
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f.toUri), spark.sparkContext.hadoopConfiguration))
          try r.getFooter finally r.close()
        }
        val (x, y) = (footer(fa), footer(fb))
        x.getFileMetaData.getSchema shouldBe y.getFileMetaData.getSchema
        x.getFileMetaData.getKeyValueMetaData shouldBe y.getFileMetaData.getKeyValueMetaData
        x.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)) shouldBe
          y.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec))
        spark.read.parquet(fa.toString).collect().toSeq shouldBe spark.read.parquet(fb.toString).collect().toSeq
      }
    }

    it("a backfill through Main's wiring on a fresh warehouse stores, ships and informs with no session") {
      val p1 = "/v2/events?q=timestamp%3E1970-01-01T00%3A00%3A00Z&results-per-page=100"
      val p2 = "/v2/events?page=2"
      // the next tick resumes from max(created_at) − 5 s and re-fetches g3
      val p3 = "/v2/events?q=timestamp%3E2024-05-02T09%3A59%3A57Z&results-per-page=100"
      val transport = new FakeTransport(Map(
        p1 -> HttpReply(200, pageJson(Seq("g1", "g2"), Seq("2024-05-01T10:00:00Z", "2024-05-01T11:00:00Z"), p2)),
        p2 -> HttpReply(200, pageJson(Seq("g3"), Seq("2024-05-02T10:00:02Z"), "")),
        p3 -> HttpReply(200, pageJson(Seq("g3", "g4"), Seq("2024-05-02T10:00:02Z", "2024-05-02T10:00:03Z"), ""))))
      val handle = lazySession()
      val dir = Files.createTempDirectory("graft-store-lazy")
      // as Main wires them
      val registry = new MetricsRegistry
      val store: EventStore = new ParquetEventStore(handle, dir.toString)
      store.init()
      val poster = new FakePoster(Nil)
      val shipper = new SplunkShipper(store, new SplunkHecClient(poster, "https://hec", "KEY", sleep = _ => ()),
        "test-env", registry)
      val wakes = new AtomicInteger(0)
      val collector = new Collector(handle, store, new CfAuditEventFetcher(transport, "", paginationWaitMillis = 0),
        registry, onStored = () => { wakes.incrementAndGet(); shipper.wake() })
      val informer = new Informer(store, registry)
      informer.informOnce()
      shipper.shipOnce() shouldBe ((0L, 0L))
      collector.collectOnce() shouldBe Right(3L)
      shipper.shipOnce() shouldBe ((3L, 0L))
      collector.collectOnce() shouldBe Right(2L)
      shipper.shipOnce() shouldBe ((1L, 0L))
      informer.informOnce()
      wakes.get() shouldBe 3
      transport.requests.toSeq shouldBe Seq(p1, p2, p3)
      store.getCFEventCount() shouldBe 4L
      registry.gaugeValue(Metrics.InformerEventsTotal) shouldBe 4.0
      handle.isBuilt shouldBe false
      poster.lines.map(l => "\"guid\":\"([^\"]+)\"".r.findFirstMatchIn(l).get.group(1)) shouldBe Seq("g1", "g2", "g3", "g4")
      // a DataFrame member is a scan
      guidsOf(store) shouldBe Seq("g1", "g2", "g3", "g4")
      handle.isBuilt shouldBe true
    }

    it("a restart with _stats_* and _bloom_guid removed builds the session, scans and stores each guid once") {
      val (first, dir) = newStoreAt()
      first.storeCFAuditEventPage(EventPage(spark, Seq(
        mk("g1", "2024-05-01T10:00:00Z"), mk("g2", "2024-05-01T10:00:01Z")))) shouldBe 2L
      Seq("_stats_count", "_stats_maxid", "_stats_latest").foreach(f => Files.delete(dir.resolve(f)))
      treeBytes(dir.resolve("_bloom_guid")).keys.foreach(f => Files.delete(dir.resolve("_bloom_guid").resolve(f)))
      val handle = lazySession()
      val restarted = new ParquetEventStore(handle, dir.toString)
      restarted.init()
      handle.isBuilt shouldBe false
      var stored = 0L
      // the overlap re-fetch of g2 finds no sidecar: every guid is probed, through the scan
      jobsOf { stored = restarted.storeCFAuditEventPage(EventPage(handle, Seq(
        mk("g2", "2024-05-01T10:00:01Z"), mk("g3", "2024-05-01T10:00:02Z")))) } should be >= 1
      stored shouldBe 1L
      handle.isBuilt shouldBe true
      storedRows(restarted).map(r => (r(0), r(1))) shouldBe Seq((1L, "g1"), (2L, "g2"), (3L, "g3"))
      restarted.getCFEventCount() shouldBe 3L
      restarted.getLatestCFEventTime().toInstant shouldBe Instant.parse("2024-05-01T10:00:02Z")
      // the sidecar is rebuilt from the partition, the batch included
      import spark.implicits._
      bloomFiles(dir)("2024-05-01") shouldBe Seq("g1", "g2", "g3").toDF("g")
        .agg(graft.functions.BloomSupport.bloomAgg(F.col("g"), 1L << 20, 1L << 23)).head.getAs[Array[Byte]](0).toSeq
    }

    it("a closed handle builds no session: a page that needs a scan ends the collector's run as stopped") {
      val (first, dir) = newStoreAt()
      first.storeCFAuditEventPage(EventPage(spark, Seq(mk("g1", "2024-05-01T10:00:00Z")))) shouldBe 1L
      val handle = lazySession()
      val restarted = new ParquetEventStore(handle, dir.toString)
      restarted.init()
      handle.close() // as Main's drain does
      // the restart re-fetches g1, which its sidecar holds: the probe needs a scan
      val transport = new FakeTransport(Map(
        "/v2/events?q=timestamp%3E2024-05-01T09%3A59%3A55Z&results-per-page=100" ->
          HttpReply(200, pageJson(Seq("g1", "g2"), Seq("2024-05-01T10:00:00Z", "2024-05-01T10:00:01Z"), ""))))
      val registry = new MetricsRegistry
      val collector = new Collector(handle, restarted,
        new CfAuditEventFetcher(transport, "", paginationWaitMillis = 0), registry)
      collector.run(60000L, () => false) shouldBe Right(())
      registry.counterValue(Metrics.CollectorErrors) shouldBe 0.0
      a[LazySession.Closed] should be thrownBy handle.session
      handle.isBuilt shouldBe false
      guidsOf(first) shouldBe Seq("g1")
    }

    it("a bloom sidecar deleted or replaced between pages is read again, not served from the filter the store holds") {
      val (st, dir) = newStoreAt()
      st.storeCFAuditEventPage(EventPage(spark, Seq(mk("g1", "2024-05-01T10:00:00Z")))) shouldBe 1L
      st.storeCFAuditEventPage(EventPage(spark, Seq(mk("g2", "2024-05-01T10:00:01Z")))) shouldBe 1L
      var stored = 0L
      // held, unchanged: g3 tests negative, no probe
      jobsOf { stored = st.storeCFAuditEventPage(EventPage(spark, Seq(mk("g3", "2024-05-01T10:00:02Z")))) } shouldBe 0
      // replaced by one that holds g4: the store sees g4 positive
      replaceBloom(dir, "2024-05-01", Seq("g1", "g2", "g3", "g4"))
      jobsOf { stored = st.storeCFAuditEventPage(EventPage(spark, Seq(mk("g4", "2024-05-01T10:00:03Z")))) } shouldBe 1
      stored shouldBe 1L
      // deleted: every guid is probed, and the sidecar is rebuilt from the partition
      Files.delete(dir.resolve("_bloom_guid/2024-05-01"))
      jobsOf { stored = st.storeCFAuditEventPage(EventPage(spark, Seq(mk("g5", "2024-05-01T10:00:04Z")))) } should be >= 1
      stored shouldBe 1L
      import spark.implicits._
      val agg = (gs: Seq[String]) => gs.toDF("g")
        .agg(graft.functions.BloomSupport.bloomAgg(F.col("g"), 1L << 20, 1L << 23)).head.getAs[Array[Byte]](0).toSeq
      bloomFiles(dir)("2024-05-01") shouldBe agg(Seq("g1", "g2", "g3", "g4", "g5"))
      // of another sizing: unusable, so probed and rebuilt
      Files.write(dir.resolve("_bloom_guid/2024-05-01"), BloomFunctions.toBytes(
        org.apache.spark.util.sketch.BloomFilter.create(1000L, 1L << 13)))
      jobsOf { stored = st.storeCFAuditEventPage(EventPage(spark, Seq(mk("g6", "2024-05-01T10:00:05Z")))) } should be >= 1
      stored shouldBe 1L
      bloomFiles(dir)("2024-05-01") shouldBe agg(Seq("g1", "g2", "g3", "g4", "g5", "g6"))
      guidsOf(st) shouldBe Seq("g1", "g2", "g3", "g4", "g5", "g6")
    }
  }
}
