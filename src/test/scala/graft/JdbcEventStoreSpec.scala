package graft

import java.nio.file.Files
import java.util.Properties

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.model.Schemas
import graft.operators.AuditQueries.RawEventFilter
import graft.store.{DerbyDialect, JdbcEventStore, ParquetEventStore, PostgresDialect}

/** Proof of the JDBC store — the reference's stated backend shape ("JDBC
  * sink to Postgres") whose plumbing the reference itself never tested
  * (SURVEY §5). Two layers:
  *
  *  1. END-TO-END against embedded Derby (the one real database in this
  *     environment — it ships with Spark): init idempotence (×2 ≡ ×1,
  *     mirroring store.go:55-71), per-partition batched dedup-insert
  *     (ON CONFLICT DO NOTHING semantics, store.go:87-93), cursor upsert
  *     (store.go:271-279), ''⇄NULL uuid handling at the JDBC edge
  *     (store.go:91,137-138), timestamp round-trips, and
  *     filter/sort/limit parity with the oracle-tested parquet store.
  *
  *  2. GOLDEN-TEXT pins of the real Postgres SQL — the statements a
  *     production deployment executes — asserting the reference shapes
  *     (ON CONFLICT, JSONB migration, reltuples) survive refactors.
  */
class JdbcEventStoreSpec extends SparkSpec {

  private var dbN = 0
  private def newJdbcStore(): JdbcEventStore = {
    dbN += 1
    val url = s"jdbc:derby:memory:graftdb$dbN;create=true"
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val st = new JdbcEventStore(spark, url, props, DerbyDialect)
    st.init()
    st
  }

  private def newParquetStore(): ParquetEventStore = {
    val dir = Files.createTempDirectory("jdbc-parity").toFile.getAbsolutePath
    val st = new ParquetEventStore(spark, dir)
    st.init()
    st
  }

  /** Wire-shaped batch: 4 events across 2 types, one with a NULL org guid,
    * one with the empty-string org guid (the JDBC edge case: both must
    * surface as SQL NULL), sorted+single-partition so the DB's identity
    * sequence follows (created_at, guid) — the parquet store's ingest
    * order — making page parity exact. */
  private def wireBatch(): DataFrame = {
    import spark.implicits._
    Seq(
      ("0b9ad8f2-0001-4f0e-9c2a-111111111111", "2024-01-01T10:00:00Z", "audit.app.start", "", null.asInstanceOf[String]),
      ("0b9ad8f2-0002-4f0e-9c2a-222222222222", "2024-01-01T11:00:00Z", "audit.app.stop",
        "7f0b3a8e-aaaa-4bbb-8ccc-dddddddddddd", "7f0b3a8e-eeee-4fff-8aaa-bbbbbbbbbbbb"),
      ("0b9ad8f2-0003-4f0e-9c2a-333333333333", "2024-01-01T12:00:00Z", "audit.app.start",
        null.asInstanceOf[String], ""),
      ("0b9ad8f2-0004-4f0e-9c2a-444444444444", "2024-01-01T12:30:00Z", "audit.space.create", "", "")
    ).toDF("guid", "created_at_raw", "event_type", "organization_guid", "space_guid")
      .withColumn("created_at", F.to_timestamp(F.col("created_at_raw")))
      .withColumn("actor", F.lit("a")).withColumn("actor_type", F.lit("t"))
      .withColumn("actor_name", F.lit("n")).withColumn("actor_username", F.lit("u"))
      .withColumn("actee", F.lit("e")).withColumn("actee_type", F.lit("t"))
      .withColumn("actee_name", F.lit("n"))
      .withColumn("metadata", F.lit("""{"request":{}}"""))
      .withColumn("id", F.lit(0L))
      .orderBy("created_at", "guid").coalesce(1)
  }

  describe("JdbcEventStore on embedded Derby (plumbing end-to-end)") {

    it("init is idempotent: running it twice leaves one usable schema (store.go:55-71)") {
      val st = newJdbcStore()
      st.init() // second run: every CREATE/ALTER must be absorbed
      st.events.count() shouldBe 0L
      st.cursors.count() shouldBe 0L
      st.storeCFAuditEvents(wireBatch()) shouldBe 4L
      st.init() // init over a POPULATED store must not clobber data
      st.events.count() shouldBe 4L
    }

    it("dedup-insert: re-storing the same batch stores 0 rows (ON CONFLICT DO NOTHING semantics)") {
      val st = newJdbcStore()
      st.storeCFAuditEvents(wireBatch()) shouldBe 4L
      st.storeCFAuditEvents(wireBatch()) shouldBe 0L // whole-batch replay
      st.events.count() shouldBe 4L
      // partial overlap: 1 new row among 4 known ones
      val extra = wireBatch().withColumn("guid",
        F.when(F.col("guid").endsWith("111111111111"),
          F.lit("0b9ad8f2-0005-4f0e-9c2a-555555555555")).otherwise(F.col("guid")))
      st.storeCFAuditEvents(extra) shouldBe 1L
      st.events.count() shouldBe 5L
    }

    it("'' and NULL org/space guids both surface as SQL NULL after the JDBC edge (store.go:91)") {
      val st = newJdbcStore()
      st.storeCFAuditEvents(wireBatch())
      val rows = st.events
        .select("guid", "organization_guid", "space_guid")
        .orderBy("guid").collect()
      // row 1: org='' space=NULL; row 3: org=NULL space=''; row 4: both ''
      rows(0).isNullAt(1) shouldBe true; rows(0).isNullAt(2) shouldBe true
      rows(1).getString(1) shouldBe "7f0b3a8e-aaaa-4bbb-8ccc-dddddddddddd"
      rows(1).getString(2) shouldBe "7f0b3a8e-eeee-4fff-8aaa-bbbbbbbbbbbb"
      rows(2).isNullAt(1) shouldBe true; rows(2).isNullAt(2) shouldBe true
      rows(3).isNullAt(1) shouldBe true; rows(3).isNullAt(2) shouldBe true
    }

    it("quarantines CHECK-violating rows engine-side (created_at > epoch, R21)") {
      val st = newJdbcStore()
      val bad = wireBatch().withColumn("created_at",
        F.when(F.col("guid").endsWith("111111111111"),
          F.lit(Schemas.epoch)).otherwise(F.col("created_at")))
      st.storeCFAuditEvents(bad) shouldBe 3L // the epoch row never reaches the DB
      st.events.count() shouldBe 3L
    }

    it("cursor upsert: insert then update by name, raw RFC3339 timestamp parsed at the edge") {
      val st = newJdbcStore()
      st.updateShipperCursor("splunk", "2024-01-01T10:00:00Z", "g1")
      st.updateShipperCursor("splunk", "2024-01-02T10:00:00Z", "g2") // same name: update
      st.updateShipperCursor("other", "2024-01-03T10:00:00Z", "g9")  // new name: insert
      val cur = st.cursors.orderBy("name").collect()
      cur.length shouldBe 2
      cur(1).getString(0) shouldBe "splunk"
      cur(1).getString(2) shouldBe "g2"
      cur(1).getTimestamp(1).toInstant.toString shouldBe "2024-01-02T10:00:00Z"
    }

    it("cursor upsert reads a raw timestamp's UTC offset, storing the instant it names") {
      val st = newJdbcStore()
      st.updateShipperCursor("splunk", "2024-01-02T12:00:00+02:00", "g1")
      st.cursors.collect().map(_.getTimestamp(1).toInstant.toString).toSeq shouldBe
        Seq("2024-01-02T10:00:00Z")
    }

    it("cursor upsert keeps a raw timestamp's fractional seconds to the microsecond") {
      val st = newJdbcStore()
      st.updateShipperCursor("splunk", "2024-01-02T10:00:00.123456Z", "g1")
      st.cursors.collect().map(_.getTimestamp(1).toInstant.toString).toSeq shouldBe
        Seq("2024-01-02T10:00:00.123456Z")
    }

    it("latest event time: epoch sentinel when empty, max created_at when populated (R14)") {
      val st = newJdbcStore()
      st.getLatestCFEventTime() shouldBe Schemas.epoch
      st.storeCFAuditEvents(wireBatch())
      st.getLatestCFEventTime().toInstant.toString shouldBe "2024-01-01T12:30:00Z"
    }

    it("event count reads through the dialect's statistics statement (S6/R16)") {
      val st = newJdbcStore()
      st.getCFEventCount() shouldBe 0L
      st.storeCFAuditEvents(wireBatch())
      st.getCFEventCount() shouldBe 4L
    }

    it("timestamps round-trip to micros through store -> Derby -> Spark JDBC read") {
      val st = newJdbcStore()
      st.storeCFAuditEvents(wireBatch())
      val times = st.events.orderBy("guid")
        .select(F.date_format(F.col("created_at"), "yyyy-MM-dd'T'HH:mm:ssX")).collect()
        .map(_.getString(0))
      times shouldBe Array("2024-01-01T10:00:00Z", "2024-01-01T11:00:00Z",
        "2024-01-01T12:00:00Z", "2024-01-01T12:30:00Z")
    }
  }

  describe("JdbcEventStore parity with the oracle-tested ParquetEventStore") {

    def guidsOf(df: DataFrame): Seq[String] =
      df.select("guid").collect().map(_.getString(0)).toSeq

    lazy val (jdbc, parquet) = {
      val j = newJdbcStore(); val p = newParquetStore()
      j.storeCFAuditEvents(wireBatch()); p.storeCFAuditEvents(wireBatch())
      (j, p)
    }

    val filters = Seq(
      "plain"          -> RawEventFilter(),
      "reverse"        -> RawEventFilter(reverse = true),
      "limit 2"        -> RawEventFilter(limit = Some(2)),
      "reverse+limit"  -> RawEventFilter(reverse = true, limit = Some(3)),
      "kind"           -> RawEventFilter(kind = Some("audit.app.start")),
      "kind+rev+limit" -> RawEventFilter(reverse = true, limit = Some(1), kind = Some("audit.app.start")))

    filters.foreach { case (label, f) =>
      it(s"getCFAuditEvents($label) returns the same guid sequence on both stores") {
        guidsOf(jdbc.getCFAuditEvents(f)) shouldBe guidsOf(parquet.getCFAuditEvents(f))
      }
    }

    it("kind filter pushes down into the JDBC scan (S2/R22 through the relation)") {
      val p = jdbc.getCFAuditEvents(RawEventFilter(kind = Some("audit.app.start")))
        .queryExecution.executedPlan.toString
      // Spark's JDBC relation must carry the predicate to the database —
      // a full-table JDBC pull with an engine-side filter re-reads the
      // whole store per page at scale
      p should include("PushedFilters")
      p should include("EVENT_TYPE")
    }

    it("unshipped query: same rows and order through both stores after a cursor commit") {
      jdbc.updateShipperCursor("s", "2024-01-01T11:00:00Z",
        "0b9ad8f2-0002-4f0e-9c2a-222222222222")
      parquet.updateShipperCursor("s", "2024-01-01T11:00:00Z",
        "0b9ad8f2-0002-4f0e-9c2a-222222222222")
      val j = guidsOf(jdbc.getUnshippedCFAuditEventsForShipper("s"))
      val p = guidsOf(parquet.getUnshippedCFAuditEventsForShipper("s"))
      j shouldBe p
      j shouldBe Seq( // boundary guid excluded, later rows in
        "0b9ad8f2-0003-4f0e-9c2a-333333333333",
        "0b9ad8f2-0004-4f0e-9c2a-444444444444")
    }
  }

  describe("PostgresDialect golden SQL (the statements production executes)") {

    it("event insert is the reference's ON CONFLICT dedup with uuid/jsonb casts (store.go:87-93)") {
      val sql = PostgresDialect.insertEventSql
      sql should include("ON CONFLICT (guid) DO NOTHING")
      sql should include("NULLIF(?,'')::uuid, NULLIF(?,'')::uuid")
      sql should include("?::jsonb")
      sql should include("?::uuid")
    }

    it("cursor upsert is ON CONFLICT DO UPDATE with the in-SQL timestamptz cast (store.go:271-279)") {
      val sql = PostgresDialect.upsertCursorSql
      sql should include("ON CONFLICT (name) DO UPDATE")
      sql should include("?::timestamptz")
      sql should include("SET updated_at = excluded.updated_at, shipped_id = excluded.shipped_id")
    }

    it("DDL carries the reference's shapes: idempotent metadata migration, CHECKs, indexes") {
      val ddl = PostgresDialect.initStatements
      ddl should contain("ALTER TABLE cf_audit_events ADD COLUMN IF NOT EXISTS metadata JSONB")
      ddl.head should include("guid uuid UNIQUE NOT NULL PRIMARY KEY")
      ddl.head should include("CHECK (created_at > 'epoch')")
      ddl.count(_.startsWith("CREATE INDEX IF NOT EXISTS idx_cf_audit_events_")) shouldBe 6
      PostgresDialect.eventCountSql should include("reltuples")
      PostgresDialect.eventCountSql should include("pg_class")
    }
  }
}
