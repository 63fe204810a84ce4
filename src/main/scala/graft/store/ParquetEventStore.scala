package graft.store

import java.sql.Timestamp
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graftnative.BloomFunctions
import org.apache.spark.sql.types.{DateType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.BloomSupport
import graft.model.Schemas
import graft.operators.AuditQueries
import graft.operators.AuditQueries.RawEventFilter

/** Warehouse-native `EventStore`: events as a date-partitioned parquet
  * table, cursors as a tiny parquet table.
  *
  * 100 TB design notes:
  *  - **Partition layout**: `event_date=date(created_at)` — time is the
  *    dominant predicate in every reference query (R5/R14/R15; the
  *    reference's own indexes, create_cf_audit_events.sql:19-24, say the
  *    same). Range scans and the unshipped query prune to a handful of
  *    partitions.
  *  - **Bounded dedup**: the collector re-fetches with only a 5 s overlap
  *    (collector.go:36), so a batch can only collide with events in its own
  *    time range. Dedup is scoped to partitions with
  *    `event_date >= min(batch date)` — O(overlap), not O(history).
  *  - **One Spark job per collector page**: a page is at most 100 rows and
  *    already on the driver. When the batch plan folds to a `LocalRelation`
  *    (`Collector.pageToDf` always does), `collect()` runs no job, and the
  *    store dedups, numbers and blooms the rows on the driver. The
  *    partitioned parquet append is then the only job. The alternative, the
  *    distributed plan, spends about ten jobs on a page, and per-job launch
  *    cost, not data volume, bounds the daemon.
  *  - **Bloom-gated dedup probe** (driver path): each scoped partition's
  *    `_bloom_guid/<date>` sidecar is read once and probed per guid. Only
  *    bloom-positive guids (every guid, for a partition with no readable
  *    sidecar) go to one exact `guid IN (...)` scan over the partitions
  *    that matched; with no positives there is no probe job. Blooms have
  *    no false negatives, so the dedup stays exact.
  *  - **Distributed path** for batches that are not on the driver
  *    (streaming micro-batches, bulk loads): the scoped anti-join, a
  *    `row_number` window for ids, one bloom aggregate per touched date.
  *    Both paths store identical rows, ids, stats and sidecar bytes.
  *  - **Bounded latest-time read**: `max(created_at)` restricted to the max
  *    partition via partition listing, not a full scan.
  *  - **Cursor writes are O(#shippers)**: collected to the driver and
  *    rewritten with a rename-aside swap; at any scale #shippers is tiny.
  */
final class ParquetEventStore(spark: SparkSession, warehouseDir: String) extends EventStore {
  private val eventsPath = s"$warehouseDir/cf_audit_events"
  private val cursorsPath = s"$warehouseDir/shipper_cursors"

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def exists(p: String): Boolean = fs.exists(new org.apache.hadoop.fs.Path(p))

  private def emptyEvents: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.cfAuditEvents)

  private def emptyCursors: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.shipperCursors)

  override def init(): Unit = {
    // Idempotent, like the reference's in-transaction DDL (store.go:55-71).
    if (!exists(eventsPath)) {
      emptyEvents.withColumn("event_date", F.to_date(F.col("created_at")))
        .write.partitionBy("event_date").parquet(eventsPath)
      // A table created here is empty, so its sidecars start exact and the
      // first batch needs no recovery scan.
      writeSidecar(maxIdPath, 0L)
      writeStatsCount(0L)
    }
    // A crash inside updateShipperCursor's swap can leave the live cursor
    // table renamed aside, complete: bring it back rather than start empty.
    if (!exists(cursorsPath) && exists(cursorsPath + "_old"))
      renameOrAbort(new org.apache.hadoop.fs.Path(cursorsPath + "_old"),
        new org.apache.hadoop.fs.Path(cursorsPath))
    if (!exists(cursorsPath))
      emptyCursors.write.parquet(cursorsPath)
  }

  override def events: DataFrame = {
    val df = spark.read.schema(eventsWithDateSchema).parquet(eventsPath)
    df.select(Schemas.cfAuditEvents.fieldNames.map(F.col).toSeq: _*)
  }

  /** Events with the partition column retained, for pruned scans. */
  private def eventsWithDate: DataFrame =
    spark.read.schema(eventsWithDateSchema).parquet(eventsPath)

  override def cursors: DataFrame =
    spark.read.schema(Schemas.shipperCursors).parquet(cursorsPath)

  override def storeCFAuditEvents(batch: DataFrame): Long = {
    val (valid, _) = AuditQueries.splitOnCheck(batch) // R21 CHECK constraints
    // Spark computes event_date and its directory spelling `__day` for the
    // driver path too, so it names exactly the writer's partitions.
    val dated = valid
      .withColumn("id", F.lit(0L)) // assigned below
      .select(Schemas.cfAuditEvents.fieldNames.map(F.col).toSeq: _*)
      .withColumn("event_date", F.to_date(F.col("created_at")))
      .withColumn("__day", F.col("event_date").cast("string"))
    dated.queryExecution.optimizedPlan match {
      case _: LocalRelation => storeOnDriver(dated.collect()) // folded: collect runs no job
      case _ => storeDistributed(valid)
    }
  }

  private val eventsWithDateSchema = Schemas.cfAuditEvents.add("event_date", DateType)
  // The rows carry whatever nulls the batch had, as in the distributed write.
  private val nullableEventsWithDate =
    StructType(eventsWithDateSchema.map(_.copy(nullable = true)))
  private val idIdx = Schemas.cfAuditEvents.fieldIndex("id")
  private val guidIdx = Schemas.cfAuditEvents.fieldIndex("guid")
  private val createdIdx = Schemas.cfAuditEvents.fieldIndex("created_at")
  private val dayIdx = eventsWithDateSchema.length // the trailing `__day`

  /** Spark's string order (UTF-8 bytes, nulls first) — the `row_number`
    * window's guid tiebreak, reproduced on the driver. */
  private val guidOrder: Ordering[String] = (a, b) =>
    if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
    else UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  private val ingestOrder: Ordering[Row] = (a, b) => {
    val t = a.getTimestamp(createdIdx).compareTo(b.getTimestamp(createdIdx))
    if (t != 0) t else guidOrder.compare(a.getString(guidIdx), b.getString(guidIdx))
  }

  /** Driver path for a batch already collected (rows: event columns,
    * event_date, `__day`): the same dedup, ids and blooms as
    * [[storeDistributed]], with the parquet append as the only Spark job
    * unless a bloom sidecar in scope matches a batch guid. */
  private def storeOnDriver(rows: Array[Row]): Long = {
    val fresh = rows.distinctBy(_.getString(guidIdx)) // first occurrence per guid wins
    if (fresh.isEmpty) return 0L
    val minDay = fresh.map(r => LocalDate.parse(r.getString(dayIdx))).min
    val scope = partitionDates
      .filter(d => Try(LocalDate.parse(d)).toOption.exists(!_.isBefore(minDay)))
    val batchDays = fresh.map(_.getString(dayIdx)).distinct
    val sidecars = (scope ++ batchDays).distinct.map(d => d -> readBytes(bloomPath(d))).toMap
    // Blooms have no false negatives: only bloom-positive guids (all guids
    // where a scoped partition has no readable sidecar) can be stored.
    val guids = fresh.map(_.getString(guidIdx)).filter(_ != null)
      .map(g => g -> BloomFunctions.hashDriver(g))
    val positives = scope.flatMap { d =>
      val bf = sidecars(d).flatMap(b => Try(BloomFilter.readFrom(b)).toOption)
      guids.collect { case (g, h) if bf.forall(_.mightContainLong(h)) => d -> g }
    }
    val stored =
      if (positives.isEmpty) Set.empty[String]
      else spark.read.schema(Schemas.cfAuditEvents)
        .parquet(positives.map(_._1).distinct.map(d => s"$eventsPath/event_date=$d"): _*)
        .filter(F.col("guid").isin(positives.map(_._2).distinct: _*))
        .select("guid").collect().map(_.getString(0)).toSet
    val kept = fresh.filterNot(r => stored.contains(r.getString(guidIdx))).sorted(ingestOrder)
    val n = kept.length.toLong
    if (n > 0) {
      val base = maxId()
      val withId = kept.iterator.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq.init.updated(idIdx, base + 1 + i))
      }.toSeq
      val blooms = kept.groupBy(_.getString(dayIdx)).toSeq.map { case (d, rs) =>
        d -> BloomFunctions.bloomDriver(rs.map(_.getString(guidIdx)), bloomItems, bloomBits)
      }
      commit(base, n, blooms, sidecars) {
        spark.createDataFrame(withId.asJava, nullableEventsWithDate)
          .coalesce(1) // one file per date, as the window-ordered distributed write
          .write.mode(SaveMode.Append).partitionBy("event_date").parquet(eventsPath)
      }
    }
    n
  }

  /** Distributed path, for batches that do not sit on the driver
    * (streaming micro-batches, bulk loads): overlap-scoped anti-join,
    * `row_number` ids, one bloom aggregate per touched date. */
  private def storeDistributed(valid: DataFrame): Long = {
    // Prune the dedup anti-join to partitions the batch can touch (see
    // class doc); fall back to full history only if the batch is empty.
    val minTs = valid.agg(F.min("created_at")).collect()(0)
    val existingScope =
      if (minTs.isNullAt(0)) emptyEvents
      else eventsWithDate
        .filter(F.col("event_date") >= F.to_date(F.lit(minTs.getTimestamp(0))))
        .select("guid")
    val deduped = AuditQueries.dedupAgainst(valid, existingScope)
    val base = maxId()
    val withId = AuditQueries.assignIngestSeq(deduped, base)
      .select(Schemas.cfAuditEvents.fieldNames.map(F.col).toSeq: _*)
      .withColumn("event_date", F.to_date(F.col("created_at")))
      .cache()
    val n = withId.count()
    if (n > 0) {
      val days = withId.select(F.col("event_date").cast("string")).distinct()
        .collect().map(_.getString(0)) // bounded by dates touched by one batch
      val blooms = days.toSeq.map(d => d -> withId
        .filter(F.col("event_date").cast("string") === d)
        .agg(BloomSupport.bloomAgg(F.col("guid"), bloomItems, bloomBits).as("bf"))
        .head.getAs[Array[Byte]]("bf"))
      commit(base, n, blooms, Map.empty) {
        withId.write.mode(SaveMode.Append).partitionBy("event_date").parquet(eventsPath)
      }
    }
    withId.unpersist()
    n
  }

  /** The durable steps both paths share, in crash-safe order. `read`
    * holds sidecar bytes the caller already read (others are read here). */
  private def commit(base: Long, n: Long, blooms: Seq[(String, Array[Byte])],
                     read: Map[String, Option[Array[Byte]]])(append: => Unit): Unit = {
    // Exact count before the append when the stats sidecar is missing:
    // afterwards the table already holds the batch.
    val countBefore = readStatsCount().getOrElse(AuditQueries.eventCount(events))
    // RESERVE the id range (sidecar write) BEFORE appending the data:
    // ids are contiguous base+1..base+n, and a crash between the two
    // steps then leaves an id GAP (harmless — the reference's SERIAL
    // has gaps too), never a stale sidecar that would hand the same
    // range to the next batch and create duplicate ingest ids.
    writeSidecar(maxIdPath, base + n)
    // Guid bloom sidecars ALSO update before the data lands: a bloom
    // that over-approximates (crash after bloom, before data) only
    // costs a false-positive partition scan; one that under-
    // approximates would make lookupByGuid MISS rows.
    blooms.foreach { case (d, b) =>
      writeBytes(bloomPath(d), mergedSidecar(d, read.getOrElse(d, readBytes(bloomPath(d))), b))
    }
    append
    writeStatsCount(countBefore + n) // reltuples analog
  }

  // Fixed per store so every sidecar is mergeInPlace-compatible.
  private val bloomItems = 1L << 20
  private val bloomBits = 1L << 23

  private def bloomPath(date: String) =
    new org.apache.hadoop.fs.Path(s"$warehouseDir/_bloom_guid/$date")

  private def readBytes(p: org.apache.hadoop.fs.Path): Option[Array[Byte]] =
    if (!fs.exists(p)) None
    else { val in = fs.open(p); try Some(in.readAllBytes()) finally in.close() }

  private def writeBytes(p: org.apache.hadoop.fs.Path, b: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(b) finally out.close()
  }

  /** A date's new sidecar bytes: the batch's bloom OR-ed into the old one. */
  private def mergedSidecar(d: String, old: Option[Array[Byte]],
                            batchBloom: Array[Byte]): Array[Byte] =
    old match {
      case Some(o) =>
        try BloomFunctions.mergeBloom(o, batchBloom)
        catch { // sizing drift: rebuild from the partition already on disk
          case _: Exception =>
            val dir = s"$eventsPath/event_date=$d"
            val onDisk =
              if (exists(dir))
                spark.read.schema(Schemas.cfAuditEvents).parquet(dir)
                  .agg(BloomSupport.bloomAgg(F.col("guid"), bloomItems, bloomBits).as("bf"))
                  .head.getAs[Array[Byte]]("bf")
              else batchBloom
            BloomFunctions.mergeBloom(onDisk, batchBloom)
        }
      case None => batchBloom
    }

  /** Date values of the `event_date=` partition directories. */
  private def partitionDates: Seq[String] =
    fs.listStatus(new org.apache.hadoop.fs.Path(eventsPath))
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("event_date="))
      .map(_.getPath.getName.stripPrefix("event_date="))
      .toSeq

  /** Partitions a guid POINT LOOKUP must scan: every partition whose guid
    * bloom sidecar matches (or that has no sidecar — unprunable). A
    * driver-side metadata decision, O(#partitions), never a data scan. */
  def guidCandidatePartitions(guid: String): Seq[String] =
    partitionDates.filter(d => readBytes(bloomPath(d))
      .forall(b => BloomFunctions.mightContainDriver(b, guid)))

  /** Guid point lookup — the reference's `cf_audit_events_guid` index
    * access path: per-partition bloom sidecars (maintained at store time,
    * before the data append) prune the scan to the partitions that can
    * possibly hold the guid; blooms have no false negatives, so the
    * lookup is exact. */
  def lookupByGuid(guid: String): DataFrame = {
    val cands = guidCandidatePartitions(guid)
    if (cands.isEmpty) emptyEvents
    else spark.read.schema(Schemas.cfAuditEvents)
      .parquet(cands.map(d => s"$eventsPath/event_date=$d"): _*)
      .filter(F.col("guid") === guid)
  }

  /** Highest assigned ingest id. Maintained in a sidecar at store time —
    * at 100 TB a per-micro-batch `max(id)` over the whole table would read
    * the full id column every 2 minutes. The full scan remains only as
    * the recovery path when the sidecar is absent (pre-existing table). */
  private def maxId(): Long =
    readSidecar(maxIdPath).getOrElse {
      val r = events.agg(F.max("id")).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }

  override def getCFAuditEvents(filter: RawEventFilter): DataFrame =
    AuditQueries.eventsPage(events, filter)

  override def getLatestCFEventTime(): Timestamp = {
    // Restrict to the latest date partition when one exists — the partition
    // column bounds max(created_at), so this reads one partition, not 100 TB.
    val parts = eventsWithDate.select(F.max("event_date")).collect()(0)
    val scoped =
      if (parts.isNullAt(0)) events
      else eventsWithDate.filter(F.col("event_date") === parts.getDate(0))
    val r = scoped.agg(F.max("created_at")).collect()(0)
    if (r.isNullAt(0)) Schemas.epoch else r.getTimestamp(0) // empty → epoch sentinel
  }

  /** O(1) statistics read, the `pg_class.reltuples` analog (store.go:
    * 310-329): a counter maintained at store time. Approximate by design —
    * exactly like reltuples (README.md:56) — and never a data scan. Falls
    * back to an exact count if the stats file is missing. */
  override def getCFEventCount(): Long =
    readStatsCount().getOrElse(AuditQueries.eventCount(events))

  private def statsPath = new org.apache.hadoop.fs.Path(s"$warehouseDir/_stats_count")
  private def maxIdPath = new org.apache.hadoop.fs.Path(s"$warehouseDir/_stats_maxid")

  private def readSidecar(p: org.apache.hadoop.fs.Path): Option[Long] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      catch { case _: Exception => None }
      finally in.close()
    }

  private def writeSidecar(p: org.apache.hadoop.fs.Path, v: Long): Unit = {
    val out = fs.create(p, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  private def readStatsCount(): Option[Long] = readSidecar(statsPath)

  private def writeStatsCount(total: Long): Unit = writeSidecar(statsPath, total)

  override def getUnshippedCFAuditEventsForShipper(shipperName: String): DataFrame = {
    // Resolve the 1-row cursor first (the reference's scalar subquery does
    // the same read) and turn it into a PARTITION predicate: the query's
    // own filter is on created_at, which prunes files via footer stats but
    // not partitions — event_date >= date(cursor) prunes whole partitions,
    // keeping this scan O(unshipped days) on a 100 TB table.
    val cur = AuditQueries.lastShipped(cursors, shipperName).collect()(0)
    val pruned = eventsWithDate
      .filter(F.col("event_date") >= F.to_date(F.lit(cur.getTimestamp(0))))
      .select(Schemas.cfAuditEvents.fieldNames.map(F.col).toSeq: _*)
    AuditQueries.unshipped(pruned, cursors, shipperName)
  }

  private def renameOrAbort(from: org.apache.hadoop.fs.Path,
                            to: org.apache.hadoop.fs.Path): Unit =
    StoreIO.renameOrAbort(fs, from, to, "event-store swap")

  /** Rename-aside swap of a whole table tree: the live tree is moved
    * aside (not deleted) before the new tree's rename, so a crash at any
    * point leaves the data recoverable — either the live tree is still in
    * place, or it sits complete in the `_old` sibling. Delete runs only
    * after the new tree is live, and only if both renames succeeded. */
  private def swapTree(tmp: String, live: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(live)
    val t = new org.apache.hadoop.fs.Path(tmp)
    val aside = new org.apache.hadoop.fs.Path(live + "_old")
    if (fs.exists(aside)) fs.delete(aside, true)
    renameOrAbort(p, aside)
    renameOrAbort(t, p)
    fs.delete(aside, true)
  }

  /** Compact the events table: micro-batch ingest writes one file per page
    * per partition, and at 100 TB the small-files problem kills scan
    * performance. Rewrites every partition with `maxRecordsPerFile`-bounded
    * files into a fresh directory and swaps it in. An offline maintenance
    * op (single-writer store; run between collector ticks, or per-partition
    * for live tables). Returns (files before, files after). */
  def compact(maxRecordsPerFile: Long = 1000000L): (Long, Long) = {
    def countFiles(): Long = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(eventsPath), true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = countFiles()
    val tmp = eventsPath + "_compact"
    eventsWithDate
      .repartition(F.col("event_date"))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("event_date").parquet(tmp)
    swapTree(tmp, eventsPath)
    (before, countFiles())
  }

  /** Partial compaction — the only compaction that exists at 100 TB:
    * rewrite ONLY partitions whose file count exceeds `maxFiles` (the
    * hot ingest partitions), leaving every healthy partition untouched.
    * Per-partition rewrite + atomic swap, so a crash mid-run loses at
    * most one partition's rewrite (the original stays until its rename).
    * Returns (partitions rewritten, files before, files after). */
  def compactPartial(maxFiles: Int = 8, maxRecordsPerFile: Long = 1000000L): (Long, Long, Long) = {
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(eventsPath))
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("event_date="))
    def filesIn(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")).toLong
    val before = parts.map(d => filesIn(d.getPath)).sum
    var rewritten = 0L
    parts.foreach { d =>
      if (filesIn(d.getPath) > maxFiles) {
        // Dot-prefixed siblings so partition discovery never sees them.
        val parent = d.getPath.getParent
        val tmp = new org.apache.hadoop.fs.Path(parent, "." + d.getPath.getName + ".compact")
        val aside = new org.apache.hadoop.fs.Path(parent, "." + d.getPath.getName + ".old")
        spark.read.schema(Schemas.cfAuditEvents).parquet(d.getPath.toString)
          .coalesce(1)
          .write.mode(SaveMode.Overwrite)
          .option("maxRecordsPerFile", maxRecordsPerFile)
          .parquet(tmp.toString)
        // Swap via rename-aside, not delete-then-rename: a crash between
        // the two renames leaves the data intact in the `.old` sibling
        // (recoverable by hand), instead of a window where the partition
        // is simply gone. Delete happens only after the new data is live.
        if (fs.exists(aside)) fs.delete(aside, true)
        renameOrAbort(d.getPath, aside)
        renameOrAbort(tmp, d.getPath)
        fs.delete(aside, true)
        rewritten += 1
      }
    }
    val after = fs.listStatus(new org.apache.hadoop.fs.Path(eventsPath))
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("event_date="))
      .map(d => filesIn(d.getPath)).sum
    (rewritten, before, after)
  }

  /** Z-order compaction: [[compact]] plus CLUSTERING — within each date
    * partition, rows are ordered by the Morton interleave of
    * (actor-guid hex prefix, time-of-day), so every output file carries a
    * NARROW min/max range on both `actor` and `created_at`. A stats-aware
    * scan for "events of actor X between t1 and t2" (the reference's
    * actor/actee index shape, create_cf_audit_events.sql:19-24) then
    * prunes multiplicatively at FILE granularity instead of reading the
    * whole day. The actor dimension uses the first 4 hex chars parsed as
    * an integer — ORDER-PRESERVING for fixed-charset guid strings, which
    * is what makes the plain string min/max footer stats selective (a
    * hash would cluster well but scatter the lexicographic stats).
    * Non-hex actors land in band 0 and simply cluster together.
    * All arithmetic is the exact-integer [[graft.operators.Layout]] form;
    * the z column steers the exchange and is dropped before write. */
  def compactZOrder(filesPerDay: Int = 8, maxRecordsPerFile: Long = 1000000L): (Long, Long) = {
    val a16 = F.coalesce(
      F.when(F.col("actor").rlike("^[0-9a-fA-F]{4}"),
        F.expr("CAST(conv(substring(actor, 1, 4), 16, 10) AS BIGINT) % 65536")),
      F.lit(0L))
    val tod = F.pmod(F.unix_micros(F.col("created_at")), F.lit(86400000000L))
    compactZOrder(Seq(a16, tod), filesPerDay, maxRecordsPerFile)
  }

  /** N-column z-order compaction — OPTIMIZE ZORDER BY an arbitrary
    * dimension LIST (the reference keeps 6 single-column indexes,
    * create_cf_audit_events.sql:19-24; created_at/org/space/event_type
    * are all plausible clustering dims). Each expression must evaluate
    * to a long (order-preserving for the column it stands in for);
    * [[graft.operators.Layout.zValueN]] min-max normalizes every dim
    * and interleaves at stride k. */
  def compactZOrder(dims: Seq[org.apache.spark.sql.Column], filesPerDay: Int,
                    maxRecordsPerFile: Long): (Long, Long) = {
    import graft.operators.Layout
    def countFiles(): Long = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(eventsPath), true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = countFiles()
    val days = fs.listStatus(new org.apache.hadoop.fs.Path(eventsPath))
      .count(d => d.isDirectory && d.getPath.getName.startsWith("event_date="))
      .max(1)
    val tmp = eventsPath + "_compact"
    Layout.zValueN(eventsWithDate, dims, "__z")
      .repartitionByRange(days * filesPerDay, F.col("event_date"), F.col("__z"))
      .sortWithinPartitions(F.col("event_date"), F.col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("event_date").parquet(tmp)
    swapTree(tmp, eventsPath)
    (before, countFiles())
  }

  /** Retention: drop whole partitions older than `cutoff` — an O(#dropped
    * partitions) metadata operation, the point of date-partitioned layout
    * (no rewrite, no row-level delete). Returns dropped partition count. */
  def expireBefore(cutoff: java.sql.Date): Long = {
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(eventsPath))
      .filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith("event_date="))
    val dropped = dirs.filter { d =>
      val v = d.getPath.getName.stripPrefix("event_date=")
      java.sql.Date.valueOf(v).before(cutoff)
    }
    dropped.foreach(d => fs.delete(d.getPath, true))
    dropped.length.toLong
  }

  override def updateShipperCursor(shipperName: String, updatedAt: String, shippedId: String): Unit = {
    import spark.implicits._
    // Reference passes the raw string and lets the DB cast (store.go:271-281).
    val ts = Timestamp.from(java.time.OffsetDateTime.parse(updatedAt).toInstant)
    val existing = cursors.filter(F.col("name") =!= shipperName).collect().toSeq
    val updated = existing :+ Row(shipperName, ts, shippedId)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(updated, 1), Schemas.shipperCursors)
    // Write tmp, then the rename-aside swap: a crash never leaves the
    // cursors only in a deleted tree (init() restores the `_old` sibling).
    val tmp = cursorsPath + "_tmp"
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    swapTree(tmp, cursorsPath)
  }
}
