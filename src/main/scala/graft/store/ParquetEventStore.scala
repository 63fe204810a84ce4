package graft.store

import java.nio.file.{Files, StandardCopyOption}
import java.sql.Timestamp
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FileContext, FileStatus, Options, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graftnative.{BloomFunctions, DriverParquet, LazySession}
import org.apache.spark.sql.types.DateType
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
  *  - **One write path, on the driver**: a collector page arrives as an
  *    [[EventPage]], rows already converted and CHECK-filtered on the
  *    driver, and is stored with no query plan; any other batch is
  *    CHECK-filtered by Spark and collected with `limit(MaxBatchRows + 1)`
  *    (no job when its plan folds to a `LocalRelation`, one otherwise).
  *    More than [[ParquetEventStore.MaxBatchRows]] valid rows is refused
  *    before any write. The store then dedups, numbers, blooms and appends
  *    the rows on the driver: each date's rows become one parquet file,
  *    written through Spark's own `ParquetWriteSupport` (`DriverParquet`)
  *    as a hidden `.<name>.tmp` sibling inside `event_date=<date>/` and
  *    renamed to its `part-<uuid>.c000.<codec>.parquet` name once every
  *    file of the batch is written. Readers list no dot file, so a crash
  *    before a rename leaves nothing visible, and `init` deletes such
  *    files. The append writes no `_SUCCESS` marker. A collector page
  *    launches no Spark job: per-job launch cost, not data volume, bounded
  *    the daemon.
  *  - **A Spark-free `init`**: a fresh warehouse's events table is a bare
  *    directory (what an empty partitioned Spark write leaves, minus
  *    `_SUCCESS`; every reader passes the schema) and its cursor table one
  *    empty `DriverParquet` file, so opening it runs no Spark job and
  *    builds no query plan.
  *  - **A session on first scan**: the store reads the session's two
  *    confs (`LazySession`) for its driver-side work: the filesystem, the
  *    parquet writes, the zone. Only a scan builds the session: the
  *    recovery reads behind the sidecars, the exact dedup probe, a bloom
  *    rebuild, an unshipped read the tail cannot answer, a cursor re-read,
  *    and the DataFrame members. A fresh warehouse's whole path needs none.
  *  - **Bloom-gated dedup probe**: each scoped partition's
  *    `_bloom_guid/<date>` sidecar is probed per guid. The store keeps each
  *    date's deserialized filter on the driver while the sidecar's
  *    modification time is the one it read or wrote, puts a batch's guids
  *    straight into it, and writes the sidecar at every commit. Only
  *    bloom-positive guids (every guid, for a partition with no readable
  *    sidecar) go to one exact `guid IN (...)` scan over the partitions
  *    that matched; with no positives there is no probe job. Blooms have no
  *    false negatives, so the dedup stays exact.
  *  - **The tail of this store's own appends**: the driver holds the last
  *    rows this store appended, in (created_at, UTF-8 guid) order, at most
  *    [[ParquetEventStore.MaxBatchRows]] of them (about 10 MB at 1 KB per
  *    event), and a watermark. Invariant: every table row with
  *    `created_at` above the watermark is in the tail. The watermark starts at epoch for a table
  *    `init` created, and otherwise at the exact `max(created_at)` scanned
  *    at this store's first append (never `_stats_latest`, which lags the
  *    data after a crash); until then the tail is unknown and unused. Rows
  *    join only after their append returned; evicting the oldest past the
  *    cap raises the watermark to the highest evicted `created_at`, and
  *    `expireBefore` makes the tail unknown again. Two reads use it:
  *    a batch guid held in the tail with an in-scope date is stored, so
  *    it skips the probe (an overlap re-fetch runs no job), and an
  *    unshipped read whose cursor is strictly above the watermark is
  *    answered from the tail, with no Spark job (as rows, with no query
  *    plan either, for the shipper). An
  *    epoch watermark answers every cursor, the epoch one of a fresh
  *    shipper included: the CHECK keeps no row at or before the epoch, so
  *    that tail holds the whole table.
  *  - **Sidecars are replaced, never rewritten in place**: `_stats_*` and
  *    `_bloom_guid/<date>` are written to a hidden temporary sibling and
  *    renamed over the old file, so the informer thread reading
  *    `_stats_count` beside a commit sees the old value or the new one.
  *  - **Latest-time read from a sidecar**: `commit` keeps max(created_at)
  *    in `_stats_latest` (epoch micros), written after the append, so it
  *    lags the data after a crash and never leads it. The collector and the
  *    informer read it with no Spark job. Without a readable sidecar the
  *    read falls back to `max(created_at)` over the latest partition.
  *  - **Cursor writes are O(#shippers), on the driver**: the store holds the
  *    cursor rows it last read or wrote, valid while the `shipper_cursors`
  *    listing is the one it wrote (any other listing, such as a hand edit,
  *    is re-read once through Spark). An upsert writes one parquet file on
  *    the driver (through `DriverParquet`, as the append does) and swaps it
  *    in with a rename-aside swap, and the unshipped plan takes the
  *    resolved cursor as literals; a shipper tick the tail answers runs no
  *    Spark job, any other runs one, its scan. At any scale #shippers is
  *    tiny.
  */
final class ParquetEventStore(session: LazySession, warehouseDir: String) extends EventStore {
  import ParquetEventStore.{MaxBatchRows, Tail, TailRow}

  private val eventsPath = s"$warehouseDir/cf_audit_events"
  private val cursorsPath = s"$warehouseDir/shipper_cursors"

  /** The session, built on first use: only scans ask for it. */
  private def spark: SparkSession = session.session

  private def fs = org.apache.hadoop.fs.FileSystem.get(session.hadoopConf)

  private def exists(p: String): Boolean = fs.exists(new Path(p))

  override def init(): Unit = {
    // Idempotent, like the reference's in-transaction DDL (store.go:55-71),
    // and Spark-free: no job, no query plan.
    if (!exists(eventsPath)) {
      fs.mkdirs(new Path(eventsPath)) // an empty table: no partition yet
      // A table created here is empty, so its sidecars start exact and the
      // first batch needs no recovery scan.
      writeSidecar(maxIdPath, 0L)
      writeStatsCount(0L)
      writeSidecar(latestPath, 0L) // epoch, the empty-table sentinel
      tail = Some(Tail(Vector.empty, 0L))
    }
    // A crash inside updateShipperCursor's swap can leave the live cursor
    // table renamed aside, complete: bring it back rather than start empty.
    if (!exists(cursorsPath) && exists(cursorsPath + "_old"))
      renameOrAbort(new Path(cursorsPath + "_old"), new Path(cursorsPath))
    // One empty file; the table is then known empty, so it needs no first read.
    if (!exists(cursorsPath)) writeCursors(Nil)
    // Files of an append that crashed before its rename.
    Option(fs.globStatus(new Path(eventsPath, "event_date=*/.part-*.tmp"))).toSeq.flatten
      .foreach(f => fs.delete(f.getPath, false))
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
    // One CHECK filter (R21) and one projection: the event columns, the id
    // assigned below.
    val cols = Schemas.cfAuditEvents.fieldNames.toSeq.map(c => if (c == "id") F.lit(0L).as(c) else F.col(c))
    val rows = batch.filter(AuditQueries.passesCheck).select(cols: _*)
      .limit(MaxBatchRows + 1).collect() // a local batch: no job
    storeChecked(EventPage.checked(rows.toSeq, EventPage.sessionZone(session.sqlConf)))
  }

  override def storeCFAuditEventPage(page: EventPage): Long = storeChecked(page.checked)

  /** Stores rows that passed the CHECK, with their event dates, after
    * refusing more than [[ParquetEventStore.MaxBatchRows]] of them. */
  private def storeChecked(rows: IndexedSeq[(Row, LocalDate)]): Long = {
    if (rows.length > MaxBatchRows)
      throw new IllegalArgumentException(
        s"batch has more than $MaxBatchRows valid rows; store it in pages of at most $MaxBatchRows")
    storeOnDriver(rows)
  }

  private val eventsWithDateSchema = Schemas.cfAuditEvents.add("event_date", DateType)
  private val idIdx = Schemas.cfAuditEvents.fieldIndex("id")
  private val guidIdx = Schemas.cfAuditEvents.fieldIndex("guid")
  private val createdIdx = Schemas.cfAuditEvents.fieldIndex("created_at")

  /** Spark's string order (UTF-8 bytes, nulls first), the guid tiebreak
    * of `AuditQueries.assignIngestSeq`, reproduced on the driver. */
  private val guidOrder: Ordering[String] = (a, b) =>
    if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
    else UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  private val ingestOrder: Ordering[Row] = (a, b) => {
    val t = a.getTimestamp(createdIdx).compareTo(b.getTimestamp(createdIdx))
    if (t != 0) t else guidOrder.compare(a.getString(guidIdx), b.getString(guidIdx))
  }

  /** See the class doc; None while unknown. Written by the appending thread
    * (and `expireBefore`), read by the shipper's. */
  @volatile private var tail: Option[Tail] = None

  /** `prior` with `added` (rows just appended), cut to the oldest-first
    * cap. The sort is stable, so rows that tie (NULL guids) stay in id order. */
  private def extended(prior: Tail, added: Seq[TailRow]): Tail = {
    val all = (prior.rows ++ added).sortBy(_.row)(ingestOrder)
    val cut = all.length - MaxBatchRows
    if (cut <= 0) Tail(all, prior.watermark)
    else Tail(all.drop(cut), math.max(prior.watermark, all(cut - 1).at))
  }

  /** Stores checked rows (event columns) with their event dates: first
    * row per guid, dedup against the overlap scope, ids in (created_at,
    * guid) order, per-date blooms, the append on the driver. No Spark job
    * runs unless a bloom sidecar in scope matches a batch guid the tail
    * does not hold. */
  private def storeOnDriver(rows: IndexedSeq[(Row, LocalDate)]): Long = {
    val fresh = rows.distinctBy(_._1.getString(guidIdx)) // first occurrence per guid wins
    if (fresh.isEmpty) return 0L
    val minDay = fresh.map(_._2).min
    val scope = partitionDates
      .filter(d => Try(LocalDate.parse(d)).toOption.exists(!_.isBefore(minDay)))
    // A guid the tail holds at an in-scope date is stored; the rest are
    // probed. Blooms have no false negatives: only bloom-positive guids
    // (all guids where a scoped partition has no readable sidecar) can be.
    val prior = tail
    val inTail = (g: String) => prior.exists(_.holds(g, minDay))
    val guids = fresh.map(_._1.getString(guidIdx)).filter(g => g != null && !inTail(g))
      .map(g => g -> BloomFunctions.hashDriver(g))
    val positives = scope.flatMap { d =>
      val bf = bloomOf(d)
      guids.collect { case (g, h) if bf.forall(_.mightContainLong(h)) => d -> g }
    }
    val stored =
      if (positives.isEmpty) Set.empty[String]
      else spark.read.schema(Schemas.cfAuditEvents)
        .parquet(positives.map(_._1).distinct.map(d => s"$eventsPath/event_date=$d"): _*)
        .filter(F.col("guid").isin(positives.map(_._2).distinct: _*))
        .select("guid").collect().map(_.getString(0)).toSet
    val kept = fresh.filterNot { case (r, _) =>
      val g = r.getString(guidIdx)
      inTail(g) || stored.contains(g)
    }.sortBy(_._1)(ingestOrder)
    val n = kept.length.toLong
    if (n > 0) {
      // Before the append: the exact max the rows above it are measured from.
      val tailBefore = prior.getOrElse(Tail(Vector.empty, micros(scanLatest())))
      val base = maxId()
      val added = kept.zipWithIndex.map { case ((r, d), i) =>
        TailRow(Row.fromSeq(r.toSeq.updated(idIdx, base + 1 + i)), micros(r.getTimestamp(createdIdx)), d)
      }
      val byDay = added.groupMap(_.day.toString)(_.row)
      commit(base, n, byDay.view.mapValues(_.map(_.getString(guidIdx))).toSeq, added.map(_.at).max) {
        append(byDay)
        // Only now are the rows in the table; a throwing append adds none.
        tail = Some(extended(tailBefore, added))
      }
    }
    n
  }

  /** The append, on the driver: each date's rows as one parquet file in
    * its `event_date=` directory. Every file is first written as a hidden
    * `.<name>.tmp` sibling, which no reader lists, and renamed to its
    * `part-` name only once all of them are written; a crash before a
    * rename leaves only hidden files, which `init` deletes. */
  private def append(byDay: Map[String, Seq[Row]]): Unit = {
    val files = byDay.toSeq.map { case (day, rows) =>
      val dir = new Path(eventsPath, s"event_date=$day")
      val name = DriverParquet.fileName(session)
      val tmp = new Path(dir, s".$name.tmp")
      DriverParquet.write(session, tmp, Schemas.cfAuditEvents, rows)
      tmp -> new Path(dir, name)
    }
    files.foreach { case (tmp, dst) => StoreIO.renameOrAbort(fs, tmp, dst, "event-store append") }
  }

  /** The durable steps of a store, in crash-safe order. `guidsByDay`
    * holds the batch's guids per date; `batchLatest` is the batch's max
    * created_at in epoch micros. */
  private def commit(base: Long, n: Long, guidsByDay: Seq[(String, Seq[String])], batchLatest: Long)
                    (append: => Unit): Unit = {
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
    // costs a false-positive dedup probe; one that under-approximates
    // would let a re-fetched guid skip the probe and be stored twice.
    guidsByDay.foreach { case (d, guids) =>
      val bf = bloomOf(d).getOrElse(rebuiltBloom(d))
      BloomFunctions.putDriver(bf, guids)
      writeBytes(bloomPath(d), BloomFunctions.toBytes(bf))
      blooms(d) = (fs.getFileStatus(bloomPath(d)).getModificationTime, bf)
    }
    append
    writeStatsCount(countBefore + n) // reltuples analog
    // After the append, so a crash leaves it behind the data, never ahead.
    // A lost sidecar is rebuilt here from the table, which holds the batch.
    val latest = readSidecar(latestPath).getOrElse(micros(scanLatest()))
    writeSidecar(latestPath, math.max(latest, batchLatest))
  }

  // Fixed per store so every sidecar is mergeInPlace-compatible.
  private val bloomItems = 1L << 20
  private val bloomBits = 1L << 23

  private def bloomPath(date: String) =
    new Path(s"$warehouseDir/_bloom_guid/$date")

  private def readBytes(p: Path): Option[Array[Byte]] =
    if (!fs.exists(p)) None
    else { val in = fs.open(p); try Some(in.readAllBytes()) finally in.close() }

  /** Each date's deserialized bloom sidecar with the modification time of
    * the file it was read from or written to. Only the appending thread
    * uses it. */
  private val blooms = mutable.Map.empty[String, (Long, BloomFilter)]

  /** The date's sidecar filter, None when the sidecar is absent,
    * unreadable or not of the store's fixed sizing (a probe then takes
    * every guid as positive, and a commit rebuilds the sidecar). The held
    * filter serves while the sidecar's modification time is the one it was
    * read or written with, so a sidecar deleted or replaced since is seen;
    * one replaced within the same millisecond is not (the sidecars are
    * this store's own files). Its length would add nothing: every sidecar
    * of the fixed sizing has the same length. */
  private def bloomOf(d: String): Option[BloomFilter] = {
    val p = bloomPath(d)
    Try(fs.getFileStatus(p)).toOption match {
      case None =>
        blooms.remove(d)
        None
      case Some(now) => blooms.get(d) match {
        case Some((was, bf)) if was == now.getModificationTime => Some(bf)
        case _ =>
          blooms.remove(d)
          val bf = Try(readBytes(p).map(b => BloomFilter.readFrom(b))).toOption.flatten
            .filter(_.bitSize == bloomBits)
          bf.foreach(f => blooms(d) = (now.getModificationTime, f))
          bf
      }
    }
  }

  /** The one sidecar writer: writes a hidden temporary sibling, then
    * renames it over `p`, so a concurrent reader sees the old bytes or the
    * new ones, never a truncated or missing file. On a local filesystem
    * Hadoop will not rename onto an existing file, and FileContext's
    * OVERWRITE deletes the target first, so the sidecar goes through
    * rename(2), which replaces atomically; it is written without a `.crc`
    * (a stale one from an in-place write is removed), so no checksum can
    * disagree with it. Elsewhere (HDFS) FileContext's OVERWRITE rename is
    * the atomic replace. */
  private def writeBytes(p: Path, b: Array[Byte]): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp")
    if (fs.getUri.getScheme == "file") {
      def local(q: Path) = new java.io.File(fs.makeQualified(q).toUri).toPath
      Files.createDirectories(local(p.getParent))
      Files.write(local(tmp), b)
      Files.deleteIfExists(local(new Path(p.getParent, s".${p.getName}.crc")))
      Files.move(local(tmp), local(p), StandardCopyOption.ATOMIC_MOVE)
    } else {
      val out = fs.create(tmp, true)
      try out.write(b) finally out.close()
      FileContext.getFileContext(fs.getUri, session.hadoopConf)
        .rename(tmp, p, Options.Rename.OVERWRITE)
    }
  }

  /** A date's filter when its sidecar is lost or unusable: the
    * partition already on disk re-aggregated (a filter of the batch alone
    * would miss the partition's rows, and a later re-fetch of one would be
    * stored twice), or an empty filter when there is no partition yet. */
  private def rebuiltBloom(d: String): BloomFilter = {
    val dir = s"$eventsPath/event_date=$d"
    if (!fs.isDirectory(new Path(dir))) BloomFilter.create(bloomItems, bloomBits)
    else BloomFilter.readFrom(spark.read.schema(Schemas.cfAuditEvents).parquet(dir)
      .agg(BloomSupport.bloomAgg(F.col("guid"), bloomItems, bloomBits).as("bf"))
      .head.getAs[Array[Byte]]("bf"))
  }

  /** The `event_date=` partition directories. */
  private def partitionDirs: Seq[FileStatus] =
    fs.listStatus(new Path(eventsPath))
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("event_date="))
      .toSeq

  /** Date values of the `event_date=` partition directories. */
  private def partitionDates: Seq[String] =
    partitionDirs.map(_.getPath.getName.stripPrefix("event_date="))

  /** Parquet files anywhere under the events table. */
  private def countFiles(): Long = {
    val it = fs.listFiles(new Path(eventsPath), true)
    var n = 0L
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    n
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

  override def getLatestCFEventTime(): Timestamp =
    readSidecar(latestPath).map(fromMicros).getOrElse(scanLatest())

  /** The recovery read behind `_stats_latest`: max(created_at), epoch when empty. */
  private def scanLatest(): Timestamp = {
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

  private def statsPath = new Path(s"$warehouseDir/_stats_count")
  private def maxIdPath = new Path(s"$warehouseDir/_stats_maxid")
  private def latestPath = new Path(s"$warehouseDir/_stats_latest")

  private def micros(ts: Timestamp): Long = DateTimeUtils.instantToMicros(ts.toInstant)
  private def fromMicros(us: Long): Timestamp = Timestamp.from(DateTimeUtils.microsToInstant(us))

  /** A sidecar's value; None when it is absent or unreadable (a torn read
    * beside a concurrent rewrite included), and the caller recovers. */
  private def readSidecar(p: Path): Option[Long] =
    Try(readBytes(p).map(b => new String(b, "UTF-8").trim.toLong)).toOption.flatten

  private def writeSidecar(p: Path, v: Long): Unit = writeBytes(p, v.toString.getBytes("UTF-8"))

  private def readStatsCount(): Option[Long] = readSidecar(statsPath)

  private def writeStatsCount(total: Long): Unit = writeSidecar(statsPath, total)

  override def getUnshippedCFAuditEventsForShipper(shipperName: String): DataFrame =
    unshipped(shipperName).fold(identity, rows => spark.createDataFrame(rows.asJava, EventPage.schema))

  override def getUnshippedCFAuditEventRowsForShipper(shipperName: String): Seq[Row] =
    unshipped(shipperName).fold(_.collect().toSeq, identity)

  /** The unshipped rows from the tail when it holds every row at or after
    * the cursor (Right), else the scan that reads them (Left). */
  private def unshipped(shipperName: String): Either[DataFrame, Seq[Row]] = {
    // Resolve the cursor on the driver (the reference's scalar subquery).
    val (ts, guid) = AuditQueries.lastShippedOf(cursorRows(), shipperName)
    val from = micros(ts)
    // An epoch watermark means the tail holds every table row: the CHECK
    // keeps only rows after the epoch. So it answers the epoch cursor too.
    tail.filter(t => t.watermark == 0L || t.watermark < from) match {
      case Some(t) =>
        // unshippedAfter's filter, order, cap and guid anti-filter (NULL on
        // either side drops the row), on the driver.
        Right(t.rows.iterator.filter(_.at >= from).take(MaxBatchRows).map(_.row)
          .filter { r => val g = r.getString(guidIdx); guid != null && g != null && g != guid }.toSeq)
      case None =>
        // Plan with the cursor as literals, so building the plan runs no
        // job. It also becomes a PARTITION predicate: the query's own filter
        // is on created_at, which prunes files via footer stats but not
        // partitions — event_date >= date(cursor) prunes whole partitions,
        // keeping this scan O(unshipped days) on a 100 TB table.
        val pruned = eventsWithDate.filter(F.col("event_date") >= F.to_date(F.lit(ts)))
        Left(AuditQueries.unshippedAfter(pruned, F.lit(ts), F.lit(guid), Schemas.cfAuditEvents.fieldNames.toSeq))
    }
  }

  /** The cursor rows last read or written, and the `shipper_cursors`
    * listing they belong to. Only the shipper thread reads or writes them. */
  @volatile private var cursorCache: Option[(Seq[(String, Long, Long)], Seq[Row])] = None

  /** (name, length, modification time) of every entry of `shipper_cursors`. */
  private def cursorListing(): Seq[(String, Long, Long)] =
    fs.listStatus(new Path(cursorsPath)).toSeq
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1)

  /** The cursor rows, read through Spark only when the listing is not the
    * one this store last read or wrote: a hand edit or another writer's
    * files (INT96 timestamps, several part files) are picked up on the
    * next call. */
  private def cursorRows(): Seq[Row] = {
    val listing = cursorListing()
    cursorCache match {
      case Some((l, rows)) if l == listing => rows
      case _ =>
        val rows = cursors.collect().toSeq
        cursorCache = Some((listing, rows))
        rows
    }
  }

  private def renameOrAbort(from: Path, to: Path): Unit =
    StoreIO.renameOrAbort(fs, from, to, "event-store swap")

  /** Rename-aside swap of a whole tree: the live tree is moved aside (not
    * deleted) before the new tree's rename, so a crash at any point leaves
    * the data recoverable — either the live tree is still in place, or it
    * sits complete in the `aside` sibling (`_old` by default). Delete runs
    * only after the new tree is live, and only if both renames succeeded. */
  private def swapTree(tmp: Path, live: Path, aside: Path): Unit = {
    if (fs.exists(aside)) fs.delete(aside, true)
    renameOrAbort(live, aside)
    renameOrAbort(tmp, live)
    fs.delete(aside, true)
  }

  private def swapTree(tmp: String, live: String): Unit =
    swapTree(new Path(tmp), new Path(live), new Path(live + "_old"))

  /** Compact the events table: micro-batch ingest writes one file per page
    * per partition, and at 100 TB the small-files problem kills scan
    * performance. Rewrites every partition with `maxRecordsPerFile`-bounded
    * files into a fresh directory and swaps it in. An offline maintenance
    * op (single-writer store; run between collector ticks, or per-partition
    * for live tables). Returns (files before, files after). */
  def compact(maxRecordsPerFile: Long = 1000000L): (Long, Long) = {
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
    def filesIn(p: Path): Long =
      fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")).toLong
    val parts = partitionDirs
    val before = parts.map(d => filesIn(d.getPath)).sum
    var rewritten = 0L
    parts.foreach { d =>
      if (filesIn(d.getPath) > maxFiles) {
        // Dot-prefixed siblings so partition discovery never sees them.
        val parent = d.getPath.getParent
        val tmp = new Path(parent, "." + d.getPath.getName + ".compact")
        val aside = new Path(parent, "." + d.getPath.getName + ".old")
        spark.read.schema(Schemas.cfAuditEvents).parquet(d.getPath.toString)
          .coalesce(1)
          .write.mode(SaveMode.Overwrite)
          .option("maxRecordsPerFile", maxRecordsPerFile)
          .parquet(tmp.toString)
        swapTree(tmp, d.getPath, aside)
        rewritten += 1
      }
    }
    val after = partitionDirs.map(d => filesIn(d.getPath)).sum
    (rewritten, before, after)
  }

  /** Retention: drop whole partitions older than `cutoff` — an O(#dropped
    * partitions) metadata operation, the point of date-partitioned layout
    * (no rewrite, no row-level delete). The dropped dates' bloom sidecars
    * go with them, and `_stats_count` is rewritten from an exact count.
    * Returns dropped partition count. */
  def expireBefore(cutoff: java.sql.Date): Long = {
    val dropped = partitionDirs.filter { d =>
      val v = d.getPath.getName.stripPrefix("event_date=")
      java.sql.Date.valueOf(v).before(cutoff)
    }
    if (dropped.nonEmpty) {
      tail = None // the next append re-reads the watermark from the table
      // Both go before the data: a crash then leaves them absent, and the
      // next read or commit rebuilds them from the table.
      fs.delete(statsPath, false)
      fs.delete(latestPath, false) // the newest partition may be gone
      dropped.foreach(d => fs.delete(d.getPath, true))
      // After the data: a bloom left behind only over-approximates.
      dropped.foreach(d => fs.delete(bloomPath(d.getPath.getName.stripPrefix("event_date=")), false))
      writeStatsCount(AuditQueries.eventCount(events))
    }
    dropped.length.toLong
  }

  override def updateShipperCursor(shipperName: String, updatedAt: String, shippedId: String): Unit = {
    // Reference passes the raw string and lets the DB cast (store.go:271-281).
    val ts = Timestamp.from(java.time.OffsetDateTime.parse(updatedAt).toInstant)
    val existing = cursorRows().filter(r => !r.isNullAt(0) && r.getString(0) != shipperName)
    writeCursors(existing :+ Row(shipperName, ts, shippedId))
  }

  /** Writes the cursor table as one parquet file on the driver, into a
    * `_tmp` tree that replaces the live one by the rename-aside swap (a
    * crash never leaves the cursors only in a deleted tree; `init` restores
    * the `_old` sibling), and holds its rows. */
  private def writeCursors(rows: Seq[Row]): Unit = {
    val tmp = new Path(cursorsPath + "_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    DriverParquet.write(session, new Path(tmp, "part-00000-cursors.parquet"), Schemas.shipperCursors, rows)
    if (exists(cursorsPath)) swapTree(tmp.toString, cursorsPath)
    else renameOrAbort(tmp, new Path(cursorsPath))
    cursorCache = Some((cursorListing(), rows))
  }
}

object ParquetEventStore {
  /** Most valid rows one `storeCFAuditEvents` call takes, and most rows the
    * tail holds: the ship batch cap (store.go:206). A collector page is at
    * most 100 rows. */
  val MaxBatchRows = 8192

  private val GuidIdx = Schemas.cfAuditEvents.fieldIndex("guid")

  /** A row this store appended (event columns), its `created_at` in epoch
    * micros and its `event_date`. */
  private final case class TailRow(row: Row, at: Long, day: LocalDate)

  /** `rows` in (created_at, guid) order; every table row with
    * `created_at` above `watermark` (epoch micros) is among them. */
  private final case class Tail(rows: Vector[TailRow], watermark: Long) {
    private lazy val latestDay: Map[String, LocalDate] =
      rows.groupMapReduce(_.row.getString(GuidIdx))(_.day)((a, b) => if (a.isAfter(b)) a else b)

    /** Whether a row of `guid` is held at a date on or after `day`. */
    def holds(guid: String, day: LocalDate): Boolean =
      guid != null && latestDay.get(guid).exists(!_.isBefore(day))
  }
}
