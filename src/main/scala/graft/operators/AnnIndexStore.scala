package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, functions => F}

/** Persisted IVF+PQ ANN index — train-rarely / encode-always.
  *
  * A 100 TB corpus APPENDS; retraining the coarse quantizer and codebooks
  * inside every search (what [[Similarity.ivfPqTopK]] does, fine for a
  * one-shot batch job) re-scans the whole corpus per run. This store splits
  * the lifecycle the way the reference's collector splits
  * persist-state/process-delta (`pkg/collectors/cf_audit_event_collector.go:92-104`):
  *
  *  - [[build]] — ONCE (or rarely): Lloyd-train the IVF centroids + PQ
  *    codebooks, snap them to fixed precision ([[Similarity.snapCentroids]]),
  *    persist the model, encode the corpus and persist `(cid, cell,
  *    pq_code)`;
  *  - [[append]] — per new batch: encode ONLY the batch against the FROZEN
  *    model (a deterministic map-only pass) and append its codes;
  *  - [[search]] — per query run: read the codes table and run the
  *    cell-partitioned ADC search ([[Similarity.ivfPqSearchFromIndex]]) —
  *    no training, no corpus re-encode.
  *
  * Because encoding is per-row deterministic against the frozen model,
  * `build(b1); append(b2)` holds exactly the same codes as
  * `build(b1 ∪ b2)` would with the same model — incremental appends lose
  * nothing (spec'd in AnnIndexStoreSpec).
  *
  * Layout under `dir`:
  *  - `model.txt` — snapped doubles, text format (Double.toString
  *    round-trips exactly, so the reloaded model is bit-identical and the
  *    literals can still be mirrored into an oracle);
  *  - `codes/` — a parquet table `(cid long, cell int, pq_code array<int>)`
  *    PARTITIONED by `batch_id` and BUCKETED by `cell` into
  *    [[AnnIndexStore.CodesBuckets]] buckets, registered in the session
  *    catalog (external table at this path). `cell` is the serve join's
  *    key, so the physical layout follows the query predicate — the R22
  *    lesson (`create_cf_audit_events.sql:19-24`): the bucketed scan
  *    reports HashPartitioning(cell, B) and the serve join needs NO
  *    exchange on the index side (asserted in PlanSpec). `batch_id`
  *    partitioning keeps appends and streaming replays (overwrite one
  *    partition) independent of every other batch;
  *  - `claims/` — one zero-byte `batch-N.claim` per allocated batch id.
  *    [[append]] allocates ids by ATOMIC claim (an O_EXCL create that
  *    exactly one appender wins per id): two racing appenders serialize
  *    onto distinct ids instead of both computing the same listStatus
  *    max+1 and silently overwriting each other's partition.
  *
  * At cluster scale `dir` is any Hadoop-FS path (all I/O goes through the
  * path's FileSystem).
  */
final class AnnIndexStore(spark: SparkSession, dir: String) {
  import AnnIndexStore.{CodesBuckets, Model}

  private val modelFile = s"$dir/model.txt"
  private val codesPath = s"$dir/codes"
  private val claimsPath = s"$dir/claims"
  /** Catalog name for the external codes table — content-addressed by the
    * store directory so distinct stores in one session never collide. */
  private[operators] val codesTable: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"graft_ann_codes_${md.take(16)}"
  }

  private def fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new org.apache.hadoop.fs.Path(modelFile))

  /** Train on `embeddings`, persist the snapped model, encode and persist
    * the full corpus' codes (overwriting any prior index). The initial
    * corpus writes as batch −1. */
  def build(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      m: Int,
      kCodes: Int,
      iters: Int = 3,
      dim: Int = 64): Unit = {
    val (cents, books) = Similarity.trainIvfPqModel(
      embeddings, idCol, vecCol, nCentroids, m, kCodes, iters, dim)
    writeModel(Model(cents, books))
    spark.sql(s"DROP TABLE IF EXISTS $codesTable")
    val root = new org.apache.hadoop.fs.Path(codesPath)
    if (fs.exists(root)) fs.delete(root, true)
    fs.delete(new org.apache.hadoop.fs.Path(claimsPath), true)
    encodeAll(embeddings, idCol, vecCol, cents, books)
      .withColumn("batch_id", F.lit(-1L))
      .write.mode(SaveMode.Overwrite)
      .option("path", codesPath)
      .partitionBy("batch_id")
      .bucketBy(CodesBuckets, "cell")
      .sortBy("cell")
      .saveAsTable(codesTable)
  }

  /** Full index row encode: PQ codes + cell from the frozen model, PLUS
    * the 1-bit sign words ([[Quantization.binarize]]) — the binary tier
    * of [[searchTiered]] scans these 16 B/vector words instead of
    * re-encoding vectors. One extra map-only pass joined on id. */
  private def encodeAll(
      batch: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): DataFrame =
    Similarity.ivfPqEncodeForIndex(batch, idCol, vecCol, cents, books)
      .join(Quantization.binarize(batch, idCol, vecCol)
        .select(F.col("vec_id").as("cid"), F.col("b_lo"), F.col("b_hi")), "cid")
      .select("cid", "cell", "pq_code", "b_lo", "b_hi")

  /** Encode a NEW batch against the frozen persisted model and append its
    * codes — the model is never retrained here. The batch id is allocated
    * by atomic claim, so CONCURRENT appenders land in distinct partition
    * directories (spec'd with racing threads in AnnIndexStoreSpec). */
  def append(batch: DataFrame, idCol: String, vecCol: String): Unit =
    appendBatchIdempotent(batch, idCol, vecCol, claimBatchId())

  /** Replay-IDEMPOTENT append for streaming ingest: the batch's codes land
    * in their own `batch_id=<n>` partition with overwrite semantics, so a
    * re-run micro-batch (foreachBatch is at-least-once) REWRITES identical
    * rows instead of appending duplicates — the
    * [[graft.streaming.StreamingDedup]] survivor-sink pattern applied to
    * the index. Encoding is deterministic against the frozen model, so the
    * rewrite is byte-stable. (Streaming batch ids come from the engine's
    * checkpoint, not from [[claimBatchId]]: the checkpoint IS the claim.) */
  def appendBatchIdempotent(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      batchId: Long): Unit = {
    val Model(cents, books) = model
    ensureTable()
    // DYNAMIC partition overwrite: replaces exactly this batch's
    // `batch_id` partition, and — unlike a static-partition INSERT
    // OVERWRITE, which stages under the shared `<table>/_temporary/0` —
    // stages each job in its own `.spark-staging-<jobUUID>` directory, so
    // CONCURRENT appenders committing different partitions never delete
    // each other's staging (the racing-appender spec exercises exactly
    // this). Dynamic mode is only honored as a SESSION conf (the per-write
    // option is ignored by insertInto), so the conf flip is scoped by a
    // re-entrant per-session guard: the flip/restore happens at depth
    // 0↔1, never mid-way through a concurrent appender on the same
    // session. The catalog's bucket spec makes the write bucketed;
    // insertInto binds by position with the partition column last.
    AnnIndexStore.withDynamicOverwrite(batch.sparkSession) {
      encodeAll(batch, idCol, vecCol, cents, books)
        .withColumn("batch_id", F.lit(batchId))
        .write.mode(SaveMode.Overwrite)
        .insertInto(codesTable)
    }
  }

  /** Allocate the next batch id by ATOMIC claim-file create (O_EXCL: the
    * create fails if the file exists, so one appender wins each id; on
    * S3-style stores swap the create for a conditional PUT). A plain listStatus
    * max+1 lets two racing appenders claim the same id and the second
    * overwrite silently replace the first's codes. */
  private def claimBatchId(): Long = {
    val claims = new org.apache.hadoop.fs.Path(claimsPath)
    fs.mkdirs(claims)
    val claimed = fs.listStatus(claims).map(_.getPath.getName).collect {
      case n if n.startsWith("batch-") && n.endsWith(".claim") =>
        n.stripPrefix("batch-").stripSuffix(".claim").toLong
    }
    // also one past any id already present as a partition (streaming ids
    // arrive via the checkpoint, not a claim)
    val root = new org.apache.hadoop.fs.Path(codesPath)
    val present =
      if (!fs.exists(root)) Array.empty[Long]
      else fs.listStatus(root).map(_.getPath.getName).collect {
        case n if n.startsWith("batch_id=") => n.stripPrefix("batch_id=").toLong
      }
    var id = ((claimed ++ present).foldLeft(-1L)(math.max) + 1L).max(0L)
    while (!claim(id)) id += 1L
    id
  }

  private def claim(id: Long): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(claimsPath, f"batch-$id%012d.claim")
      if (fs.getScheme == "file") new java.io.File(p.toUri.getPath).createNewFile()
      else { val o = fs.create(p, false); o.close(); true }
    } catch { case _: java.io.IOException => false }

  /** Re-register the external bucketed table after a JVM restart (catalog
    * is in-memory; the data and model outlive it). */
  private def ensureTable(): Unit =
    if (!spark.catalog.tableExists(codesTable)) {
      spark.sql(
        s"CREATE TABLE $codesTable (cid BIGINT, cell INT, pq_code ARRAY<INT>, " +
          s"b_lo BIGINT, b_hi BIGINT, batch_id BIGINT) " +
          s"USING PARQUET PARTITIONED BY (batch_id) " +
          s"CLUSTERED BY (cell) INTO $CodesBuckets BUCKETS " +
          s"LOCATION '$codesPath'")
      spark.sql(s"ALTER TABLE $codesTable RECOVER PARTITIONS")
    }

  /** The persisted `(cid, cell, pq_code)` index across all batches, read
    * through the catalog table so the scan carries the bucket spec
    * (HashPartitioning on `cell`) and the pinned schema — never
    * footer-sampled (the [[IncrementalDedup.BucketStore]] lesson). */
  def codes: DataFrame = {
    ensureTable()
    spark.table(codesTable).select("cid", "cell", "pq_code")
  }

  /** The full index rows including the binary-tier sign words. */
  def codesAll: DataFrame = {
    ensureTable()
    spark.table(codesTable).select("cid", "cell", "pq_code", "b_lo", "b_hi")
  }

  /** Serve a self-ANN search from the persisted index: probe cells and the
    * exact rerank use `embeddings`' raw vectors; candidates come from the
    * codes TABLE, not a re-encode. The probe side co-partitions to the
    * codes table's bucket count, so the index side of the cell join is
    * exchange-free (PlanSpec: no ShuffleExchange ever outputs `pq_code`). */
  def search(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      nprobe: Int,
      shortlist: Int,
      k: Int): DataFrame = {
    val Model(cents, books) = model
    Similarity.ivfPqSearchFromIndex(
      embeddings, idCol, vecCol, codes, cents, books, nprobe, shortlist, k,
      codedBuckets = Some(CodesBuckets))
  }

  /** The three-tier cascade SERVED from the persisted index — the
    * production form of [[Quantization.tieredTopK]]: tier 1 scans the
    * STORED 16 B/vector sign words (no re-encode, no float vector), tier 2
    * re-scores the Hamming shortlist from the STORED m-byte PQ codes via
    * per-query ADC tables, tier 3 joins only `adcShortlist` ids per query
    * back to `embeddings`' raw vectors for the exact cosine top-k. The
    * index is touched twice, both times by its natural key (full scan of
    * the words; cid-join for the shortlist's codes). */
  def searchTiered(
      embeddings: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      hammingShortlist: Int,
      adcShortlist: Int,
      k: Int): DataFrame = {
    val Model(_, books) = model
    val m = books.length
    val kC = books.head.length
    val all = codesAll
    val short1 = Quantization.binaryTopKFromCodes(
        all.select("cid", "b_lo", "b_hi"), queries, idCol, vecCol, hammingShortlist)
      .select(F.col("qid"), F.col("cid"))
    val qAdc = queries.select(F.col(idCol).as("qid"),
      Similarity.adcTables(F.col(vecCol), books).as("__adc"))
    val adcScored = short1
      .join(all.select("cid", "pq_code"), "cid")
      .join(qAdc, "qid")
      .select(F.col("qid"), F.col("cid"), Similarity.adcScore(m, kC).as("pq_dot"))
    val short2 = Similarity.topKPerQuery(adcScored, "pq_dot", adcShortlist)
      .select(F.col("qid"), F.col("cid"))
    Quantization.exactCosineRerank(short2, embeddings, queries, idCol, vecCol, k)
  }

  /** Reload the persisted model. Bit-identical to what [[build]] trained:
    * the snapped doubles survive the toString/parse round-trip exactly. */
  def model: Model = {
    val in = fs.open(new org.apache.hadoop.fs.Path(modelFile))
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty)
    val header = lines.head.split(" ")
    require(header(0) == AnnIndexStore.FormatTag,
      s"not a ${AnnIndexStore.FormatTag} model file: ${lines.head}")
    val (kC, m, kCodes) = (header(1).toInt, header(2).toInt, header(3).toInt)
    def row(l: String): Array[Double] = l.split(" ").map(_.toDouble)
    val cents = lines.slice(1, 1 + kC).map(row).toArray
    val flat = lines.slice(1 + kC, 1 + kC + m * kCodes).map(row).toArray
    val books = flat.grouped(kCodes).map(_.toArray).toArray
    Model(cents, books)
  }

  private def writeModel(mod: Model): Unit = {
    val sb = new StringBuilder
    sb.append(s"${AnnIndexStore.FormatTag} ${mod.centroids.length} " +
      s"${mod.codebooks.length} ${mod.codebooks.head.length}\n")
    mod.centroids.foreach(c => sb.append(c.mkString(" ")).append('\n'))
    mod.codebooks.foreach(_.foreach(cw => sb.append(cw.mkString(" ")).append('\n')))
    val out = fs.create(new org.apache.hadoop.fs.Path(modelFile), true)
    try out.write(sb.toString.getBytes("UTF-8"))
    finally out.close()
  }
}

object AnnIndexStore {
  private[operators] val FormatTag = "graft-ivfpq-v1"

  private val OverwriteModeKey = "spark.sql.sources.partitionOverwriteMode"
  private final class Guard { var depth = 0; var saved: Option[String] = None }
  /** Weak per-session guards (foreachBatch clones come and go with their
    * stream runs — a strong key would pin them). */
  private val guards = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Guard]())

  /** Run `body` with the session's partitionOverwriteMode set to dynamic,
    * restoring the prior value only when the LAST concurrent user on this
    * session finishes — a plain save/set/restore would let one appender's
    * restore flip a still-running sibling back to static (full-table
    * overwrite) mid-write. */
  private def withDynamicOverwrite[T](sess: SparkSession)(body: => T): T = {
    val g = guards.computeIfAbsent(sess, _ => new Guard)
    g.synchronized {
      if (g.depth == 0) {
        g.saved = sess.conf.getOption(OverwriteModeKey)
        sess.conf.set(OverwriteModeKey, "dynamic")
      }
      g.depth += 1
    }
    try body
    finally g.synchronized {
      g.depth -= 1
      if (g.depth == 0) g.saved match {
        case Some(v) => sess.conf.set(OverwriteModeKey, v)
        case None    => sess.conf.unset(OverwriteModeKey)
      }
    }
  }

  /** Bucket count of the codes table — also what the serve join
    * repartitions the probe side to. 32 matches the production session's
    * `spark.sql.shuffle.partitions`; at a 1000-executor deployment size
    * this like any bucket count should track cluster parallelism, not
    * corpus size (cells spread WITHIN buckets by hash). */
  val CodesBuckets = 32

  /** The driver-held model: kC coarse centroids + m per-subspace codebooks
    * of kCodes codewords — a few KB of snapped doubles, the ONLY state that
    * is not a distributed table. */
  final case class Model(
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]])
}
