package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, functions => F}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{AnnIndexStore, IncrementalContamination, IncrementalDedup, TextAnalysis}

/** The WHOLE curation pipeline as ONE Structured Streaming query: a
  * stream of (doc_id, text) documents runs, per micro-batch,
  *
  *   1. the stateless QUALITY gate ([[TextAnalysis.quality]] thresholds
  *      — map-only, no state);
  *   2. DECONTAMINATION against the store's FROZEN benchmark
  *      ([[IncrementalContamination.checkBatch]]; contaminated docs are
  *      dropped, and the hit rows land in the audit table);
  *   3. ingest-time NEAR-DUP suppression against the accumulated corpus
  *      ([[IncrementalDedup.dedupBatchIdempotent]]);
  *   4. an idempotent survivors sink (overwrite-by-batch-id partition);
  *   5. optionally, the EMBEDDING leg: each batch's survivors are encoded
  *      against the pre-built, frozen ANN model and land in the persisted
  *      index ([[AnnIndexStore.appendBatchIdempotent]] — the
  *      [[StreamingAnnIndex]] stage inlined), so the ONE query yields both
  *      the curated corpus AND its serveable index.
  *
  * Exactly-once survivors under at-least-once foreachBatch replay holds
  * stage-wise: 1 is deterministic, 2 and 3 are replay-STABLE per
  * batch id (each excludes its own prior writes from its checks), 4
  * overwrites rather than appends, and 5 is a deterministic encode into
  * an overwrite-by-batch-id partition — so a crashed-and-replayed batch
  * converges to the identical survivor set and index rows, the same
  * argument as [[StreamingDedup]] extended across four stateful stores. */
object StreamingCuration {

  /** The embedding leg's wiring: survivors join `embeddings` (the static
    * (id, vector) side table) on doc id and their codes land in `store`,
    * which must already be [[AnnIndexStore.build]]t — the stream only
    * encodes against the frozen model. */
  final case class AnnLeg(
      store: AnnIndexStore,
      embeddings: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding")

  def attach(
      docs: DataFrame,
      checkpointDir: String,
      contamStore: IncrementalContamination.ContaminationStore,
      dedupStore: IncrementalDedup.BucketStore,
      survivorsDir: String,
      minTokens: Int = 30,
      maxStopRatio: Double = 0.4,
      contamN: Int = 3,
      contamMinShared: Long = 2L,
      triggerMillis: Long = 1000L,
      annLeg: Option[AnnLeg] = None): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMillis))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // 1. quality gate — stateless, so a replay recomputes identically
        val quality = TextAnalysis.quality(batch, "text")
          .filter(F.col("stopword_ratio") <= maxStopRatio &&
            F.col("n_tokens") >= minTokens)
          .select("doc_id", "text")
        // 2. decontamination: checkBatch appends replay-stably; the DROP
        // set is read back from the store by batch id so a replayed
        // batch (whose fresh-hit frame is empty) still drops the same docs
        IncrementalContamination.checkBatch(
          quality, contamStore, "doc_id", "text", contamN, contamMinShared, batchId)
        val contaminated = contamStore.hits
          .filter(F.col("batch_id") === batchId)
          .select(F.col("train_id").as("doc_id")).distinct()
        val clean = quality.join(contaminated, Seq("doc_id"), "left_anti")
        // 3. near-dup suppression against the accumulated corpus
        val kept = IncrementalDedup.dedupBatchIdempotent(
          clean, dedupStore, "doc_id", "text", batchId)
        // 4. idempotent survivors sink
        kept.write.mode(SaveMode.Overwrite)
          .parquet(s"$survivorsDir/batch_id=$batchId")
        // 5. embedding leg: encode THIS batch's survivors against the
        // frozen model into their own index partition (replay rewrites
        // identical rows — deterministic encode + partition overwrite)
        annLeg.foreach { leg =>
          val vecs = kept.select(F.col("doc_id"))
            .join(leg.embeddings, F.col("doc_id") === F.col(leg.idCol))
            .select(F.col(leg.idCol), F.col(leg.vecCol))
          leg.store.appendBatchIdempotent(vecs, leg.idCol, leg.vecCol, batchId)
        }
        ()
      }
      .start()

  /** All survivors across batches (partition-discovered batch_id dirs). */
  def survivors(spark: SparkSession, survivorsDir: String): DataFrame =
    spark.read.option("basePath", survivorsDir).parquet(survivorsDir)
      .drop("batch_id")
}
