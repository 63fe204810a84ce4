package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, functions => F}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Skyline

/** Streaming Pareto skyline: rows arrive in micro-batches and the
  * nondominated set over EVERYTHING streamed so far is re-derivable at
  * any time.
  *
  * The accumulating state is the batch operator's own step-3 argument
  * turned into a storage layout: skylines are CLOSED UNDER UNION (a row
  * dominated in the full set is dominated by some row of its own
  * batch's skyline or of another batch's — dominance is transitive and
  * the dominator of a dominator dominates), so persisting each batch's
  * LOCAL skyline and re-skylining the union on read is exact: a
  * partial-counts pattern with "count" replaced by "nondominated
  * subset". Each batch writes its survivors under
  * `batch_id=` (replay-idempotent overwrite — a replayed batch rewrites
  * the same rows); a crash between batches loses nothing because every
  * batch's partial is self-contained.
  *
  * State stays bounded by the skyline sizes, not the stream: a batch
  * partial is that batch's skyline only, and the read-side merge
  * re-runs the full pivot-prefilter + local/global BNL over partials
  * that are each already reduced. */
object StreamingSkyline {

  def attach(
      rows: DataFrame,
      checkpointDir: String,
      partsDir: String,
      dims: Seq[(String, Boolean)],
      triggerMillis: Long = 1000L): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMillis))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Skyline.skyline(batch, dims)
          .write.mode(SaveMode.Overwrite).parquet(s"$partsDir/batch_id=$batchId")
        ()
      }
      .start()

  /** The exact skyline over everything streamed so far: union of the
    * per-batch local skylines, re-skylined. Before the first batch lands
    * (directory absent or empty) the board is a TYPED empty frame
    * carrying the dim columns — the readPartials discipline — so callers
    * selecting them don't throw; payload columns are unknowable before
    * the first batch. Dim types come from `dimTypes` where provided
    * (same (name, sql-type) shape as readPartials), double otherwise.
    * The catch matches the exception's error CONDITION (PATH_NOT_FOUND /
    * UNABLE_TO_INFER_SCHEMA — the two "no batch yet" shapes), not the
    * whole AnalysisException class: a genuine analysis error (misspelled
    * dim, corrupt partials) must surface, not return an empty board. */
  def skylineNow(spark: SparkSession, partsDir: String,
                 dims: Seq[(String, Boolean)],
                 dimTypes: Seq[(String, String)] = Seq.empty): DataFrame =
    try {
      val parts = spark.read.parquet(partsDir).drop("batch_id")
      Skyline.skyline(parts, dims)
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
            .contains(e.getCondition) =>
        val tm = dimTypes.toMap
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(
            dims.map { case (d, _) =>
              org.apache.spark.sql.types.StructField(d,
                org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(
                  tm.getOrElse(d, "double")))
            }))
    }
}
