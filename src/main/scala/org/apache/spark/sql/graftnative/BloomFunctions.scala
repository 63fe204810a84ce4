package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StringType

/** Column surface over Catalyst's native bloom-filter pair — the same
  * codegen'd expressions Spark's own runtime row-group filtering injects
  * (`BloomFilterAggregate` / `BloomFilterMightContain`), exposed for the
  * ingest-dedup pre-pass instead of a driver-broadcast sketch + UDF.
  *
  * Build and probe MUST hash identically: both sides wrap the value in
  * `XxHash64` here, so callers pass the raw (string) key column and never
  * see the hashing.
  */
object BloomFunctions {

  /** Aggregate a column's values into a serialized
    * `org.apache.spark.util.sketch.BloomFilter` (binary). `items`/`numBits`
    * are FIXED per store so every sidecar built with the same constants is
    * `mergeInPlace`-compatible (same bit size ⇒ same hash count). */
  def bloomAgg(value: Column, items: Long, numBits: Long): Column =
    ExpressionUtils.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(ExpressionUtils.expression(value))),
        Literal(items), Literal(numBits)).toAggregateExpression())

  /** Membership probe against a serialized filter (typically a `lit` of
    * the merged sidecar bytes — foldable, evaluated once per task). False
    * positives possible, false negatives not. */
  def mightContain(bloom: Column, value: Column): Column =
    ExpressionUtils.column(
      BloomFilterMightContain(
        ExpressionUtils.expression(bloom),
        new XxHash64(Seq(ExpressionUtils.expression(value)))))

  /** DRIVER-side probe with hashing identical to [[mightContain]] — for
    * metadata-scale pruning decisions (e.g. per-partition sidecar blooms
    * consulted before planning a scan) where spinning a 1-row job per
    * sidecar would be absurd. */
  def mightContainDriver(bloomBytes: Array[Byte], value: String): Boolean =
    org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bloomBytes))
      .mightContainLong(hashDriver(value))

  /** The long [[bloomAgg]] and [[mightContain]] put into / probe the
    * filter for a string key: `XxHash64` of the value (its seed for null). */
  def hashDriver(value: String): Long =
    new XxHash64(Seq(Literal.create(value, StringType))).eval(null).asInstanceOf[Long]

  /** DRIVER-side build, byte-identical to [[bloomAgg]] over the same values
    * and constants: the aggregate's buffer is `BloomFilter.create(items,
    * numBits)` fed `putLong(XxHash64(value))`, and its partial buffers merge
    * by bitwise OR, so row order and partitioning do not show in the bytes.
    * For batches that already sit on the driver, where the aggregate would
    * cost one Spark job per filter. */
  def bloomDriver(values: Iterable[String], items: Long, numBits: Long): Array[Byte] = {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(items, numBits)
    values.foreach(v => bf.putLong(hashDriver(v)))
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    out.toByteArray
  }

  /** Union two serialized filters built with the same (items, numBits)
    * constants. */
  def mergeBloom(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val fa = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(a))
    val fb = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(b))
    fa.mergeInPlace(fb)
    val out = new java.io.ByteArrayOutputStream()
    fa.writeTo(out)
    out.toByteArray
  }
}

/** Column surface over Catalyst's `CollectTopK` — a bounded-priority-queue
  * collect (map-side combinable: each partition keeps at most k elements
  * per group before the shuffle). The scale replacement for the
  * `row_number() OVER (... ORDER BY s) <= k` shortlist pattern, whose
  * window form shuffles and sorts EVERY candidate row per group. */
object TopKFunctions {
  import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK

  /** Largest `k` values of `e` under the struct/natural ordering,
    * returned as an array. With `reverse = true`, smallest `k`. */
  def collectTopK(e: Column, k: Int, reverse: Boolean): Column =
    ExpressionUtils.column(
      new CollectTopK(ExpressionUtils.expression(e), k, reverse).toAggregateExpression())
}
