package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XXH64, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

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

  /** The long [[bloomAgg]] and [[mightContain]] put into / probe the
    * filter for a string key: `XxHash64` of the value with its seed, 42
    * (the seed itself for null), computed directly rather than by
    * evaluating the expression. */
  def hashDriver(value: String): Long =
    if (value == null) 42L else XXH64.hashUTF8String(UTF8String.fromString(value), 42L)

  /** DRIVER-side build: puts `values` into `bf` as [[bloomAgg]] puts them
    * into its buffer, `putLong(XxHash64(value))`. A filter made by
    * `BloomFilter.create(items, numBits)` and fed the same values holds the
    * bits the aggregate's would: its partial buffers merge by bitwise OR, so
    * row order and partitioning do not show. For batches that already sit
    * on the driver, where the aggregate would cost one Spark job. */
  def putDriver(bf: BloomFilter, values: Iterable[String]): Unit =
    values.foreach(v => bf.putLong(hashDriver(v)))

  /** `bf` serialized, as the aggregate returns it. */
  def toBytes(bf: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
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
