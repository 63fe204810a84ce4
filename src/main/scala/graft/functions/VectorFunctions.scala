package graft.functions

import org.apache.spark.sql.Column

/** Engine-facing surface for the native vector expressions (implementation
  * in `org.apache.spark.sql.graftnative` for private[sql] access). */
object VectorFunctions {
  /** Codegen'd `array<float>` dot product (double accumulation). */
  def fvDot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftnative.FloatVectorDot.dot(a, b)

  /** Codegen'd `array<float>` × `array<double>` dot (model vectors —
    * centroids, codewords, hyperplanes — stay double for oracle parity). */
  def fdDot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftnative.FloatVectorDot.dotD(a, b)

  /** Codegen'd squared L2 distance of `array<float>` to `array<double>`. */
  def fdDistSq(a: Column, b: Column): Column =
    org.apache.spark.sql.graftnative.FloatVectorDot.distSq(a, b)
}
