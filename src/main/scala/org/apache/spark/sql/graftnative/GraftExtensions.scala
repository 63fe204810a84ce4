/* Hosted under org.apache.spark.sql.* for private[sql] access
 * (sessionState.functionRegistry). */
package org.apache.spark.sql.graftnative

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Installs the engine's native pieces on a live session: the `fv_dot` SQL
  * function, the HOF-dot → native-kernel optimizer rule ([[NativeDotRule]])
  * and the as-of join planner strategy ([[AsOfJoinStrategy]]). Idempotent;
  * `graft.GraftSession` runs it on every session it builds. */
object GraftExtensions {
  def setup(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("fv_dot")))
      registry.createOrReplaceTempFunction(
        "fv_dot", exprs => FloatVectorDot(exprs(0), exprs(1)), "scala_udf")
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(NativeDotRule))
      exp.extraOptimizations = exp.extraOptimizations :+ NativeDotRule
    if (!exp.extraStrategies.contains(AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsOfJoinStrategy
  }
}
