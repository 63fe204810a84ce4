/* Hosted under org.apache.spark.sql.* for private[sql] access
 * (Dataset.ofRows). Engine-facing API: graft.operators.AsOfJoin.joinNative. */
package org.apache.spark.sql.graftnative

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, GenericInternalRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join: for each left row, the most recent right row with
  * `rightTime <= leftTime` in the same key group.
  *
  * Physical strategy: both children are required to be hash-clustered on
  * the key and sorted by (key, time) — `EnsureRequirements` inserts the
  * exchanges/sorts exactly as it does for SortMergeJoin — then a single
  * `zipPartitions` merge walks the two sorted streams carrying the last
  * eligible right row. One shuffle per side, one pass, no payload
  * serialization (contrast the union+window formulation in
  * `graft.operators.AsOfJoin.join`, which pays two window evaluations and
  * a JSON round trip for the carried columns).
  */
/** `asofAttrs` is a constructor field (not derived) so exprIds stay stable
  * across `copy()`/`withNewChildrenInternal` during optimizer transforms;
  * `references` names the consumed child columns so column pruning keeps
  * exactly (key, times, carried values) and nothing else. */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    keyCol: String,
    leftTimeCol: String,
    rightTimeCol: String,
    rightVals: Seq[String],
    asofAttrs: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ asofAttrs

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(asofAttrs)

  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      left.output.filter(a => a.name == keyCol || a.name == leftTimeCol) ++
        right.output.filter(a =>
          a.name == keyCol || a.name == rightTimeCol || rightVals.contains(a.name)))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    keyCol: String,
    leftTimeCol: String,
    rightTimeCol: String,
    rightVals: Seq[String],
    outputAttrs: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] = outputAttrs

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(outputAttrs.drop(left.output.size))

  private def attr(side: SparkPlan, name: String): Attribute =
    side.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"missing column $name in ${side.output.map(_.name)}"))

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(Seq(attr(left, keyCol))),
    ClusteredDistribution(Seq(attr(right, keyCol))))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(attr(left, keyCol), Ascending), SortOrder(attr(left, leftTimeCol), Ascending)),
    Seq(SortOrder(attr(right, keyCol), Ascending), SortOrder(attr(right, rightTimeCol), Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyOrd = left.output.indexWhere(_.name == keyCol)
    val lTimeOrd = left.output.indexWhere(_.name == leftTimeCol)
    val rKeyOrd = right.output.indexWhere(_.name == keyCol)
    val rTimeOrd = right.output.indexWhere(_.name == rightTimeCol)
    val rValOrds = rightVals.map(v => right.output.indexWhere(_.name == v)).toArray
    val keyType = left.output(lKeyOrd).dataType
    val timeType = left.output(lTimeOrd).dataType
    val valTypes = rValOrds.map(right.output(_).dataType)
    val nLeft = left.output.size
    val leftTypes = left.output.map(_.dataType).toArray
    val keyOrdering = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(keyType)
    val timeOrdering = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(timeType)

    val outTypes = outputAttrs.map(_.dataType).toArray
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      // downstream operators expect UnsafeRow; project per-partition
      val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(outTypes)
      val rBuf = rIt.buffered
      // carried state for the current key group
      var curKey: Any = null
      var haveCarry = false
      val carry = new Array[Any](rValOrds.length)

      lIt.map { lRow =>
        val k = lRow.get(lKeyOrd, keyType)
        if (curKey == null || keyOrdering.compare(k, curKey) != 0) {
          curKey = InternalRow.copyValue(k) // survives the row's buffer reuse
          haveCarry = false
        }
        val t = lRow.get(lTimeOrd, timeType)
        // advance right stream: consume rows with key < k, or key == k and
        // time <= t, updating the carry for equal keys
        var advancing = true
        while (advancing && rBuf.hasNext) {
          val rRow = rBuf.head
          val rk = rRow.get(rKeyOrd, keyType)
          val cmp = keyOrdering.compare(rk, k)
          if (cmp < 0) { rBuf.next(); () }
          else if (cmp == 0 && timeOrdering.compare(rRow.get(rTimeOrd, timeType), t) <= 0) {
            var i = 0
            // copyValue: sorted-stream rows reuse their backing buffers, so
            // carried values must be deep copies to survive rBuf.next()
            while (i < rValOrds.length) {
              carry(i) = InternalRow.copyValue(rRow.get(rValOrds(i), valTypes(i)))
              i += 1
            }
            haveCarry = true
            rBuf.next(); ()
          } else advancing = false
        }
        val out = new Array[Any](nLeft + rValOrds.length)
        var i = 0
        while (i < nLeft) { out(i) = lRow.get(i, leftTypes(i)); i += 1 }
        var j = 0
        while (j < rValOrds.length) {
          out(nLeft + j) = if (haveCarry) carry(j) else null
          j += 1
        }
        // projected immediately, so raw left values (valid until the next
        // lIt.next()) are safe here; only the carry needed deep copies
        toUnsafe(new GenericInternalRow(out)): InternalRow
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(planLater(p.left), planLater(p.right),
        p.keyCol, p.leftTimeCol, p.rightTimeCol, p.rightVals, p.output) :: Nil
    case _ => Nil
  }
}

object AsOfJoinNative {
  def join(
      left: DataFrame,
      right: DataFrame,
      on: String,
      leftTime: String,
      rightTime: String,
      rightVals: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    GraftExtensions.setup(spark) // plans on any session, not only GraftSession's
    val rightOut = right.queryExecution.analyzed.output
    val asofAttrs = rightVals.map { v =>
      val src = rightOut.find(_.name == v).getOrElse(
        throw new IllegalArgumentException(s"right side lacks column $v"))
      AttributeReference(s"asof_$v", src.dataType, nullable = true)()
    }
    val plan = AsOfJoinPlan(
      left.queryExecution.analyzed,
      right.queryExecution.analyzed,
      on, leftTime, rightTime, rightVals, asofAttrs)
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  }
}
