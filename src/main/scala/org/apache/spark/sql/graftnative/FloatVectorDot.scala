/* Hosted under org.apache.spark.sql.* to access the private[sql] Catalyst
 * surface (AbstractDataType, ExpressionUtils) — the standard pattern for
 * native expression libraries. Engine-facing API re-exported from
 * graft.functions.VectorFunctions. */
package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two `array<float>` columns,
  * accumulated in double in index order.
  *
  * This is the one hot-path scalar where Spark's built-ins fall short:
  * `aggregate(zip_with(...))` (higher-order functions) evaluates the lambda
  * per element in interpreted mode and allocates an intermediate array,
  * while this expression participates in whole-stage codegen and compiles
  * to a tight primitive loop over the unsafe array data — no allocation,
  * no virtual dispatch. The result is bit-identical to the HOF formulation
  * (same sequential double accumulation), so oracle parity is unaffected.
  *
  * Edge semantics match the HOF formulation EXACTLY so the optimizer rule
  * below may substitute one for the other: unequal lengths → null (the
  * zip_with null padding poisons the HOF sum) and any null element → null.
  * On dense equal-length vectors — the only case that occurs in practice —
  * the loop is branch-predictable and the result is the identical ordered
  * double accumulation.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "fv_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native dot of an `array<float>` column against an `array<double>`
  * (typically a LITERAL model vector — codeword, centroid, hyperplane):
  * Σ (double)x_i · y_i accumulated in index order. Bit-identical to the
  * left-associated unrolled product sum and to the zip_with/aggregate HOF,
  * but one tight codegen'd loop instead of dim inline terms — the unrolled
  * form at dim=64 × kC cells overflows janino's method limits and silently
  * drops the whole stage to interpreted mode. */
case class FloatDoubleVectorDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "fd_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ((double) $x.getFloat($i)) * $y.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native squared L2 distance of an `array<float>` column to an
  * `array<double>` model vector: Σ ((double)x_i − y_i)² accumulated in
  * index order — the PQ-encode/train metric, bit-identical to the unrolled
  * left-associated form. */
case class FloatDoubleVectorDistSq(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "fd_distsq"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getFloat(i).toDouble - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $x.numElements();
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $d = ((double) $x.getFloat($i)) - $y.getDouble($i);
         |    $s += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object FloatVectorDot {
  /** Column-API surface for the native dot product. */
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(FloatVectorDot(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-API surface for the float×double-model dot. */
  def dotD(a: Column, b: Column): Column =
    ExpressionUtils.column(FloatDoubleVectorDot(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column-API surface for the float-to-double-model squared distance. */
  def distSq(a: Column, b: Column): Column =
    ExpressionUtils.column(FloatDoubleVectorDistSq(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}

/** Optimizer rule (`Rule[LogicalPlan]`): rewrite the portable higher-order
  * dot-product formulation
  * {{{ aggregate(zip_with(a, b, (x, y) -> cast(x) * cast(y)), 0.0d, (acc, v) -> acc + v) }}}
  * over two `array<float>` columns into the native codegen'd
  * [[FloatVectorDot]]. The HOF form evaluates its lambdas interpreted and
  * materializes the zipped array; the native expression is a primitive
  * loop inside whole-stage codegen. Safe because the two are equivalent on
  * EVERY input, including unequal lengths and null elements (both yield
  * null) — see the expression's edge-semantics note. Users keep writing
  * the portable form; sessions `GraftExtensions.setup` has run on (every
  * `graft.GraftSession`) run the kernel. */
object NativeDotRule extends org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.types.DoubleType

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** The two expressions must be casts of exactly the TWO DISTINCT lambda
    * parameters `params` (in either order) — binding by exprId, so
    * `(x, y) -> x * x` (sum of squares, not a dot) or casts of some outer
    * variable can never match. */
  private def castsOfBothParams(a: Expression, b: Expression,
                                params: Seq[NamedLambdaVariable]): Boolean = (a, b) match {
    case (Cast(x: NamedLambdaVariable, DoubleType, _, _),
          Cast(y: NamedLambdaVariable, DoubleType, _, _)) =>
      x.exprId != y.exprId &&
        Set(x.exprId, y.exprId) == params.map(_.exprId).toSet
    case _ => false
  }

  private def bothParams(a: Expression, b: Expression,
                         params: Seq[NamedLambdaVariable]): Boolean = (a, b) match {
    case (x: NamedLambdaVariable, y: NamedLambdaVariable) =>
      x.exprId != y.exprId &&
        Set(x.exprId, y.exprId) == params.map(_.exprId).toSet
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
        ZipWith(l, r,
          LambdaFunction(Multiply(mx, my, _), zipParams, _)),
        Literal(0.0, DoubleType),
        LambdaFunction(Add(aa, ab, _), mergeParams, _),
        LambdaFunction(fin: NamedLambdaVariable, finParams, _)) // identity finish
      if isFloatArray(l) && isFloatArray(r) &&
        zipParams.length == 2 && zipParams.forall(_.isInstanceOf[NamedLambdaVariable]) &&
        castsOfBothParams(mx, my, zipParams.map(_.asInstanceOf[NamedLambdaVariable])) &&
        mergeParams.length == 2 && mergeParams.forall(_.isInstanceOf[NamedLambdaVariable]) &&
        bothParams(aa, ab, mergeParams.map(_.asInstanceOf[NamedLambdaVariable])) &&
        finParams.headOption.exists {
          case f: NamedLambdaVariable => f.exprId == fin.exprId
          case _ => false
        } =>
      FloatVectorDot(l, r)
  }
}
