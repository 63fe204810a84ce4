package org.apache.spark.sql.graftnative

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, IntegerType, LongType, StringType}

/** Intersection COUNT of two string arrays that are each sorted ascending
  * and duplicate-free (any shared total order works as long as both sides
  * used it — `array_sort` does): one linear merge walk, no hash set, no
  * materialized intersection array. This is the verify kernel of the
  * exact similarity join: `size(array_intersect(a, b))` builds a hash set
  * AND an output array per candidate pair just to take its length;
  * against millions of candidate pairs with hundreds of tokens each, the
  * allocation-free merge inside whole-stage codegen is the difference
  * between the verify dominating the join and disappearing into it.
  * NULL array → NULL. A NULL element gives NULL only if the merge walk
  * reaches it; a walk that ends first, on the other array's end, gives the
  * count so far: `["t1", NULL]` counts 0 against `[]`, 1 against `["t1"]`
  * and NULL against `["t1", "t2"]`. Callers pass split() output, which has
  * no NULL element. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      if (x.isNullAt(i) || y.isNullAt(j)) return null
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val cmp = ctx.freshName("cmp")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $x.numElements() && $j < $y.numElements()) {
         |  if ($x.isNullAt($i) || $y.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  int $cmp = $x.getUTF8String($i).compareTo($y.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |if (!${ev.isNull}) { ${ev.value} = $c; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[SortedIntersectCount]] over sorted duplicate-free LONG arrays — the
  * verify kernel once tokens are mapped to dense vocabulary ids (any
  * injective map preserves every intersection count exactly). A primitive
  * `getLong` compare beats UTF8String byte-wise comparison per element,
  * and the long arrays themselves shuffle smaller than token strings.
  * NULLs as in [[SortedIntersectCount]]: a NULL element gives NULL only if
  * the merge walk reaches it, else the count so far. */
case class SortedIntersectCountLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  override def prettyName: String = "sorted_intersect_count_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      if (x.isNullAt(i) || y.isNullAt(j)) return null
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $x.numElements() && $j < $y.numElements()) {
         |  if ($x.isNullAt($i) || $y.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  long $xv = $x.getLong($i); long $yv = $y.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |if (!${ev.isNull}) { ${ev.value} = $c; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SetFunctions {
  def sortedIntersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def sortedIntersectCountLong(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCountLong(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
