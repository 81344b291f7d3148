package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Sequential-fold dot product of two double arrays.
  *
  * EXACTLY the semantics of the higher-order formulation
  * `aggregate(zip_with(a,b,(x,y)=>x*y), 0.0, (acc,x)=>acc+x)`:
  * same left-to-right IEEE addition order (results hash-match the DuckDB
  * `list_reduce` oracle bit-for-bit), AND the same null behavior —
  * zip_with pads the shorter array with nulls and `acc + null` is null,
  * so unequal lengths or any null element yield NULL.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dotOrNull(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** full whole-stage codegen (round-3 review item: CodegenFallback here
    * broke fusion at every ANN call site). The helper returns a boxed
    * null for the mismatched-length / null-element cases — the same
    * single implementation the interpreted path runs, so both paths stay
    * bit-identical. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("dotRes")
      s"""
        java.lang.Double $tmp = graft.functions.DotProduct.dotOrNull($a, $b);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $tmp.doubleValue(); }
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct = copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** shared interpreted + codegen kernel; boxed so NULL is expressible */
  def dotOrNull(x: ArrayData, y: ArrayData): java.lang.Double = {
    // zip_with semantics: unequal lengths null-pad => product null =>
    // whole fold null; same for null elements
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def dot_product(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))
}
