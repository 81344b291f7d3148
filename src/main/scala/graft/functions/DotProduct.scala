package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** Sequential-fold dot product of two double arrays.
  *
  * EXACTLY the semantics of the higher-order formulation
  * `aggregate(zip_with(a,b,(x,y)=>x*y), 0.0, (acc,x)=>acc+x)`:
  * same left-to-right IEEE addition order (results hash-match the DuckDB
  * `list_reduce` oracle bit-for-bit), AND the same null behavior —
  * zip_with pads the shorter array with nulls and `acc + null` is null,
  * so unequal lengths or any null element yield NULL.
  */
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
    KernelCall.column(this, "dot_product", "dotOrNull", DoubleType, Seq(a, b),
      mayReturnNull = true)
}
