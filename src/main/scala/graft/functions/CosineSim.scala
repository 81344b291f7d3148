package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** Fused cosine similarity of two double arrays in ONE pass.
  *
  * Bit-identical to the composed form
  * `dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))`: the three accumulators
  * fold sequentially left-to-right exactly as three separate DotProduct
  * evaluations would (IEEE addition per accumulator in the same order),
  * and the final expression applies the identical `÷(sqrt·sqrt)` op tree
  * — so results still hash-match the DuckDB `list_reduce` oracle. The
  * fusion removes two of the three array traversals (and their per-call
  * null checks), which is most of the work in the ANN/dedup family where
  * cosine dominates the inner loop.
  *
  * Null semantics mirror DotProduct (and the HOF idiom): unequal lengths
  * or any null element yield NULL.
  */
object CosineSim {

  /** shared interpreted + codegen kernel; boxed so NULL is expressible */
  def cosineOrNull(x: ArrayData, y: ArrayData): java.lang.Double = {
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  def cosine_sim(a: Column, b: Column): Column =
    KernelCall.column(this, "cosine_sim", "cosineOrNull", DoubleType, Seq(a, b),
      mayReturnNull = true)
}
