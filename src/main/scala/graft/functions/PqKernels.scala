package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Compiled product-quantization kernels (the Md5Sketch discipline
  * applied to the PQ tier): the e6 encode evaluated the M×K codeword
  * distance grid as nested interpreted higher-order-function lambdas —
  * per element, per codeword, per subdim — and the e7 ADC did the same
  * per (query, candidate). These kernels run the IDENTICAL arithmetic as
  * tight codegen'd loops over the raw array words.
  *
  * Bit-exactness contract (what keeps the DuckDB oracles green): every
  * fold preserves the HOF/oracle operation order — per (m, k) the
  * subdim squared-differences accumulate sequentially from 0.0 in j
  * order; the per-m argmin is the FIRST index attaining the minimum
  * (strict `<` scan, matching array_position(ds, array_min(ds))); the
  * SSE accumulates the per-m minima in m order from the first m (the
  * `reduce(_ + _)` left fold); the ADC accumulates per-m partials in m
  * order from 0.0. ExtensionsSpec pins interpreted == codegen and
  * kernel == the HOF formulation; the e6/e7 oracles pin it cross-engine.
  *
  * The codebook rides as a flattened [m*K*Sub + k*Sub + j] double array
  * reference object — a few KB resolved once per generated class, not
  * per row.
  */
object PqKernels {

  /** codes (1-based, matching array_position) + reconstruction SSE */
  def encodeOrNull(dv: ArrayData, cb: Array[Double], M: Int, K: Int,
      sub: Int): InternalRow = {
    if (dv.numElements() != M * sub) return null
    val codes = new Array[Long](M)
    var sse = 0.0
    var m = 0
    while (m < M) {
      var best = Double.NaN
      var bestK = -1
      var k = 0
      while (k < K) {
        var acc = 0.0
        var j = 0
        while (j < sub) {
          if (dv.isNullAt(m * sub + j)) return null
          val d = dv.getDouble(m * sub + j) - cb(m * K * sub + k * sub + j)
          acc += d * d
          j += 1
        }
        // first-index-of-min: strict < keeps the earliest k on ties,
        // matching array_position(ds, array_min(ds))
        if (bestK < 0 || acc < best) { best = acc; bestK = k }
        k += 1
      }
      codes(m) = bestK + 1L
      sse += best
      m += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new GenericArrayData(codes), sse))
  }

  /** Σ_m ||q_sub(m) − cb[m][code_m]||², folds in oracle order */
  def adcOrNull(qv: ArrayData, codes: ArrayData, cb: Array[Double],
      M: Int, K: Int, sub: Int): java.lang.Double = {
    if (qv.numElements() != M * sub || codes.numElements() != M) return null
    var adc = 0.0
    var m = 0
    while (m < M) {
      if (codes.isNullAt(m)) return null
      val k = codes.getLong(m).toInt - 1
      if (k < 0 || k >= K) return null
      var acc = 0.0
      var j = 0
      while (j < sub) {
        if (qv.isNullAt(m * sub + j)) return null
        val d = qv.getDouble(m * sub + j) - cb(m * K * sub + k * sub + j)
        acc += d * d
        j += 1
      }
      adc += acc
      m += 1
    }
    java.lang.Double.valueOf(adc)
  }

  def pq_encode(dv: Column, cb: Array[Double], M: Int, K: Int,
      sub: Int): Column =
    KernelCall.column(this, "pq_encode", "encodeOrNull", StructType(Seq(
        StructField("codes", ArrayType(LongType, containsNull = false),
          nullable = false),
        StructField("sse", DoubleType, nullable = false))),
      Seq(dv), Seq(cb, M, K, sub), mayReturnNull = true)

  def pq_adc(qv: Column, codes: Column, cb: Array[Double], M: Int, K: Int,
      sub: Int): Column =
    KernelCall.column(this, "pq_adc", "adcOrNull", DoubleType, Seq(qv, codes),
      Seq(cb, M, K, sub), mayReturnNull = true)
}
