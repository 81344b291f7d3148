package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.LongType

/** 64-bit SimHash of a string array in ONE compiled pass: each element is
  * xxhash64'd once (seed 42 — identical values to Spark's `xxhash64`
  * function), its 64 bits vote ±1 into 64 counters, and bit j of the
  * result is set iff counter j is positive.
  *
  * Replaces the 64-higher-order-`aggregate` formulation (one interpreted
  * lambda pass over the token array PER BIT, plus a cache barrier to stop
  * the hash array from being inlined 64×) with a single tight loop —
  * same signature bits, ~64× less array traffic, no cache needed.
  * Full whole-stage codegen via a shared interpreted/generated kernel
  * (same shape as CosineSim/RollingHash), so the d8 signature stage
  * fuses into the scan with no per-row interpreted hand-off.
  */
object SimHashSig {

  /** shared interpreted + codegen kernel */
  def signature(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      // null element: Spark's xxhash64 returns the seed unchanged for a
      // null input, and the HOF formulation this expression replaces still
      // counted that hash's votes — match it exactly, don't skip
      val h =
        if (arr.isNullAt(i)) 42L
        else {
          val s = arr.getUTF8String(i)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
            s.numBytes(), 42L)
        }
      var j = 0
      while (j < 64) {
        counts(j) += (((h >>> j) & 1L).toInt << 1) - 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  def sim_hash_sig(c: Column): Column =
    KernelCall.column(this, "sim_hash_sig", "signature", LongType, Seq(c))
}
