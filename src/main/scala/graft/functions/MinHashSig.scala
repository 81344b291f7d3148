package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._

/** K-permutation MinHash signature of a string array, as ONE compiled
  * pass: each element is xxhash64'd once over its bytes, then mixed into
  * K lanes with a single hashLong each — ~K× cheaper than K higher-order
  * `transform`/`array_min` lambdas, which Spark evaluates interpreted.
  *
  * This is the "custom Expression where built-ins can't express it
  * efficiently" tier (SURVEY §7.3): the interpreted-HOF formulation of
  * the same signature costs ~10 s on 5k docs; this runs in milliseconds.
  * Full whole-stage codegen: the kernel is shared between the interpreted
  * and generated paths (same shape as CosineSim/RollingHash), so the
  * d7 LSH signature stage stays inside WholeStageCodegen with no
  * per-row interpreted hand-off.
  */
object MinHashSig {

  /** shared interpreted + codegen kernel (never null: empty input array
    * yields the all-MaxValue signature, matching the HOF formulation) */
  def signature(arr: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h0 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes(), 42L)
        var j = 0
        while (j < k) {
          val hj = XXH64.hashLong(h0, j.toLong)
          if (hj < mins(j)) mins(j) = hj
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def min_hash_sig(c: Column, k: Int): Column =
    KernelCall.column(this, "min_hash_sig", "signature",
      ArrayType(LongType, containsNull = false), Seq(c), Seq(k))
}
