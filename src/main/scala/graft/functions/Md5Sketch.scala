package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Compiled kernels for the ORACLE-mode (md5-derived) sketch families.
  *
  * The auditable d7/d8/d43/d44 catalog entries derive their hashes from
  * md5 so DuckDB can recompute every value — but the straightforward
  * higher-order-function formulation evaluates interpreted lambdas per
  * (element, lane): measured 3.4 s (d7) / 2.7 s (d8) per pass at sf0.1.
  * These expressions run the identical arithmetic as a tight compiled
  * loop over the digest BYTES — one `MessageDigest` call per element,
  * no hex-string round trip — and stay inside WholeStageCodegen
  * (shared interpreted/codegen kernel, the MinHashSig/CosineSim shape).
  *
  * Exactness contract (what the DuckDB twins compute): h1/h2 are the
  * first two big-endian unsigned 32-bit words of the digest — exactly
  * `conv(substr(md5(x), 1, 8), 16, 10)` / `conv(substr(md5(x), 9, 8),
  * 16, 10)` — lane k of the minhash is (h1 + k·h2) mod 2³²
  * (Kirsch–Mitzenmacher), and the simhash words fold the ±1 bit-votes
  * of every element. ExtensionsSpec pins both kernels against the
  * HOF/per-bit reference formulations; the catalog oracles pin them
  * against DuckDB.
  */
object Md5Sketch {

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** (h1 << 32) | h2 — the first 8 digest bytes as two unsigned BE words */
  private def halves(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = md.get(); d.reset()
    val dig = d.digest(s.getBytes)
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < 4) { h1 = (h1 << 8) | (dig(i) & 0xffL); i += 1 }
    while (i < 8) { h2 = (h2 << 8) | (dig(i) & 0xffL); i += 1 }
    (h1 << 32) | h2
  }

  /** K-lane Kirsch–Mitzenmacher minhash over a string array (null
    * elements skipped; callers guarantee non-empty input — d7 filters
    * to >= 1 shingle before signing) */
  def minhashKM(arr: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val p = halves(arr.getUTF8String(i))
        val h1 = p >>> 32
        val h2 = p & 0xffffffffL
        var j = 0
        while (j < k) {
          val hj = (h1 + j * h2) & 0xffffffffL // mod 2^32: sum < 2^37
          if (hj < mins(j)) mins(j) = hj
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** simhash of a string array as [hi, lo] 32-bit words: bit j of
    * (hi·2³² + lo) is set iff the ±1 vote sum at digest bit j over all
    * elements is positive */
  def simhashWords(arr: ArrayData): ArrayData = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val p = halves(arr.getUTF8String(i))
        val h1 = p >>> 32
        val h2 = p & 0xffffffffL
        var j = 0
        while (j < 32) {
          votes(j) += (if (((h2 >>> j) & 1L) == 1L) 1 else -1)
          votes(j + 32) += (if (((h1 >>> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var hi = 0L; var lo = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) > 0) lo |= (1L << j)
      if (votes(j + 32) > 0) hi |= (1L << j)
      j += 1
    }
    new GenericArrayData(Array(hi, lo))
  }

  def md5_minhash_km(c: Column, k: Int): Column =
    KernelCall.column(this, "md5_minhash_km", "minhashKM",
      ArrayType(LongType, containsNull = false), Seq(c), Seq(k))

  def md5_simhash_words(c: Column): Column =
    KernelCall.column(this, "md5_simhash_words", "simhashWords",
      ArrayType(LongType, containsNull = false), Seq(c))
}
