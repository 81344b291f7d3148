package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash (Rabin–Karp style) over a string's UTF-8 bytes:
  *   h = Σ h*31 + byte  (mod 2^61 - 1)
  *
  * A native Catalyst Expression with whole-stage codegen — the preferred
  * shape for engine-level scalar functions (no UDF serialization, stays
  * inside WholeStageCodegen). Used as the document-fingerprint primitive
  * for the training-data pipeline surface (content-defined chunking /
  * incremental near-dup detection at 100 TB scale).
  */
object RollingHash {
  private val Mod = (1L << 61) - 1

  /** (h*31 + b) mod (2^61-1) without 128-bit math: h < 2^61 so
    * h*31 = h*32 - h; compute h*32 mod M via shift-and-fold. */
  def mulMod31(h: Long, b: Long): Long = {
    // h < 2^61; (h << 5) < 2^66 overflows, so fold: h*32 mod M
    // = ((h mod M) * 32) mod M computed as (hHi*2^61*32 + hLo*32) with
    // 2^61 ≡ 1 (mod M). Split h*32 = q*2^61 + r.
    val h32lo = (h << 5) & Mod          // low 61 bits of h*32
    val h32hi = h >>> 56                // h*32 >> 61 == h >> 56 (top bits)
    var r = h32lo + h32hi - h + b       // 2^61 ≡ 1 mod M
    if (r < 0) r += Mod
    if (r >= Mod) r -= Mod
    r
  }

  def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = mulMod31(h, bytes(i) & 0xffL); i += 1 }
    h
  }

  /** the kernel both evaluation paths call */
  def hash(s: UTF8String): Long = hashBytes(s.getBytes)

  /** Column API (Spark 4: Column <-> Expression via the sql-package bridge) */
  def rolling_hash(c: Column): Column =
    KernelCall.column(this, "rolling_hash", "hash", LongType, Seq(c))
}
