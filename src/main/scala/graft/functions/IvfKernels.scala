package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Compiled IVF coarse-assignment kernels (the PqKernels discipline
  * applied to centroid scoring). Scoring each vector against every
  * centroid as C separate literal-array dot-product expressions is fine
  * at C=16, but a corpus-scaled C (hundreds to thousands of cells, the
  * knob that keeps within-cell pair work linear; see
  * Approx.ivfDedupShardedAt) would put C·dims literal doubles into the
  * plan and blow both the analyzer and the 64 KB codegen method limit.
  * These kernels run the IDENTICAL arithmetic as one tight loop over a
  * flattened centroid codebook that rides as a reference object in the
  * generated class — plan size O(1). Approx.shardedAssign scores every
  * IVF catalog entry through them: the flat IvfProbes for the fixed-C
  * tier (e8/e16), the two-level IvfProbes2/IvfProbes2B for the
  * count-scaled tiers.
  *
  * Bit-exactness contract (what keeps the e8/e8b oracles green): each
  * per-centroid dot product accumulates sequentially from 0.0 in
  * ascending dim order — exactly the fold order of both the literal
  * dot_product expressions (DotProduct) and the oracle's
  * list_reduce(list_transform(...)) — and top-P selection ranks by
  * (sim DESC, cell ASC), the order of the declarative zip_with →
  * array_sort tail and of the oracles' ROW_NUMBER. ExtensionsSpec pins
  * interpreted == codegen and kernel == the literal formulation.
  */
object IvfKernels {

  /** sims(c) = Σ_d dv(d) · cb(c·dims + d), folded in d order; null on
    * ragged or null-holed input (mirrors PqKernels.encodeOrNull) and on
    * any NaN sim — a NaN dot product has no consistent rank (the
    * declarative `-sim` ascending tail sorts NaN LAST because -NaN is
    * still NaN, while Double.compare ranks it FIRST), so rather than
    * silently diverging from the zip_with→array_sort formulation the
    * kernels declare NaN-producing embeddings out of contract and null
    * the row, exactly like the null-hole guard. ±Inf sims are kept:
    * both orderings agree on them (+Inf first, -Inf last). */
  def simsOrNull(dv: ArrayData, cb: Array[Double], dims: Int): ArrayData = {
    if (dv.numElements() != dims) return null
    val c = cb.length / dims
    val out = new Array[Double](c)
    var i = 0
    while (i < c) {
      var acc = 0.0
      var d = 0
      while (d < dims) {
        if (dv.isNullAt(d)) return null
        acc += dv.getDouble(d) * cb(i * dims + d)
        d += 1
      }
      if (acc != acc) return null // NaN sim: no consistent rank
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  def ivf_sims(dv: Column, cb: Array[Double], dims: Int): Column =
    GraftBridge.column(IvfSims(GraftBridge.expression(dv), cb, dims))

  /** top-P probe cells (1-based) by (sim DESC, cell ASC) in one pass:
    * O(C·dims) multiplies + O(C·P) insertion, vs the declarative
    * zip_with→array_sort tail's O(C log C) boxed struct sort per row —
    * the term that made coarse assignment scale with C instead of the
    * data (measured at sf0.5: C=1024 19.9 s → 2.6 s). probes(0) IS the
    * cell argmax (first index attaining the max — array_position on
    * array_max and top-1 by (sim DESC, idx ASC) coincide), so callers
    * take `cell = probes[0]` rather than re-scoring.
    *
    * Ordering contract: java.lang.Double.compare on finite/±Inf sims —
    * -0.0 < 0.0 — matching both Spark's double ordering in array_sort
    * and DuckDB's ORDER BY sim DESC; equal sims keep the earlier cell
    * (strict-beat insertion over an ascending scan). A NaN sim nulls
    * the row (see simsOrNull: the two formulations rank NaN at opposite
    * ends, so it is out of the parity contract by construction). */
  def probesOrNull(dv: ArrayData, cb: Array[Double], dims: Int,
      p: Int): ArrayData = {
    if (dv.numElements() != dims) return null
    var d = 0
    while (d < dims) { if (dv.isNullAt(d)) return null; d += 1 }
    val v = dv.toDoubleArray()
    val c = cb.length / dims
    val pp = math.min(p, c)
    val topS = new Array[Double](pp)
    val topI = new Array[Long](pp)
    var filled = 0
    var i = 0
    while (i < c) {
      var acc = 0.0
      d = 0
      while (d < dims) { acc += v(d) * cb(i * dims + d); d += 1 }
      if (acc != acc) return null // NaN sim: no consistent rank
      if (filled < pp || java.lang.Double.compare(acc, topS(pp - 1)) > 0) {
        var pos = if (filled < pp) filled else pp - 1
        while (pos > 0 && java.lang.Double.compare(acc, topS(pos - 1)) > 0) {
          topS(pos) = topS(pos - 1); topI(pos) = topI(pos - 1); pos -= 1
        }
        topS(pos) = acc
        topI(pos) = i + 1L
        if (filled < pp) filled += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(topI, filled))
  }

  def ivf_probes(dv: Column, cb: Array[Double], dims: Int, p: Int): Column =
    GraftBridge.column(IvfProbes(GraftBridge.expression(dv), cb, dims, p))

  /** Two-level coarse assignment — the sub-quadratic replacement for the
    * flat scan at corpus-scaled C (Approx.scaledCAt grows C ∝ n, so the
    * flat O(n·C·dims) assignment was O(n²·dims/64) end to end; SCALE.md
    * round-11 named it the one remaining scale-killer). The hierarchical
    * form is the standard IVF answer (two-level coarse quantizers /
    * IMI): rank S = scaledSuperC(C) ≈ √C super-centroids, keep the top
    * `sProbes`, then score ONLY those supers' child centroids —
    * O(S + sProbes·maxChild) dots per row ≈ O(√C·dims) instead of
    * O(C·dims).
    *
    * Determinism contract (what keeps the e8b/e16b oracles green):
    *   - super ranking: (ssim DESC, super ASC), strict-beat insertion
    *     over an ascending scan — identical to probesOrNull's rule;
    *   - child ranking: (sim DESC, cell ASC) across the UNION of the
    *     selected supers' children. Children arrive grouped by super
    *     (NOT in global cell order), so the insertion compares the cell
    *     id explicitly on sim ties rather than relying on scan order;
    *   - `superCb`/`childStart`/`childIds` list only NON-EMPTY supers
    *     (Approx.ivfChildren drops childless supers before flattening):
    *     an empty super can never contribute a candidate, so ranking
    *     only non-empty ones guarantees probes is never empty — the
    *     caller's `element_at(probes, 1)` argmax is ANSI-safe;
    *   - per-dot folds accumulate from 0.0 in ascending dim order and a
    *     NaN sim nulls the row, exactly like simsOrNull/probesOrNull.
    * The oracle re-derives the same supers (splitmix64 at
    * Approx.IvfSuperSeedBase), the same parent map (argmax with the
    * same tie-break), and the same two-stage QUALIFY ranking in SQL.
    */
  def probes2OrNull(dv: ArrayData, superCb: Array[Double],
      cb: Array[Double], childStart: Array[Int], childIds: Array[Int],
      dims: Int, p: Int, sProbes: Int): ArrayData = {
    if (dv.numElements() != dims) return null
    var d = 0
    while (d < dims) { if (dv.isNullAt(d)) return null; d += 1 }
    val v = dv.toDoubleArray()
    val nSup = superCb.length / dims
    // stage 1: top-sProbes supers by (ssim DESC, super ASC) — ascending
    // scan + strict-beat insertion keeps the earlier super on ties
    val sp = math.min(sProbes, nSup)
    val supS = new Array[Double](sp)
    val supI = new Array[Int](sp)
    var supFilled = 0
    var s = 0
    while (s < nSup) {
      var acc = 0.0
      d = 0
      while (d < dims) { acc += v(d) * superCb(s * dims + d); d += 1 }
      if (acc != acc) return null // NaN ssim: no consistent rank
      if (supFilled < sp || java.lang.Double.compare(acc, supS(sp - 1)) > 0) {
        var pos = if (supFilled < sp) supFilled else sp - 1
        while (pos > 0 && java.lang.Double.compare(acc, supS(pos - 1)) > 0) {
          supS(pos) = supS(pos - 1); supI(pos) = supI(pos - 1); pos -= 1
        }
        supS(pos) = acc
        supI(pos) = s
        if (supFilled < sp) supFilled += 1
      }
      s += 1
    }
    // stage 2: top-p children of the selected supers by (sim DESC,
    // cell ASC). Scan order is super-rank-major, so ties compare the
    // cell id explicitly instead of relying on arrival order.
    val topS = new Array[Double](p)
    val topI = new Array[Long](p)
    var filled = 0
    var si = 0
    while (si < supFilled) {
      val sup = supI(si)
      var j = childStart(sup)
      val end = childStart(sup + 1)
      while (j < end) {
        val cell = childIds(j) // 0-based centroid index
        var acc = 0.0
        d = 0
        while (d < dims) { acc += v(d) * cb(cell * dims + d); d += 1 }
        if (acc != acc) return null // NaN sim: no consistent rank
        val cellId = cell + 1L // 1-based, the probes convention
        def beats(sim: Double, id: Long, atS: Double, atI: Long): Boolean = {
          val c = java.lang.Double.compare(sim, atS)
          c > 0 || (c == 0 && id < atI)
        }
        if (filled < p || beats(acc, cellId, topS(p - 1), topI(p - 1))) {
          var pos = if (filled < p) filled else p - 1
          while (pos > 0 && beats(acc, cellId, topS(pos - 1), topI(pos - 1))) {
            topS(pos) = topS(pos - 1); topI(pos) = topI(pos - 1); pos -= 1
          }
          topS(pos) = acc
          topI(pos) = cellId
          if (filled < p) filled += 1
        }
        j += 1
      }
      si += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(topI, filled))
  }

  def ivf_probes2(dv: Column, superCb: Array[Double], cb: Array[Double],
      childStart: Array[Int], childIds: Array[Int], dims: Int, p: Int,
      sProbes: Int): Column =
    GraftBridge.column(IvfProbes2(GraftBridge.expression(dv), superCb, cb,
      childStart, childIds, dims, p, sProbes))

  /** broadcast-codebook variant of ivf_probes2 for corpus-scaled C: at
    * C=8192 the inline child codebook is C·dims·8 = 4.0 MiB serialized
    * into EVERY stage's task binary that contains the expression (the
    * cluster gate measured 40 stages × 4.1 MiB per e-family dump, and
    * at the CMAX=65536 ceiling it would be 33.5 MiB/stage). Shipping it
    * as a real SparkContext.broadcast makes the task binary carry only
    * the handle; each executor fetches the array once per lifetime via
    * the BlockManager. The small arrays (superCb ≈ √C·dims·8, childStart/
    * childIds ≤ (C+1)·4 — ~130 KiB total at C=8192) stay inline: they
    * are under the 1 MiB warning threshold at every reachable C and
    * inlining keeps the degenerate-equivalence spec paths unchanged. */
  def ivf_probes2b(dv: Column, superCb: Array[Double],
      cbB: Broadcast[Array[Double]], childStart: Array[Int],
      childIds: Array[Int], dims: Int, p: Int, sProbes: Int): Column =
    GraftBridge.column(IvfProbes2B(GraftBridge.expression(dv), superCb, cbB,
      childStart, childIds, dims, p, sProbes))
}

case class IvfSims(child: Expression, cb: Array[Double], dims: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_sims"

  override def nullSafeEval(a: Any): Any =
    IvfKernels.simsOrNull(a.asInstanceOf[ArrayData], cb, dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("ivfCodebook", cb, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val tmp = ctx.freshName("ivfSims")
      s"""
        org.apache.spark.sql.catalyst.util.ArrayData $tmp =
          graft.functions.IvfKernels.simsOrNull($a, $cbRef, $dims);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $tmp; }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): IvfSims =
    copy(child = newChild)
}

/** the two-level probe expression (see IvfKernels.probes2OrNull for the
  * full determinism contract); the flattened super codebook, child
  * codebook, and child-index arrays ride as reference objects in the
  * generated class exactly like IvfProbes' codebook */
case class IvfProbes2(child: Expression, superCb: Array[Double],
    cb: Array[Double], childStart: Array[Int], childIds: Array[Int],
    dims: Int, p: Int, sProbes: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_probes2"

  override def nullSafeEval(a: Any): Any =
    IvfKernels.probes2OrNull(a.asInstanceOf[ArrayData], superCb, cb,
      childStart, childIds, dims, p, sProbes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val supRef = ctx.addReferenceObj("ivfSuperCodebook", superCb, "double[]")
    val cbRef = ctx.addReferenceObj("ivfCodebook", cb, "double[]")
    val csRef = ctx.addReferenceObj("ivfChildStart", childStart, "int[]")
    val ciRef = ctx.addReferenceObj("ivfChildIds", childIds, "int[]")
    nullSafeCodeGen(ctx, ev, a => {
      val tmp = ctx.freshName("ivfProbes2")
      s"""
        org.apache.spark.sql.catalyst.util.ArrayData $tmp =
          graft.functions.IvfKernels.probes2OrNull($a, $supRef, $cbRef,
            $csRef, $ciRef, $dims, $p, $sProbes);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $tmp; }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): IvfProbes2 =
    copy(child = newChild)
}

/** IvfProbes2 with the CHILD codebook behind a SparkContext.broadcast
  * (see IvfKernels.ivf_probes2b for why): identical arithmetic and
  * determinism contract — both eval paths call the same
  * probes2OrNull — only the transport of the C·dims array differs.
  * Codegen resolves `value()` ONCE into a mutable field at generated-
  * class init (one BlockManager lookup per partition init, a local
  * array read per row — never a per-row value() call); the interpreted
  * path calls `.value` per eval, which TorrentBroadcast caches after
  * the first fetch. The broadcast handle serializes at a few hundred
  * bytes, so the expression's task-binary footprint is the small
  * inline arrays only. Instances for the same C share one broadcast
  * via Approx.cbBcast's driver-side memo, so case-class equality (and
  * with it codegen CSE / canonicalization) holds across call sites. */
case class IvfProbes2B(child: Expression, superCb: Array[Double],
    cbB: Broadcast[Array[Double]], childStart: Array[Int],
    childIds: Array[Int], dims: Int, p: Int, sProbes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_probes2b"

  override def nullSafeEval(a: Any): Any =
    IvfKernels.probes2OrNull(a.asInstanceOf[ArrayData], superCb, cbB.value,
      childStart, childIds, dims, p, sProbes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val supRef = ctx.addReferenceObj("ivfSuperCodebook", superCb, "double[]")
    val bRef = ctx.addReferenceObj("ivfCbBcast", cbB,
      "org.apache.spark.broadcast.Broadcast")
    // resolved once per generated-class init: the per-row loop reads a
    // plain double[] field, exactly like the inline variant
    val cbField = ctx.addMutableState("double[]", "ivfCbResolved",
      v => s"$v = (double[]) $bRef.value();")
    val csRef = ctx.addReferenceObj("ivfChildStart", childStart, "int[]")
    val ciRef = ctx.addReferenceObj("ivfChildIds", childIds, "int[]")
    nullSafeCodeGen(ctx, ev, a => {
      val tmp = ctx.freshName("ivfProbes2b")
      s"""
        org.apache.spark.sql.catalyst.util.ArrayData $tmp =
          graft.functions.IvfKernels.probes2OrNull($a, $supRef, $cbField,
            $csRef, $ciRef, $dims, $p, $sProbes);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $tmp; }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): IvfProbes2B =
    copy(child = newChild)
}

case class IvfProbes(child: Expression, cb: Array[Double], dims: Int, p: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ivf_probes"

  override def nullSafeEval(a: Any): Any =
    IvfKernels.probesOrNull(a.asInstanceOf[ArrayData], cb, dims, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("ivfCodebook", cb, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      val tmp = ctx.freshName("ivfProbes")
      s"""
        org.apache.spark.sql.catalyst.util.ArrayData $tmp =
          graft.functions.IvfKernels.probesOrNull($a, $cbRef, $dims, $p);
        if ($tmp == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $tmp; }
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): IvfProbes =
    copy(child = newChild)
}
