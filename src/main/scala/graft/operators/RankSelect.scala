package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed order-statistic selection: the value at the k-th smallest
  * rank (1-based, duplicates counted) per group, WITHOUT a per-group
  * global sort.
  *
  * `ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v)` funnels each whole
  * group through ONE task's sort — fatal when the group cardinality is
  * tiny (3 return flags over a 100 TB lineitem puts a third of the corpus
  * in one task). This operator keeps the discrete-percentile semantics
  * (an EXISTING value, the ceil-rank element — the q78/q88 contract) but
  * distributes the work with the `PrefixScan` prefix-offset discipline
  * (the one q54/d27/q81/q86/q93 use):
  *
  *   1. collapse rows to a per-(grp, v) count histogram (map-side
  *      combine; one shuffle whose reduce keys are value-level, never
  *      group-level);
  *   2-3. `PrefixScan`: one Sum of the counts per grp over `parts`
  *      range chunks of (grp, v) — one pinned checkpoint, ≤ parts ×
  *      |grp| subtotals on the driver (metadata, not data) and
  *      broadcast prefix offsets;
  *   4. running-count WITHIN each (pid, grp) slice (a window over one
  *      range chunk, so every sort is bounded by the range-partition
  *      size, and slices of the same group sort in parallel), add the
  *      broadcast offset, and keep the rows whose global rank interval
  *      [start, end] covers a requested k.
  *
  * At 1000 executors the only serial state is the parts × |grp| subtotal
  * table; no task ever holds more than one range chunk of the VALUE
  * HISTOGRAM (already far smaller than the raw rows under duplicate-heavy
  * domains like 2-decimal prices).
  *
  * SIZE GATE: steps 2–4 cost ~1 s of fixed overhead (checkpoint +
  * subtotal collect + second shuffle) that dwarfs the work when the
  * input is small. When the input's file-backed relations total under
  * `minDistributedBytes` (or the frame is not file-backed at all — unit
  * tests, in-memory fixtures), the SAME rank-interval math runs over the
  * histogram with a single per-group running-count window instead: the
  * histogram is already duplicate-collapsed, so the per-group sort is
  * bounded by the value-domain size, acceptable precisely when the gate
  * passes. Both paths are property-pinned equal (EdgeSpec) and produce
  * identical output by the same interval arithmetic; only the plan
  * shape differs. Callers that need a specific path force it with
  * `minDistributedBytes = 0` (always distributed) or `Long.MaxValue`
  * (always windowed).
  *
  * TARGETS CONTRACT: `targets` must carry the group column `grp` and a
  * LongType rank column NAMED EXACTLY `k` (1-based), plus any caller
  * passthrough columns (probe labels etc.); it is broadcast — callers
  * request a handful of ranks per group. A target whose k is out of
  * range (k < 1 or k > group size) matches no histogram interval and
  * silently produces NO output row — by design (the caller owns rank
  * validity; q78/q88 derive k from the group sizes so the case cannot
  * arise). Ties: with duplicates the
  * k-th smallest VALUE is identical under any tie-breaking total order,
  * so callers whose nominal order adds unique-key tie-breaks (q88's
  * (p, ok, ln)) select the same value.
  */
object RankSelect {

  /** size estimate feeding the gate: when every leaf of the analyzed
    * plan is a file-backed relation, the exact sum of their on-disk
    * sizes; otherwise (cached / localCheckpointed / RDD-backed leaves,
    * whose LogicalRelation byte count would read 0 and silently funnel
    * an arbitrarily large frame through the one-task windowed path) the
    * optimizer's `stats.sizeInBytes` — tiny for LocalRelation test
    * fixtures (still the small path), the accurate in-memory size for
    * cached frames, and `defaultSizeInBytes` (= huge → distributed
    * path, the safe direction) for opaque RDD scans. Clamped to
    * `Long.MaxValue - 1`, NOT MaxValue: the documented
    * `minDistributedBytes = Long.MaxValue` force-windowed sentinel
    * must still win (`MaxValue < MaxValue` is false) even over a
    * defaultSizeInBytes leaf. */
  private[graft] def inputBytes(df: DataFrame): Long = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val fileBacked = leaves.collect { case r: LogicalRelation => r }
    if (fileBacked.size == leaves.size)
      fileBacked.map(_.relation.sizeInBytes).sum
    else
      df.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue - 1)).toLong
  }

  /** the duplicate-collapsed (grp, v, `_c`) value histogram of `df` —
    * the input contract of `valueAtRanksFromHist`. Callers that ALSO
    * derive their targets from group sizes (q78's percentile indices,
    * q88's ntile boundaries) should build this once, `localCheckpoint`
    * it, and compute sizes as `hist.groupBy(grp).agg(sum("_c"))`:
    * targets AND rank selection then both run histogram-sized, and the
    * corpus is read EXACTLY ONCE — at 100 TB that is the difference
    * between one full scan and two. */
  def histogram(df: DataFrame, grp: String, v: String): DataFrame =
    df.groupBy(col(grp), col(v)).agg(count(lit(1)).as("_c"))

  def valueAtRanks(df: DataFrame, grp: String, v: String,
      targets: DataFrame, parts: Int = 32,
      minDistributedBytes: Long = 32L << 20): DataFrame =
    valueAtRanksFromHist(histogram(df, grp, v), inputBytes(df), grp, v,
      targets, parts, minDistributedBytes)

  /** rank selection over a pre-built histogram (see `histogram` for the
    * column contract). `sourceBytes` feeds the size gate — pass
    * `inputBytes(sourceDf)` (or 0 / Long.MaxValue to force a path). */
  def valueAtRanksFromHist(hist: DataFrame, sourceBytes: Long,
      grp: String, v: String, targets: DataFrame, parts: Int = 32,
      minDistributedBytes: Long = 32L << 20): DataFrame = {
    val running = if (sourceBytes < minDistributedBytes) {
      // small path: same interval math, one running-count window over
      // the duplicate-collapsed histogram
      val w = Window.partitionBy(col(grp)).orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist.withColumn("_end", sum(col("_c")).over(w))
    } else {
      val scan = PrefixScan(hist, Seq(grp), Seq(col(v)),
        Seq(PrefixScan.Sum("_off", col("_c"))), Some(parts))
      val w = scan.window
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scan.frame.withColumn("_end", col("_off") + sum(col("_c")).over(w))
        .drop("_pid", "_off")
    }
    running
      .withColumn("_start", col("_end") - col("_c") + 1)
      .join(broadcast(targets), Seq(grp))
      .filter(col("k").between(col("_start"), col("_end")))
      .drop("_c", "_start", "_end")
  }
}
