package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schema.ReportSchema.Reads

/** Normalization operators: RPM, z-score, rRPM (reference F2/W2/J2+F3;
  * `bigbugdata.py:104–163, 320–331`), each an array over the organism
  * row's sample slots ([[TaxaOps.organisms]]).
  */
object Normalize {

  /** Adds the arrays `rpm`, `z_score`, `nc_rpm` and `rrpm` beside `reads`.
    * The dimension-sized arguments are per slot: `totals` the sample's
    * total reads (the collected A1 rows), `ncSlot` its control's slot
    * (None for samples in no group).
    *
    * F2: rpm = reads / (total_reads / 1e6) per cell (`bigbugdata.py:122`).
    * J2 + F3: nc_rpm = the rpm of the slot's control in the same organism;
    * rrpm = floor(rpm) / max(floor(nc_rpm), 1), nc_rpm defaulting to 1
    * for samples in no group (`:147–159`: `int()` truncation on both
    * operands — values are ≥0 so trunc == floor; 0-denominator clamped
    * to 1).
    */
  def normalize(organisms: DataFrame, totals: Seq[Any],
      ncSlot: Seq[Option[Int]]): DataFrame = {
    val total = array(totals.map(t => lit(t).cast("long")): _*)
    val nc = array(ncSlot.map(s => lit(s.map(i => Int.box(i + 1)).orNull).cast("int")): _*)
    organisms
      .withColumn("rpm", transform(col(Reads), (r, i) =>
        r.cast("double") / (element_at(total, i + 1).cast("double") / lit(1e6))))
      .withColumn("z_score", zscore(col("rpm")))
      .withColumn("nc_rpm", transform(col("rpm"), (_, i) =>
        element_at(col("rpm"), element_at(nc, i + 1))))
      .withColumn("rrpm", zip_with(col("rpm"), col("nc_rpm"), (x, n) =>
        floor(x).cast("double") /
          greatest(floor(coalesce(n, lit(1.0))), lit(1L)).cast("double")))
  }

  /** W2: per-organism z-score of rpm ACROSS the dense sample vector,
    * population stddev (scipy zscore ddof=0, `bigbugdata.py:322–327`).
    * stddev = 0 (all-equal vector, incl. single sample) ⇒ NaN exactly like
    * scipy — made explicit rather than relying on 0/0 double semantics.
    *
    * One fold over the slots in order repeats Spark's `avg` (a sum) and
    * `stddev_pop` (`CentralMomentAgg`'s n, avg, m2) update and evaluate
    * steps, null cells skipped, so the bits equal those of the window
    * over taxID the grid used to run. A floating-point fold depends on
    * its order: that window met each organism's cells in the batch's
    * argument order, which is the slot order (PipelineSpec pins it).
    */
  def zscore(rpm: Column): Column = {
    val zero = struct(Seq("sum", "n", "avg", "m2").map(lit(0.0).as(_)): _*)
    aggregate(rpm, zero, (acc, x) => {
      val n = acc("n") + 1.0
      val delta = x - acc("avg")
      val deltaN = delta / n
      when(x.isNull, acc).otherwise(struct((acc("sum") + x).as("sum"),
        n.as("n"), (acc("avg") + deltaN).as("avg"),
        (acc("m2") + delta * (delta - deltaN)).as("m2")))
    }, acc => {
      val ok = acc("n") =!= 0.0
      val mean = when(ok, acc("sum") / acc("n"))
      val sd = when(ok, sqrt(acc("m2") / acc("n")))
      transform(rpm, x => when(sd === 0.0 || sd.isNull, lit(Double.NaN))
        .otherwise((x - mean) / sd))
    })
  }
}
