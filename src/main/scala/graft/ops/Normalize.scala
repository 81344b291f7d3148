package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.schema.ReportSchema.{Sample, TaxId, Reads}

/** Normalization operators: RPM, z-score, rRPM (reference F2/W2/J2+F3;
  * `bigbugdata.py:104–163, 320–331`).
  */
object Normalize {

  /** F2: rpm = reads / (total_reads / 1e6) per cell (`bigbugdata.py:122`).
    * Inner join on the broadcast per-sample totals (a local relation of
    * the rows the pipeline already collected): a sample missing from
    * totals KeyErrors in the reference; here the join would silently drop
    * its cells, so callers should validate the sample set
    * (BigBugData.build does). */
  def rpm(grid: DataFrame, totals: DataFrame): DataFrame =
    grid.join(broadcast(totals), Seq(Sample))
      .withColumn("rpm",
        col(Reads).cast("double") / (col("total_reads").cast("double") / lit(1e6)))

  /** W2 + J2/F3 in ONE window over taxID.
    *
    * z_score: per-organism z-score of rpm ACROSS the dense sample vector,
    * population stddev (scipy zscore ddof=0, `bigbugdata.py:322–327`).
    * stddev = 0 (all-equal vector, incl. single sample) ⇒ NaN exactly like
    * scipy — made explicit rather than relying on 0/0 double semantics.
    *
    * rrpm = floor(rpm) / max(floor(nc_rpm), 1), nc_rpm being the rpm of
    * the sample's control in the same organism and defaulting to 1 for
    * samples in no group (`bigbugdata.py:147–159`: `int()` truncation on
    * both operands — values are ≥0 so trunc == floor; 0-denominator
    * clamped to 1). The grid must be dense: every control then has a cell
    * in every taxID partition, so the window collects the controls' rpm
    * per organism and no self-join of the grid is needed. `sampleToNc`
    * is dimension-sized → broadcast.
    */
  def zscoreRrpm(spark: SparkSession, rpmGrid: DataFrame,
      sampleToNc: Map[String, String]): DataFrame = {
    import spark.implicits._
    val ncMap = sampleToNc.toSeq.toDF(Sample, "nc_sample")
    val controls = sampleToNc.values.toSet.toSeq
    val w = Window.partitionBy(col(TaxId))
    rpmGrid
      .join(broadcast(ncMap), Seq(Sample), "left")
      .select(col("*"),
        avg(col("rpm")).over(w).as("_avg"),
        stddev_pop(col("rpm")).over(w).as("_sd"),
        map_from_entries(collect_list(
          when(col(Sample).isInCollection(controls), struct(col(Sample), col("rpm"))))
          .over(w)).as("_nc"))
      .withColumn("z_score",
        when(col("_sd") === 0.0 || col("_sd").isNull, lit(Double.NaN))
          .otherwise((col("rpm") - col("_avg")) / col("_sd")))
      .withColumn("nc_rpm", element_at(col("_nc"), col("nc_sample")))
      .withColumn("rrpm",
        floor(col("rpm")).cast("double") /
          greatest(floor(coalesce(col("nc_rpm"), lit(1.0))), lit(1L)).cast("double"))
      .drop("_avg", "_sd", "_nc")
  }
}
