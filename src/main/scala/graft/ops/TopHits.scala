package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.schema.ReportSchema.{Sample, TaxId, TaxName}

/** W1+J1: per-sample top-K by rRPM with per-cell stats
  * (`bigbugdata.py:166–205`).
  */
object TopHits {

  /** The reference sorts the FULL dense organism vector per sample
    * (`sorted(..., reverse=True)[0:n]`, `:178–181`) — Python's stable sort
    * over taxID-ascending input makes ties resolve taxID-ascending, which
    * `desc(rrpm), asc(taxID)` reproduces exactly. Rank ordinals are
    * assigned over every grid cell, and only then are cells without
    * `stats` (0-filled grid cells, no report row) dropped: such a top-K
    * cell consumes its ordinal — rank gaps are part of the contract
    * (`:183–188` + TODO comment).
    *
    * @param grid one row per dense-grid cell (organism × sample) with
    *   `rrpm`, `z_score` and the `stats` struct (kmers, dup, reads, cov,
    *   e_val) */
  def tophits(grid: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col(Sample))
      .orderBy(col("rrpm").desc, col(TaxId).asc)
    grid.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .filter(col("stats").isNotNull)
      .select(col(Sample).as("sampleName"), col(TaxId), col(TaxName),
        col("rank"), col("rrpm").as("rRPM"),
        col("stats.kmers"), col("stats.dup"), col("stats.reads"),
        col("stats.cov"), col("stats.e_val"), col("z_score"))
  }
}
