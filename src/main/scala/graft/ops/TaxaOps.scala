package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.ReportSchema._
import graft.io.ReportReader.OrderKey

/** Scan-side operators: totals, rank filter, per-cell stats, dense long
  * counts (reference P1/P2, A1–A3; `bigbugdata.py:256–302`).
  *
  * Engine currency is the LONG format `(sample, taxID, …)` — every
  * downstream op becomes a groupBy/window/join that shuffles on its key
  * and scales past the reference's O(taxa × samples) in-RAM wall; the
  * wide/pivoted shape exists only at the CSV sink.
  */
object TaxaOps {

  /** A1: per-sample total reads = Σ reads over taxID ∈ {0,1}
    * (`bigbugdata.py:258–261`). Dimension-sized (one row per sample). */
  def sampleTotals(reports: DataFrame): DataFrame =
    reports.filter(col(TaxId).isin(TotalTaxIds: _*))
      .groupBy(col(Sample))
      .agg(sum(col(Reads)).as("total_reads"))

  /** P1+P2: taxa rows = rank == target, excluding the total rows
    * (`bigbugdata.py:258–266`). */
  def taxaRows(reports: DataFrame, rank: String): DataFrame =
    reports.filter(!col(TaxId).isin(TotalTaxIds: _*) && col(Rank) === rank)

  /** A2 and F1 in one `(taxID, sample)` aggregate: summed `reads`
    * (duplicate rows accumulate, `+=`, `bigbugdata.py:300–302`) and the
    * `stats` struct carried to tophits, with e_val = (kmers/reads)·cov
    * (`bigbugdata.py:268–284`). The reference overwrites stats on
    * duplicate rows (dict assignment ⇒ last row wins); we reproduce that
    * with max_by over the file-order row id. reads = 0 would crash the
    * reference with ZeroDivisionError — we yield null and keep going
    * (documented divergence, SURVEY §7.4).
    */
  def cellCounts(taxa: DataFrame): DataFrame =
    taxa.groupBy(col(TaxId), col(Sample))
      .agg(
        sum(col(Reads)).as(Reads),
        max_by(struct(col(Kmers), col(Dup), col(Reads), col(Cov),
          when(col(Reads) =!= 0,
            (col(Kmers).cast("double") / col(Reads)) * col(Cov)).as("e_val")),
          col(OrderKey)).as("stats"))

  /** Per-organism metadata: taxName = FIRST-seen value across the scan,
    * whitespace-trimmed (`bigbugdata.py:294–297` — ".strip()  # damn you
    * kraken"), plus the organism grand total (A3, `:298–302`). */
  def taxaMeta(taxa: DataFrame): DataFrame =
    taxa.groupBy(col(TaxId))
      .agg(
        trim(min_by(col(TaxName), col(OrderKey))).as(TaxName),
        sum(col(Reads)).as("total_reads_organism"))

  /** Densify to the full organism × sample grid with 0-filled missing
    * reads (`bigbugdata.py:289–291` pre-fills every sample with 0; any
    * other `counts` column stays null there) — the
    * dense grid is semantic: z-scores and rRPM run over zero cells too.
    * `samples` must be ALL batch samples (even ones with no taxa rows).
    */
  def denseGrid(spark: SparkSession, counts: DataFrame, meta: DataFrame,
      samples: Seq[String]): DataFrame = {
    import spark.implicits._
    val sampleDf = samples.toDF(Sample)
    meta.select(col(TaxId), col(TaxName), col("total_reads_organism"))
      .crossJoin(broadcast(sampleDf))
      .join(counts, Seq(TaxId, Sample), "left")
      .na.fill(0L, Seq(Reads))
  }
}
