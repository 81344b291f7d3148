package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schema.ReportSchema._
import graft.io.ReportReader.{ArgIdx, OrderKey}

/** Scan-side operators: totals, rank filter, per-cell stats, and the
  * organism rows (reference P1/P2, A1–A3; `bigbugdata.py:256–302`).
  *
  * The scan and the cell aggregate are LONG, `(sample, taxID, …)`; the
  * batch repartitions its scan by taxID once, so the cell and organism
  * aggregates share a stage. The grid is the reference's own relation,
  * ONE row per organism
  * (`combined_taxa_data: dict[int, dict]`, `:286–302`) holding an array
  * per measure with one slot per sample. Every later step reads or writes
  * those arrays: no cross join, no window over taxID, no pivot.
  */
object TaxaOps {

  /** A1's rows: taxID 0 and 1, at any rank (`bigbugdata.py:258–261`) */
  val isTotal: Column = col(TaxId).isin(TotalTaxIds: _*)

  /** A1: per-sample total reads = Σ reads over its [[isTotal]] rows,
    * summed as a cell is ([[cellReads]]): null when none is numeric. */
  def sampleTotals(rows: DataFrame): DataFrame =
    rows.filter(isTotal).groupBy(col(Sample)).agg(cellReads.as("total_reads"))

  /** A1 in the batch: [[isTotal]] rows fold into taxID TotalKey, one cell
    * per sample, so [[organisms]] yields the totals as one more row. */
  val TotalKey: Long = 0L
  def foldTotals(rows: DataFrame): DataFrame =
    rows.withColumn(TaxId, when(isTotal, lit(TotalKey)).otherwise(col(TaxId)))

  /** P1+P2: taxa rows = rank == target, excluding the total rows
    * (`bigbugdata.py:258–266`); a null taxID is neither. */
  def isTaxon(rank: String): Column = !isTotal && col(Rank) === rank
  def taxaRows(reports: DataFrame, rank: String): DataFrame = reports.filter(isTaxon(rank))

  /** A2's cell reads: duplicate rows accumulate (`+=`, `bigbugdata.py:300–302`) */
  val cellReads: Column = sum(col(Reads)).as(Reads)

  /** A2 and F1 in one `(taxID, sample)` aggregate: summed `reads`, the
    * `stats` struct carried to tophits, with e_val = (kmers/reads)·cov
    * (`bigbugdata.py:268–284`), and the cell's first row as `first`
    * (OrderKey, taxName) for the organism's first-seen name. The
    * reference overwrites stats on duplicate rows (dict assignment ⇒ last
    * row wins); we reproduce that with max_by over the file-order row id.
    * reads = 0 would crash the reference with ZeroDivisionError — we
    * yield null and keep going (documented divergence, SURVEY §7.4).
    */
  def cellCounts(taxa: DataFrame): DataFrame =
    taxa.groupBy(col(TaxId), col(Sample))
      .agg(
        cellReads,
        max_by(struct(col(Kmers), col(Dup), col(Reads), col(Cov),
          when(col(Reads) =!= 0,
            (col(Kmers).cast("double") / col(Reads)) * col(Cov)).as("e_val")),
          col(OrderKey)).as("stats"),
        min(struct(col(OrderKey), col(TaxName))).as("first"))

  /** ONE row per organism from the cells: taxName = FIRST-seen value
    * across the scan, whitespace-trimmed (`bigbugdata.py:294–297` —
    * ".strip()  # damn you kraken"), the organism grand total (A3,
    * `:298–302`), and the arrays `reads` and `stats`, slot i holding the
    * cell of the scan's i-th sample in argument order (its ArgIdx). A
    * sample without a report row gets reads 0 (`:289–291` pre-fills
    * every sample with 0) and null stats: the grid is dense, since
    * z-scores and rRPM run over zero cells too; so does a report cell
    * without numeric reads, but in the total row it stays null (A1).
    * `nSamples` must count ALL batch samples (even ones with no taxa rows).
    */
  def organisms(counts: DataFrame, nSamples: Int): DataFrame = {
    val slot = col("first")(OrderKey)(ArgIdx)
    val statsType = counts.schema("stats").dataType
    def cell(i: Column, reads: Column, stats: Column) =
      struct(i.as("slot"), reads.as(Reads), stats.as("stats"))
    counts.groupBy(col(TaxId))
      .agg(
        trim(min(col("first"))(TaxName)).as(TaxName),
        sum(col(Reads)).as("total_reads_organism"),
        collect_list(cell(slot, coalesce(col(Reads),
          when(col(TaxId) =!= TotalKey, lit(0L))), col("stats")))
          .as("_cells"))
      // the report cells plus a 0-filled cell for every slot they miss,
      // in slot order
      .withColumn("_cells", array_sort(concat(col("_cells"),
        transform(array_except(sequence(lit(0), lit(nSamples - 1)),
          col("_cells")("slot")), i => cell(i, lit(0L), lit(null).cast(statsType))))))
      .select(col(TaxId), col(TaxName), col("total_reads_organism"),
        col("_cells")(Reads).as(Reads), col("_cells")("stats").as("stats"))
  }
}
