package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{CsvSink, ReportReader}
import graft.schema.ReportSchema

/** Semi-join filters (reference J4/P6 — both `scripts/filter_*_by_taxid.py`).
  *
  * The reference probes a driver-resident string set; at scale the filter
  * relation is a broadcast LEFT SEMI join — same semantics, no collect.
  * taxIDs compare as strings in the reference (`filter_rrpm_by_taxid
  * .py:29`); joining on a common cast preserves that exactly for numeric
  * and non-numeric inputs alike.
  */
object FilterOps {

  /** S4: taxids CSV (header, `taxID` column) → single-column DataFrame. */
  def readTaxids(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path).select(col("taxID"))

  /** `filter_rrpm_by_taxid.py`: keep rrpm rows whose taxID is in the set. */
  def filterByTaxids(df: DataFrame, taxids: DataFrame): DataFrame =
    df.join(
      broadcast(taxids.select(col("taxID").cast("string").as("_t")).distinct()),
      df("taxID").cast("string") === col("_t"), "left_semi")

  /** K3: the filter scripts' stdout-CSV contract — header + rows when any
    * row matched, NOTHING at all when none did
    * (`filter_rrpm_by_taxid.py:33–36`: the writer is never constructed
    * for an empty result). One action renders the lines and serves both
    * the emptiness test and the write; rows keep partition order. */
  def writeFilteredCsv(df: DataFrame, target: String): Boolean =
    CsvSink.withLines(df)(CsvSink.writeLines(target, df.columns.toSeq, _))

  /** K3, stdout channel: the reference writes the filtered CSV to STDOUT
    * (`filter_rrpm_by_taxid.py:33–36` — "where it can be directed into a
    * file"), emitting nothing at all on an empty result. Same lines and
    * header as [[writeFilteredCsv]], written to `out`. Returns true iff
    * anything was emitted. */
  def printFilteredCsv(df: DataFrame, out: java.io.PrintStream = System.out): Boolean =
    CsvSink.withLines(df)(CsvSink.emit(out, df.columns.toSeq, _))

  /** `filter_reports_by_taxid.py`: same filter over a folder of reports,
    * with `sampleName` = FIRST underscore token of the file name (F6 —
    * deliberately different from the main tool's rule) prepended.
    *
    * Columns stay STRINGS end-to-end — the verbatim twins of the shared
    * report scan ([[ReportReader.typedScan]]): the reference is a
    * DictReader → DictWriter passthrough (`filter_reports_by_taxid.py:
    * 31–41`) that never parses a value, so `0.10` must reach the output
    * as `0.10`. Typing here would reformat on emit; callers that need
    * typed values cast at their use site, exactly like the reference does.
    */
  def filterReportsByTaxids(spark: SparkSession, reportsGlob: String,
      taxids: DataFrame): DataFrame = {
    val reports = ReportReader.typedScan((options, schema) =>
        spark.read.options(options).schema(schema).csv(reportsGlob))
      .select(ReportSchema.schema.fieldNames.map(n =>
        col(ReportReader.RawPrefix + n).as(n)).toSeq: _*)
      .withColumn("sampleName", ReportReader.sampleIdFirstToken(input_file_name()))
    filterByTaxids(reports, taxids)
      .select(col("sampleName") +: ReportSchema.schema.fieldNames.map(col).toSeq: _*)
  }
}
