package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.ReportSchema
import graft.io.ReportReader
import graft.ops.TaxaOps

/** Incremental report ingestion — the streaming twin of the batch
  * pipeline's scan+aggregate stages. The reference re-reads every report
  * on each run; here a directory is watched and per-(organism, sample)
  * counts plus per-sample totals update incrementally as new sample
  * reports land. The scan and the aggregates are the batch pipeline's
  * own ([[ReportReader.typedScan]], [[TaxaOps]]); complete-mode
  * aggregations keep exact parity with the batch semantics (no
  * watermark: report batches are bounded per run, and sample count — the
  * state size — is dimension-sized).
  */
object ReportStream {

  /** stream of typed report rows from a watched directory of `*.tsv` */
  def readReportStream(spark: SparkSession, dir: String): DataFrame =
    ReportReader.typedScan((options, schema) =>
      spark.readStream.options(options).schema(schema).csv(s"$dir/*.tsv"))
      .withColumn(ReportSchema.Sample,
        ReportReader.sampleIdLastUnderscore(input_file_name()))

  /** incremental A1: per-sample totals (taxID 0/1 rows) */
  def runningTotals(reports: DataFrame): DataFrame = TaxaOps.sampleTotals(reports)

  /** incremental A2: long-format combined counts at a rank */
  def runningCounts(reports: DataFrame, rank: String): DataFrame =
    TaxaOps.taxaRows(reports, rank)
      .groupBy(col(ReportSchema.TaxId), col(ReportSchema.Sample))
      .agg(TaxaOps.cellReads)
}
