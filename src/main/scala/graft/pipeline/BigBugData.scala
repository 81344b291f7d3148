package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{CsvSink, ReportReader}
import graft.ops._
import graft.schema.ReportSchema._

/** The reference's `run()` (`bigbugdata.py:225–366`) as one lazy Spark DAG.
  *
  * Reference stage → engine stage:
  *   fused scan (totals + stats + counts)  → one cached report scan,
  *                                           three derived frames
  *   wide dicts, eager between steps       → long-format DataFrames,
  *                                           single lazy plan; pivot only
  *                                           at the CSV sinks
  *   driver-side regex groups              → NcGroups (sample universe is
  *                                           the file list — never data)
  *
  * Shuffle boundaries land exactly where the math demands: groupBy
  * (sample) for the collected totals, groupBy (taxID) for the organism
  * metadata, groupBy (taxID, sample) for reads and stats and its left
  * join onto the organism × sample grid, one window over taxID (z-score
  * and control rpm), one window over sample (tophits). One cached grid
  * feeds all three outputs.
  */
object BigBugData {

  final case class Params(
      reportPaths: Seq[String],
      resultsDir: String,
      rank: String = "species",
      nTophits: Int = 15,
      groupPatterns: Seq[(String, String)] = Nil)

  final case class Outputs(
      combined: DataFrame,   // long: taxID, sample, taxName, total, reads
      rrpm: DataFrame,       // long: + total_reads, rpm, z_score, nc_*, rrpm
      tophits: DataFrame,    // sampleName, taxID, taxName, rank, rRPM, stats…
      orderedSamples: Seq[String])

  /** Build the full dataflow; actions happen only in [[write]]. */
  def build(spark: SparkSession, params: Params): Outputs = {
    val samplePaths = ReportReader.sampleIdMap(params.reportPaths)
    val sampleIds = samplePaths.map(_._1)
    val ordered = ReportReader.orderedSampleIds(sampleIds)

    // cache only the columns the pipeline reads: the verbatim text twins
    // stay out of the cache, and CSV column pruning skips pct/taxReads
    val reports = ReportReader.readReports(spark, samplePaths.map(_._2))
      .select(Sample, TaxId, Rank, TaxName, Reads, Kmers, Dup, Cov,
        ReportReader.OrderKey)
      .cache()

    // one job collects the totals for both the trap-10 check and rpm
    val totalsAgg = TaxaOps.sampleTotals(reports)
    val totalRows = totalsAgg.collect()
    // fail loudly where the reference would KeyError (§7.4 trap 10)
    val missingTotals = sampleIds.filterNot(totalRows.map(_.getString(0)).toSet)
    if (missingTotals.nonEmpty)
      throw new IllegalStateException(
        "No taxID 0/1 rows (cannot compute total reads) for sample(s): " +
          missingTotals.mkString(", "))
    val totals = spark.createDataFrame(
      java.util.Arrays.asList(totalRows: _*), totalsAgg.schema)

    val taxa = TaxaOps.taxaRows(reports, params.rank)
    val dense = TaxaOps.denseGrid(spark, TaxaOps.cellCounts(taxa),
      TaxaOps.taxaMeta(taxa), sampleIds)

    val groups = NcGroups.resolve(sampleIds, params.groupPatterns)
    val sampleToNc = NcGroups.sampleToControl(sampleIds, groups)
    // the one cached grid: all three outputs read it
    val grid = Normalize.zscoreRrpm(spark, Normalize.rpm(dense, totals),
      sampleToNc).cache()

    Outputs(
      grid.select(TaxId, Sample, TaxName, "total_reads_organism", Reads),
      grid.select(Sample, TaxId, TaxName, "total_reads_organism", Reads,
        "total_reads", "rpm", "z_score", "nc_sample", "nc_rpm", "rrpm"),
      TopHits.tophits(grid, params.nTophits),
      ordered)
  }

  /** Pivot long → wide for the CSV contract: columns
    * [taxID, taxName, Total # of Reads] ++ orderedSamples, rows sorted by
    * taxID (O1/O2). Explicit pivot values skip Spark's distinct-collect
    * job and pin column order. The combined and rrpm sinks write this
    * frame. */
  def pivotWide(long: DataFrame, valueCol: String,
      orderedSamples: Seq[String]): DataFrame =
    long.groupBy(col(TaxId), col(TaxName),
        col("total_reads_organism").as("Total # of Reads"))
      .pivot(Sample, orderedSamples)
      .agg(first(col(valueCol)))
      .orderBy(col(TaxId))

  /** Execute and write the three CSVs (K1/K2). combined and rrpm go
    * through [[pivotWide]], whose hash aggregation collapses the S cells
    * of an organism into one row before anything is sorted. */
  def write(spark: SparkSession, params: Params): Outputs = {
    val out = build(spark, params)
    val (combinedPath, rrpmPath, tophitsPath) =
      CsvSink.outputPaths(params.resultsDir, params.rank)
    val header = Seq(TaxId, TaxName, "Total # of Reads") ++ out.orderedSamples

    CsvSink.writeSingleCsv(
      pivotWide(out.combined, Reads, out.orderedSamples), header, combinedPath)
    CsvSink.writeSingleCsv(
      pivotWide(out.rrpm, "rrpm", out.orderedSamples), header, rrpmPath)

    // tophits rows emit in ordered-sample order, then rank (reference
    // iterates samples in order, `bigbugdata.py:176`); literal map
    // instead of a UDF keeps the sort key inside codegen
    val idxExpr = coalesce(element_at(
      map(out.orderedSamples.zipWithIndex.flatMap { case (s, i) =>
        Seq(lit(s), lit(i)) }: _*), col("sampleName")), lit(Int.MaxValue))
    CsvSink.writeSingleCsv(
      out.tophits.orderBy(idxExpr, col("rank")),
      Seq("sampleName", TaxId, TaxName, "rank", "rRPM", "kmers", "dup",
        "reads", "cov", "e_val", "z_score"),
      tophitsPath)
    out
  }
}
