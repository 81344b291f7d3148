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
  *                                           single lazy plan; ONE pivot,
  *                                           for both wide CSVs, at the
  *                                           sink
  *   driver-side regex groups              → NcGroups (sample universe is
  *                                           the file list — never data)
  *
  * Shuffle boundaries land exactly where the math demands: groupBy
  * (sample) for the collected totals, groupBy (taxID) for the organism
  * metadata, groupBy (taxID, sample) for reads and stats and its left
  * join onto the organism × sample grid, one window over taxID (z-score
  * and control rpm), one window over sample (tophits), and groupBy
  * (taxID, taxName, total) for the one pivot that renders both wide
  * CSVs. One cached grid feeds all three outputs; one action renders
  * their lines, sorts them within each partition and spills them to run
  * files, which the driver merges into the CSVs (no global sort, no
  * range-sampling job; see [[CsvSink]]).
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

  /** The wide outputs' CSV lines (O1/O2): one pivot of `long` for every
    * output in `valueCols`, each row rendering one line per value column,
    * [taxID, taxName, Total # of Reads] ++ that value per ordered sample.
    * Explicit pivot values skip Spark's distinct-collect job and pin
    * column order. Columns are (out, k1, k2, line) as
    * [[CsvSink.writeTagged]] reads them: out = index in `valueCols`,
    * k1 = taxID (the row order), k2 = 0. */
  def wideLines(long: DataFrame, valueCols: Seq[String],
      orderedSamples: Seq[String]): DataFrame = {
    val pivoted = long.groupBy(col(TaxId), col(TaxName),
        col("total_reads_organism"))
      .pivot(Sample, orderedSamples)
      .agg(first(col(valueCols.head)), valueCols.tail.map(c => first(col(c))): _*)
    // the pivot columns come sample-major: s1_v0, s1_v1, s2_v0, …
    val wide = CsvSink.byPosition(pivoted)
    val c = wide.columns.toSeq.map(col)
    val nv = valueCols.size
    wide.select(inline(array(valueCols.indices.map { v =>
      struct(lit(v).as("out"), c.head.as("k1"), lit(0L).as("k2"),
        CsvSink.line(c.take(3) ++ orderedSamples.indices.map(s => c(3 + s * nv + v)))
          .as("line"))
    }: _*)))
  }

  /** Execute and write the three CSVs (K1/K2) with one action after the
    * totals collect: combined and rrpm lines come from ONE pivot of the
    * grid (see [[wideLines]]), whose hash aggregation collapses the S
    * cells of an organism into one row; tophits lines are tagged with
    * (ordered-sample index, rank). The driver merges them in that order
    * into the files. */
  def write(spark: SparkSession, params: Params): Outputs = {
    val out = build(spark, params)
    val (combinedPath, rrpmPath, tophitsPath) =
      CsvSink.outputPaths(params.resultsDir, params.rank)
    val header = Seq(TaxId, TaxName, "Total # of Reads") ++ out.orderedSamples
    val tophitsHeader = Seq("sampleName", TaxId, TaxName, "rank", "rRPM",
      "kmers", "dup", "reads", "cov", "e_val", "z_score")

    // tophits rows emit in ordered-sample order, then rank (reference
    // iterates samples in order, `bigbugdata.py:176`); literal map
    // instead of a UDF keeps the order tag inside codegen
    val idxExpr = coalesce(element_at(
      map(out.orderedSamples.zipWithIndex.flatMap { case (s, i) =>
        Seq(lit(s), lit(i)) }: _*), col("sampleName")), lit(Int.MaxValue))
    val tophitsLines = out.tophits.select(lit(2).as("out"),
      idxExpr.cast("long").as("k1"), col("rank").cast("long").as("k2"),
      CsvSink.line(tophitsHeader.map(col)).as("line"))

    CsvSink.writeTagged(
      wideLines(out.rrpm, Seq(Reads, "rrpm"), out.orderedSamples)
        .union(tophitsLines),
      Seq(combinedPath -> header, rrpmPath -> header,
        tophitsPath -> tophitsHeader))
    out
  }
}
