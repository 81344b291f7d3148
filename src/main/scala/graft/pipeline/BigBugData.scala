package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{CsvSink, ReportReader}
import graft.ops._
import graft.schema.ReportSchema._

/** The reference's `run()` (`bigbugdata.py:225–366`) as one lazy Spark DAG.
  *
  * Reference stage → engine stage:
  *   fused scan (totals + stats + counts)  → one uncached scan, one
  *                                           exchange by taxID
  *   `combined_taxa_data`, one dict per    → ONE cached row per organism,
  *   organism, eager between steps           one array slot per sample
  *                                           (reads, stats, rpm, z-score,
  *                                           control rpm, rRPM)
  *   driver-side regex groups              → NcGroups (sample universe is
  *                                           the file list — never data)
  *
  * Shuffle boundaries land exactly where the math demands: ONE exchange
  * by taxID feeds the groupBy (taxID, sample) for each cell's reads,
  * stats and first row and the groupBy (taxID) for the organism row (the
  * totals are one more such row), and one window over sample ranks
  * tophits. The organism row needs no join and no window: rpm, z-score
  * and rRPM are array expressions over its slots, and the wide CSVs
  * render straight from its arrays. The
  * long outputs are `posexplode` projections of it. One action renders
  * the three CSVs' lines, sorts them within each partition and spills
  * them to run files, which the driver merges into the CSVs (no global
  * sort, no range-sampling job; see [[CsvSink]]).
  */
object BigBugData {

  final case class Params(
      reportPaths: Seq[String],
      resultsDir: String,
      rank: String = "species",
      nTophits: Int = 15,
      groupPatterns: Seq[(String, String)] = Nil)

  final case class Outputs(
      cells: DataFrame,      // one long row per (organism, sample) cell
      tophits: DataFrame,    // sampleName, taxID, taxName, rank, rRPM, stats…
      orderedSamples: Seq[String],
      grid: DataFrame,       // one row per organism, a slot per sample
      samples: Seq[String]) { // the grid's slots: samples in argument order
    // the long outputs; [[write]] renders from `grid` and never reads
    // them, so they are built (and analyzed) on first read only
    /** taxID, sample, taxName, total, reads */
    lazy val combined: DataFrame =
      cells.select(TaxId, Sample, TaxName, "total_reads_organism", Reads)
    /** combined's columns + total_reads, rpm, z_score, nc_*, rrpm */
    lazy val rrpm: DataFrame =
      cells.select(Sample, TaxId, TaxName, "total_reads_organism", Reads,
        "total_reads", "rpm", "z_score", "nc_sample", "nc_rpm", "rrpm")
  }

  /** Build the full dataflow; actions happen only in [[write]]. */
  def build(spark: SparkSession, params: Params): Outputs = {
    val samplePaths = ReportReader.sampleIdMap(params.reportPaths)
    val sampleIds = samplePaths.map(_._1)
    val ordered = ReportReader.orderedSampleIds(sampleIds)

    // one pass: A1's rows (folded into one total cell per sample) and the
    // target rank's, hash-partitioned by taxID once for both aggregates
    val organisms = TaxaOps.organisms(TaxaOps.cellCounts(TaxaOps.foldTotals(
      ReportReader.readReports(spark, samplePaths.map(_._2))
        .filter(TaxaOps.isTotal || TaxaOps.isTaxon(params.rank)))
      .repartition(col(TaxId))), sampleIds.size).cache()
    val isTotalRow = col(TaxId) === TaxaOps.TotalKey

    // one job collects the total row for both the trap-10 check and rpm:
    // per slot, the total reads, and null stats if no taxID 0/1 row
    val total = organisms.filter(isTotalRow).select(Reads, "stats").collect()
      .headOption.map(r => r.getSeq[Any](0).zip(r.getSeq[Any](1)))
      .getOrElse(sampleIds.map(_ => (null, null)))
    // fail loudly where the reference would KeyError (§7.4 trap 10)
    val missingTotals = sampleIds.zip(total).collect { case (s, (_, null)) => s }
    if (missingTotals.nonEmpty)
      throw new IllegalStateException(
        "No taxID 0/1 rows (cannot compute total reads) for sample(s): " +
          missingTotals.mkString(", "))

    val groups = NcGroups.resolve(sampleIds, params.groupPatterns)
    val sampleToNc = NcGroups.sampleToControl(sampleIds, groups)
    // array slot i is the i-th sample in argument order
    val slot = sampleIds.zipWithIndex.toMap
    val totals = total.map(_._1)
    // the grid all three outputs read: the cached rows but the total row
    val grid = Normalize.normalize(organisms.filter(!isTotalRow),
      totals, sampleIds.map(s => sampleToNc.get(s).map(slot)))

    // one long row per (organism, sample) cell
    def slotOf(values: Seq[Any]) =
      element_at(array(values.map(lit): _*), col("_slot") + 1)
    val cells = grid
      .select(col(TaxId), col(TaxName), col("total_reads_organism"),
        posexplode(arrays_zip(col(Reads), col("stats"), col("rpm"),
          col("z_score"), col("nc_rpm"), col("rrpm"))).as(Seq("_slot", "_c")))
      .select(col("*"), col("_c.*"), slotOf(sampleIds).as(Sample),
        slotOf(totals).cast("long").as("total_reads"),
        slotOf(sampleIds.map(sampleToNc.get(_).orNull)).cast("string").as("nc_sample"))

    Outputs(cells, TopHits.tophits(cells, params.nTophits), ordered, grid,
      sampleIds)
  }

  /** The wide outputs' CSV lines (O1/O2): for each array in `arrays`, one
    * line per organism row, [taxID, taxName, Total # of Reads] ++ the
    * array's cells at `slots` (0-based), in that order. Columns are
    * (out, k1, k2, line) as [[CsvSink.writeTagged]] reads them: out =
    * index in `arrays`, k1 = taxID (the row order), k2 = 0. */
  def wideLines(grid: DataFrame, arrays: Seq[String], slots: Seq[Int]): DataFrame =
    grid.select(inline(array(arrays.zipWithIndex.map { case (a, v) =>
      struct(lit(v).as("out"), col(TaxId).as("k1"), lit(0L).as("k2"),
        CsvSink.line(Seq(col(TaxId), col(TaxName), col("total_reads_organism")) ++
          slots.map(i => element_at(col(a), i + 1))).as("line"))
    }: _*)))

  /** Execute and write the three CSVs (K1/K2) with one action after the
    * totals collect: combined and rrpm lines render from the organism
    * rows' arrays (see [[wideLines]]); tophits lines are tagged with
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
      wideLines(out.grid, Seq(Reads, "rrpm"), out.orderedSamples.map(out.samples.indexOf))
        .union(tophitsLines),
      Seq(combinedPath -> header, rrpmPath -> header,
        tophitsPath -> tophitsHeader))
    out
  }
}
