package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  *   per-sample sort of the dense vector   → per-task bounded heaps over
  *                                           the organism rows, merged
  *                                           and ranked on the driver
  *
  * ONE exchange, by taxID, feeds the groupBy (taxID, sample) for each
  * cell's reads, stats and first row and the groupBy (taxID) for the
  * organism row (the totals are one more such row); nothing shuffles
  * after the organism cache. The organism row needs no join and no
  * window: rpm, z-score and rRPM are array expressions over its slots,
  * the wide CSVs render straight from its arrays, and tophits ranks its
  * slots with [[TopHits]]' heaps. The write's one action reads each
  * cached row once, in taxID order within its partition: it renders the
  * row's two wide lines, which tasks spill to run files that the driver
  * merges into the CSVs (no global sort, no range-sampling job; see
  * [[CsvSink]]), and offers the row's slots to the tophits heaps, whose
  * candidates come back as the tasks' results. The long outputs are
  * `posexplode` projections of the organism rows, built on first read.
  */
object BigBugData {

  final case class Params(
      reportPaths: Seq[String],
      resultsDir: String,
      rank: String = "species",
      nTophits: Int = 15,
      groupPatterns: Seq[(String, String)] = Nil)

  /** the batch's frames. [[write]] renders from `grid` alone; the long
    * frames and `tophits` are built (and analyzed) on first read. */
  final case class Outputs(
      orderedSamples: Seq[String],
      grid: DataFrame,        // one row per organism, a slot per sample
      samples: Seq[String],   // the grid's slots: samples in argument order
      totals: Seq[Any],       // per slot: the sample's total reads
      ncSamples: Seq[String], // per slot: the sample's control, or null
      nTophits: Int) {
    /** the ordered samples' slots: the wide columns' and tophits' order */
    def orderedSlots: Seq[Int] = orderedSamples.map(samples.indexOf)
    /** one long row per (organism, sample) cell */
    lazy val cells: DataFrame = {
      def slotOf(values: Seq[Any]) =
        element_at(array(values.map(lit): _*), col("_slot") + 1)
      grid
        .select(col(TaxId), col(TaxName), col("total_reads_organism"),
          posexplode(arrays_zip(col(Reads), col("stats"), col("rpm"),
            col("z_score"), col("nc_rpm"), col("rrpm"))).as(Seq("_slot", "_c")))
        .select(col("*"), col("_c.*"), slotOf(samples).as(Sample),
          slotOf(totals).cast("long").as("total_reads"),
          slotOf(ncSamples).cast("string").as("nc_sample"))
    }
    /** taxID, sample, taxName, total, reads */
    lazy val combined: DataFrame =
      cells.select(TaxId, Sample, TaxName, "total_reads_organism", Reads)
    /** combined's columns + total_reads, rpm, z_score, nc_*, rrpm */
    lazy val rrpm: DataFrame =
      cells.select(Sample, TaxId, TaxName, "total_reads_organism", Reads,
        "total_reads", "rpm", "z_score", "nc_sample", "nc_rpm", "rrpm")
    /** sampleName, taxID, taxName, rank, rRPM, stats…, z_score; the first
      * read runs one job ([[TopHits.tophits]]) */
    lazy val tophits: DataFrame =
      TopHits.tophits(grid, samples, orderedSlots, nTophits)
  }

  /** Build the full dataflow: one job collects the totals, and only
    * [[write]] writes. */
  def build(spark: SparkSession, params: Params): Outputs = {
    val samplePaths = ReportReader.sampleIdMap(params.reportPaths)
    val sampleIds = samplePaths.map(_._1)
    val ordered = ReportReader.orderedSampleIds(sampleIds)

    // one pass: A1's rows (folded into one total cell per sample) and the
    // target rank's, hash-partitioned by taxID once for both aggregates;
    // cached in taxID order within each partition, the wide lines' order,
    // so the write's pass over the cache needs no sort of its own
    val organisms = TaxaOps.organisms(TaxaOps.cellCounts(TaxaOps.foldTotals(
      ReportReader.readReports(spark, samplePaths.map(_._2))
        .filter(TaxaOps.isTotal || TaxaOps.isTaxon(params.rank)))
      .repartition(col(TaxId))), sampleIds.size).sortWithinPartitions(TaxId).cache()
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

    Outputs(ordered, grid, sampleIds, totals,
      sampleIds.map(sampleToNc.get(_).orNull), params.nTophits)
  }

  /** The wide outputs' CSV lines (O1/O2), one row per organism row, as
    * [[CsvSink.writeTagged]] reads them: k1 = taxID (the row order), then
    * for each array in `arrays` its line, [taxID, taxName, Total
    * # of Reads] ++ the array's cells at `slots` (0-based), in that order;
    * then the `side` columns. */
  def wideLines(grid: DataFrame, arrays: Seq[String], slots: Seq[Int],
      side: Seq[Column] = Nil): DataFrame =
    grid.select(Seq(col(TaxId).as("k1")) ++
      arrays.zipWithIndex.map { case (a, v) =>
        CsvSink.line(Seq(col(TaxId), col(TaxName), col("total_reads_organism")) ++
          slots.map(i => element_at(col(a), i + 1))).as(s"line$v")
      } ++ side: _*)

  /** Execute and write the three CSVs (K1/K2) with one action after the
    * totals collect: each task renders its organism rows' combined and
    * rrpm lines (see [[wideLines]]) and offers their slots to the
    * tophits heaps; the driver merges the lines into the wide CSVs, and
    * ranks the heaps' candidates and renders the tophits rows in
    * ordered-sample order, then rank (the reference iterates samples in
    * order, `bigbugdata.py:176`). */
  def write(spark: SparkSession, params: Params): Outputs = {
    val out = build(spark, params)
    val (combinedPath, rrpmPath, tophitsPath) =
      CsvSink.outputPaths(params.resultsDir, params.rank)
    val header = Seq(TaxId, TaxName, "Total # of Reads") ++ out.orderedSamples
    val arrays = Seq(Reads, "rrpm")
    val (slots, k) = (out.samples.size, params.nTophits)
    val grid = out.grid.schema
    val candidates = CsvSink.writeTagged(
      wideLines(out.grid, arrays, out.orderedSlots, TopHits.inputs),
      Seq(combinedPath -> header, rrpmPath -> header),
      () => new TopHits.Heaps(grid, slots, k, at = 1 + arrays.size))
    val tophits = TopHits.schema(grid)
    CsvSink.writeLines(tophitsPath, tophits.fieldNames.toSeq, CsvSink.lines(tophits,
      TopHits.rank(candidates.toSeq, grid, out.samples, out.orderedSlots, k)))
    out
  }
}
