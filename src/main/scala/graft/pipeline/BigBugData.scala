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
      groupPatterns: Seq[(String, String)] = Nil,
      /** plan tophits with the bounded-heap TopKPerKey operator instead of
        * the window — identical output, O(k) memory per sample */
      nativeTopK: Boolean = false)

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
      TopHits.tophits(grid, params.nTophits, native = params.nativeTopK),
      ordered)
  }

  /** Pivot long → wide for the CSV contract: columns
    * [taxID, taxName, Total # of Reads] ++ orderedSamples, rows sorted by
    * taxID (O1/O2). Explicit pivot values skip Spark's distinct-collect
    * job and pin column order. (Kept as the readable twin / parity
    * reference for [[csvLines]] — the sinks use the long path.) */
  def pivotWide(long: DataFrame, valueCol: String,
      orderedSamples: Seq[String]): DataFrame =
    long.groupBy(col(TaxId), col(TaxName),
        col("total_reads_organism").as("Total # of Reads"))
      .pivot(Sample, orderedSamples)
      .agg(first(col(valueCol)))
      .orderBy(col(TaxId))

  /** Long-format CSV assembly: ONE output line per organism, built from a
    * single range-partition + sort of the long grid and a streaming
    * per-group concat — byte-identical to pivotWide + Spark's CSV writer
    * (PipelineSpec pins it), but the plan never materializes an
    * S-thousand-column frame at the sink.
    *
    * Why this exact shape (measured at 320M cells, local[32]):
    *   - groupBy + collect_list plans as ObjectHashAggregate, which
    *     falls back to SORT-BASED aggregation past 128 groups — it
    *     external-sorts every cell anyway, then still pays per-group
    *     8000-struct array materialization + array_sort, then a second
    *     global orderBy of megabyte row strings (982 s write phase).
    *   - the wide pivot keeps fixed-width HashAggregate buffers but
    *     materializes + codegens an 8000-column frame (468 s, round 4).
    *   - here the one unavoidable external sort is stated EXPLICITLY
    *     (repartitionByRange(taxID) + sortWithinPartitions(taxID, idx)),
    *     and line assembly is a single streaming pass per partition —
    *     constant memory, no per-group arrays, and the range order makes
    *     part-file name order the global row order, so the sink needs no
    *     further sort.
    *
    * Cell strings are pre-quoted by csvCellExpr INSIDE the plan
    * (codegen'd); the iterator only concatenates. Rows must be unique
    * per (taxID, sample) — denseGrid guarantees it (pivotWide's first()
    * would dedupe; this path would emit both). Samples missing from a
    * group (impossible on the dense grid, possible on ad-hoc input)
    * yield empty cells, exactly like the pivot's null. */
  def csvLines(long: DataFrame, valueCol: String,
      orderedSamples: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType, StringType}
    val nSamples = orderedSamples.size
    val idx = coalesce(element_at(
      map(orderedSamples.zipWithIndex.flatMap { case (s, i) =>
        Seq(lit(s), lit(i)) }: _*), col(Sample)), lit(Int.MaxValue))
    val prefix = concat_ws(",",
      CsvSink.csvCellExpr(col(TaxId)),
      CsvSink.csvCellExpr(col(TaxName)),
      CsvSink.csvCellExpr(col("total_reads_organism")))
    val sorted = long
      .select(col(TaxId).as("k"), prefix.as("prefix"), idx.as("idx"),
        CsvSink.csvCellExpr(col(valueCol)).as("cell"))
      .repartitionByRange(col("k"))
      .sortWithinPartitions(col("k"), col("idx"))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(StructType(Seq(StructField("line", StringType))))
    sorted.mapPartitions { rows =>
      val it = rows.buffered
      new Iterator[org.apache.spark.sql.Row] {
        def hasNext: Boolean = it.hasNext
        def next(): org.apache.spark.sql.Row = {
          val first = it.head
          val k = first.getLong(0)
          val sb = new java.lang.StringBuilder(first.getString(1))
          var expect = 0
          while (it.hasNext && it.head.getLong(0) == k) {
            val r = it.next()
            val i = r.getInt(2)
            while (expect < i) { sb.append(','); expect += 1 } // gap → empty cell
            sb.append(',').append(r.getString(3))
            expect = i + 1
          }
          while (expect < nSamples) { sb.append(','); expect += 1 }
          org.apache.spark.sql.Row(sb.toString)
        }
      }
    }(enc)
  }

  /** Execute and write the three CSVs (K1/K2).
    *
    * Two byte-identical grid-sink strategies (PipelineSpec pins parity):
    *   - `pivot` (default): hash-aggregate the long grid into an S-wide
    *     frame, write via the parallel single-CSV sink. The aggregation
    *     collapses S cells per organism into one row BEFORE anything is
    *     sorted or spilled, so shuffle bytes are ~rows/S of the long
    *     path's. Measured fastest through S=8,000 (320M cells: 468 s
    *     round 4 vs 1297 s for the long path under identical config).
    *   - `lines` (`spark.graft.sink.strategy=lines`): range-sort the
    *     LONG grid and stream-concat lines per partition — never
    *     materializes an S-wide frame, so it stays viable past the
    *     S ~ tens-of-thousands point where a pivot's fixed-width
    *     aggregation buffers (S × 8 B per group per task) outgrow
    *     executor memory. The price is shuffling every cell through one
    *     external sort.
    * The crossover is governed by S (columns), not cell count — prefer
    * pivot until S-wide buffers threaten memory, then switch.
    *
    * A third strategy, `parquet`, drops the single-file-CSV contract
    * entirely and writes the grids in LONG format as parquet with
    * whatever partitioning they already carry — what a cluster
    * deployment actually wants (no driver concat, no S-wide frame, no
    * global sort, no extra shuffle; columnar + compressed, splittable
    * for the next consumer). The reference-compatible outputs remain
    * the other two. Measured sink phase (StressPipeline, zstd + 64 g,
    * same box/day): 160M cells pivot 285.2 s vs parquet 131.7 s
    * (2.2×) — at 40M both ~60 s (grid recompute dominates, the sink
    * format is noise there). */
  def write(spark: SparkSession, params: Params): Outputs = {
    val out = build(spark, params)
    val (combinedPath, rrpmPath, tophitsPath) =
      CsvSink.outputPaths(params.resultsDir, params.rank)
    val header = Seq(TaxId, TaxName, "Total # of Reads") ++ out.orderedSamples

    val strategy = spark.conf.getOption("spark.graft.sink.strategy")
      .getOrElse("pivot")
    strategy match {
      case "lines" =>
        CsvSink.writeSingleLines(
          csvLines(out.combined, Reads, out.orderedSamples), header, combinedPath)
        CsvSink.writeSingleLines(
          csvLines(out.rrpm, "rrpm", out.orderedSamples), header, rrpmPath)
      case "parquet" =>
        out.combined.write.mode("overwrite")
          .parquet(s"${params.resultsDir}/combined_${params.rank}.parquet")
        out.rrpm.write.mode("overwrite")
          .parquet(s"${params.resultsDir}/rrpm_${params.rank}.parquet")
      case _ =>
        CsvSink.writeSingleCsv(
          pivotWide(out.combined, Reads, out.orderedSamples), header, combinedPath)
        CsvSink.writeSingleCsv(
          pivotWide(out.rrpm, "rrpm", out.orderedSamples), header, rrpmPath)
    }

    // tophits rows emit in ordered-sample order, then rank (reference
    // iterates samples in order, `bigbugdata.py:176`); literal map
    // instead of a UDF keeps the sort key inside codegen
    val idxExpr = coalesce(element_at(
      map(out.orderedSamples.zipWithIndex.flatMap { case (s, i) =>
        Seq(lit(s), lit(i)) }: _*), col("sampleName")), lit(Int.MaxValue))
    strategy match {
      case "parquet" =>
        // the strategy governs ALL THREE outputs: at cluster scale a
        // single-file tophits CSV would reintroduce exactly the driver
        // bottleneck the parquet strategy exists to remove. tophits is
        // already long/line-shaped — no pivot to undo; the emit order is
        // recoverable by any consumer from (sampleName, rank), so no
        // global sort is paid either.
        out.tophits.write.mode("overwrite")
          .parquet(s"${params.resultsDir}/tophits_${params.rank}.parquet")
      case _ =>
        CsvSink.writeSingleCsv(
          out.tophits.orderBy(idxExpr, col("rank")),
          Seq("sampleName", TaxId, TaxName, "rank", "rRPM", "kmers", "dup",
            "reads", "cov", "e_val", "z_score"),
          tophitsPath)
    }
    out
  }
}
