package graft.catalog

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{FilterOps, Synthesize}
import graft.io.ReportReader

/** End-to-end oracle rows for the reference's SIDE TOOLS — the
  * `scripts/` trio that round 3 left spec-only:
  *
  *   - `modify_reports.py` (S6/A4/A5/F8/F10/K4): DNA/RNA total-read
  *     sidecars + species reports in → one complete TSV per sample out,
  *     with synthesized unclassified/root rows;
  *   - `filter_reports_by_taxid.py` (S2/S3/S4/F6/K3): report glob +
  *     taxids CSV in → filtered CSV on stdout;
  *   - `filter_rrpm_by_taxid.py` (S5/P6/K3): an rrpm CSV (here the REAL
  *     one the main pipeline sink just wrote) + taxids CSV in → filtered
  *     CSV on stdout.
  *
  * Each query runs the real tool — file writes included — then reads the
  * produced TEXT back line-by-line as (fname?, line_no, line) rows; the
  * DuckDB oracle independently reconstructs every expected line from the
  * same checked-in inputs. Equality therefore proves the emitted bytes
  * (header spelling, `%.4f` percent formatting, verbatim `0.10` echo,
  * row order), not just the frame values. Line terminators are the one
  * normalization: the reference's python `csv` module emits CRLF, the
  * engine LF — both read back terminator-free.
  *
  * The corpora live under `data/e2e_synth` / `data/e2e_filter` and were
  * validated against the actual reference scripts run on the same files.
  */
object Scripts {

  private val synthDir = Staging.checkoutPath("data/e2e_synth")
  private val filterDir = Staging.checkoutPath("data/e2e_filter")
  private val synthOut = s"${Staging.targetDir}/graft_e2e_synth"

  /** deterministic clock for F10: local midnight, Jan 1 2026 — formats as
    * `Thu Jan 01 00:00:00 2026` in EVERY system timezone, so the oracle
    * can carry the literal */
  private def fixedClock(): java.util.Date =
    java.util.Date.from(java.time.LocalDate.of(2026, 1, 1)
      .atStartOfDay(java.time.ZoneId.systemDefault()).toInstant)

  private def linesDf(s: SparkSession, rows: Seq[(String, Long, String)]): DataFrame = {
    import s.implicits._
    rows.toDF("fname", "line_no", "line")
  }

  /** run the real Synthesize tool over the checked-in corpus and read the
    * produced TSVs back, line-numbered. The output dir is cleared first so
    * a sample removed from the corpus can never leave a stale file behind. */
  private def runSynth(s: SparkSession): DataFrame = {
    val out = Paths.get(synthOut)
    if (Files.exists(out)) {
      val stream = Files.list(out)
      try stream.iterator().asScala.foreach(Files.deleteIfExists(_))
      finally stream.close()
    }
    val reportFiles = Option(new java.io.File(synthDir).listFiles())
      .getOrElse(Array.empty).map(_.getPath).filter(_.endsWith("_report.tsv"))
      .sorted.toSeq
    val totals = Synthesize.totalReads(s,
      s"$synthDir/dna_totalreads.tsv", s"$synthDir/rna_totalreads.tsv")
    val reports = ReportReader.readReports(s, reportFiles)
    val produced = Synthesize.writeCompleteReports(
      s, reports, totals, synthOut, () => fixedClock())
    linesDf(s, produced.flatMap { p =>
      val path = Paths.get(p)
      Files.readAllLines(path).asScala.toSeq.zipWithIndex.map {
        case (l, i) => (path.getFileName.toString, i.toLong, l)
      }
    })
  }

  /** run a filter tool's stdout channel and capture the emitted lines */
  private def stdoutLines(s: SparkSession, df: DataFrame): DataFrame = {
    val buf = new java.io.ByteArrayOutputStream()
    FilterOps.printFilteredCsv(df, new java.io.PrintStream(buf, true, "UTF-8"))
    val lines = buf.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty)
    linesDf(s, lines.zipWithIndex.map { case (l, i) => ("stdout", i.toLong, l) })
  }

  private val reportCols =
    "columns={'pct':'VARCHAR','reads':'VARCHAR','taxReads':'VARCHAR'," +
      "'kmers':'VARCHAR','dup':'VARCHAR','cov':'VARCHAR','taxID':'VARCHAR'," +
      "'rank':'VARCHAR','taxName':'VARCHAR'}"

  /** the synth oracle reconstructs every line of every expected output
    * file: kraken command comment, fixed-clock comment, header, optional
    * unclassified row (omitted at 0), root row (kmers = per-sample sum),
    * then the file's species rows echoed VERBATIM in file order (the
    * corpus keeps taxID non-decreasing per file, with duplicates only as
    * fully identical lines, so taxID order IS file order). */
  private val synthOracle =
    s"""WITH dna AS (
      SELECT regexp_replace(c0, '_[^_]*$$', '') AS sample, c2 AS total, 0 AS prio
      FROM read_csv('$synthDir/dna_totalreads.tsv', delim='\t', header=false,
        columns={'c0':'VARCHAR','c1':'VARCHAR','c2':'BIGINT'})),
    rna AS (
      SELECT regexp_replace(c0, '_[^_]*$$', '') AS sample, c2 AS total, 1 AS prio
      FROM read_csv('$synthDir/rna_totalreads.tsv', delim='\t', header=false,
        columns={'c0':'VARCHAR','c1':'VARCHAR','c2':'BIGINT'})),
    totals AS (
      SELECT sample, total FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY sample ORDER BY prio DESC) AS rn
        FROM (SELECT * FROM dna UNION ALL SELECT * FROM rna)) WHERE rn = 1),
    rpt AS (
      SELECT regexp_replace(regexp_replace(filename, '.*/', ''), '_[^_]*$$', '')
        AS sample, *
      FROM read_csv('$synthDir/*_report.tsv', delim='\t', header=true,
        filename=true, $reportCols)),
    stats AS (
      SELECT sample,
        COALESCE(SUM(CASE WHEN rank = 'species'
          THEN CAST(reads AS BIGINT) END), 0) AS classified,
        COALESCE(SUM(CASE WHEN rank = 'species'
          THEN CAST(kmers AS BIGINT) END), 0) AS kmer_sum
      FROM rpt GROUP BY sample),
    f AS (
      SELECT s.sample, t.total, s.classified, s.kmer_sum,
        GREATEST(t.total - s.classified, 0) AS unclass
      FROM stats s JOIN totals t USING (sample)),
    lines AS (
      SELECT sample, 0 AS ord, CAST(0 AS BIGINT) AS sub,
        '# kraken2 --db /path/to/krakendb --threads 8 --paired --output '
          || sample || '_kraken.out --report ' || sample
          || '_species-level-report.tsv' AS line FROM f
      UNION ALL SELECT sample, 1, 0, '# Thu Jan 01 00:00:00 2026' FROM f
      UNION ALL SELECT sample, 2, 0, concat_ws(chr(9), '%', 'reads',
        'taxReads', 'kmers', 'dup', 'cov', 'taxID', 'rank', 'taxName') FROM f
      UNION ALL SELECT sample, 3, 0, concat_ws(chr(9),
          printf('%.4f', CAST(unclass AS DOUBLE) / total * 100),
          CAST(unclass AS VARCHAR), CAST(unclass AS VARCHAR),
          '0', '0', '0', '0', 'unclassified', 'unclassified')
        FROM f WHERE unclass > 0
      UNION ALL SELECT sample, 4, 0, concat_ws(chr(9),
          printf('%.4f', CAST(classified AS DOUBLE) / total * 100),
          CAST(classified AS VARCHAR), CAST(classified AS VARCHAR),
          CAST(kmer_sum AS VARCHAR), '0', '0', '1', 'root', 'root') FROM f
      UNION ALL SELECT r.sample, 5, CAST(r.taxID AS BIGINT),
          concat_ws(chr(9), r.pct, r.reads, r.taxReads, r.kmers, r.dup,
            r.cov, r.taxID, r.rank, r.taxName)
        FROM rpt r JOIN f USING (sample) WHERE r.rank = 'species')
    SELECT sample || '_species-level-report.tsv' AS fname,
      ROW_NUMBER() OVER (PARTITION BY sample ORDER BY ord, sub) - 1 AS line_no,
      line
    FROM lines"""

  private val filterReportsOracle =
    s"""WITH ids AS (
      SELECT taxID FROM read_csv('$filterDir/taxids.csv', header=true,
        columns={'taxID':'VARCHAR'})),
    rpt AS (
      SELECT regexp_replace(filename, '.*/', '') AS fn, *
      FROM read_csv('$filterDir/*_species-level-report.tsv', delim='\t',
        header=true, filename=true, $reportCols)),
    m AS (
      SELECT string_split(fn, '_')[1] AS sampleName, r.*
      FROM rpt r WHERE r.taxID IN (SELECT taxID FROM ids)),
    lines AS (
      SELECT 0 AS ord, '' AS s, CAST(0 AS BIGINT) AS t,
        'sampleName,%,reads,taxReads,kmers,dup,cov,taxID,rank,taxName' AS line
      UNION ALL SELECT 1, sampleName, CAST(taxID AS BIGINT),
        concat_ws(',', sampleName, pct, reads, taxReads, kmers, dup, cov,
          taxID, rank, taxName)
      FROM m)
    SELECT 'stdout' AS fname,
      ROW_NUMBER() OVER (ORDER BY ord, s, t) - 1 AS line_no, line
    FROM lines"""

  private val filterRrpmOracle =
    s"""${E2E.prelude},
    wide AS (${E2E.pivotSql("rr", "rrpm")}),
    ids AS (
      SELECT taxID FROM read_csv('$filterDir/rrpm_taxids.csv', header=true,
        columns={'taxID':'VARCHAR'})),
    m AS (SELECT * FROM wide WHERE taxID IN (SELECT taxID FROM ids)),
    lines AS (
      SELECT 0 AS ord, CAST(0 AS BIGINT) AS t,
        'taxID,taxName,Total # of Reads,CF_1,CF_2,CF_Negative1,OTHER_X' AS line
      UNION ALL SELECT 1, CAST(taxID AS BIGINT),
        concat_ws(',', taxID, taxName, "Total # of Reads",
          "CF_1", "CF_2", "CF_Negative1", "OTHER_X")
      FROM m)
    SELECT 'stdout' AS fname,
      ROW_NUMBER() OVER (ORDER BY ord, t) - 1 AS line_no, line
    FROM lines"""

  val queries: Seq[QueryDef] = Seq(

    QueryDef(
      "bb_e2e_synth",
      (s, _) => runSynth(s),
      Some(synthOracle),
      "E2E S6/A4/A5/F8/F10/K4: the Synthesize tool (`modify_reports.py:8–146`)" +
        " run end-to-end over checked-in sidecars + species reports; every" +
        " produced TSV line (timestamps, %.4f percents, verbatim echo," +
        " clamped/zero-species edges) vs a DuckDB reconstruction"),

    QueryDef(
      "bb_e2e_filter_reports",
      (s, _) => {
        val taxids = FilterOps.readTaxids(s, s"$filterDir/taxids.csv")
        val filtered = FilterOps.filterReportsByTaxids(
          s, s"$filterDir/*_species-level-report.tsv", taxids)
          .withColumnRenamed("pct", "%")
          .orderBy(col("sampleName"), col("taxID").cast("long"))
        stdoutLines(s, filtered)
      },
      Some(filterReportsOracle),
      "E2E S2/S3/S4/F6/K3: `filter_reports_by_taxid.py:8–51` run end-to-end" +
        " — header-on-line-1 glob scan, string taxID semi-join, first-token" +
        " sampleName, stdout CSV bytes vs a DuckDB reconstruction"),

    QueryDef(
      "bb_e2e_filter_rrpm",
      (s, _) => {
        // the REAL rrpm CSV written by the main pipeline sink (shared,
        // once-per-session, with the bb_e2e_sink_* family) fed to the
        // filter tool — S5's re-scan consumes actual produced bytes, not
        // a synthetic fixture
        val rrpm = E2E.writeAndRead(s, "rrpm")
        val taxids = FilterOps.readTaxids(s, s"$filterDir/rrpm_taxids.csv")
        val filtered = FilterOps.filterByTaxids(rrpm, taxids)
          .orderBy(col("taxID").cast("long"))
        stdoutLines(s, filtered)
      },
      Some(filterRrpmOracle),
      "E2E S5/P6/K3: `filter_rrpm_by_taxid.py:6–36` run end-to-end over the" +
        " rrpm CSV the main pipeline sink just wrote — re-scan of real" +
        " produced bytes, string semi-join, stdout CSV vs DuckDB")
  )
}
