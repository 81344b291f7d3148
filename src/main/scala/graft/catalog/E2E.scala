package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.BigBugData

/** End-to-end oracle rows for the REAL reference pipeline: report TSVs in →
  * combined / rrpm / tophits frames out (`/root/reference/bigbugdata.py:
  * 225–366`), hash-compared against DuckDB recomputing the same math from
  * `read_csv` over the same checked-in files. This is the contract a user
  * of the reference actually runs — the bb_* family checks each operator
  * over parquet; this family checks the assembled TSV pipeline.
  *
  * The corpus (the TSVs under `data/e2e_reports`) is constructed so every
  * floating
  * result is IEEE-deterministic on both engines with no tolerance:
  *   - each sample's taxID-0 + taxID-1 reads sum to exactly 1,000,000, so
  *     rpm = reads/(total/1e6) = reads — an exact integer-valued double;
  *   - every species read count (and thus every dense-grid rpm, 0-cells
  *     included) is ≡ 0 (mod 3), so the z-score fold's Welford-style
  *     stddev_pop steps hit only exactly-representable intermediates
  *     (means at k=1..4 divide evenly in binary or by 3) — z-scores are
  *     bit-identical to ANY algebraically-equivalent formula in ANY
  *     sample order, which is what the oracle computes (the fold order
  *     stays pinned in PipelineSpec);
  *   - duplicate-row stats are identical across the duplicates, keeping
  *     last-row-wins order-free (the order-sensitive trap stays pinned in
  *     PipelineSpec);
  *   - dup/cov values are small binary fractions (.125/.25/.5/.75/1.5/2.5).
  */
object E2E {

  val reportsDir: String = Staging.checkoutPath("data/e2e_reports")

  private[catalog] def reportPaths: Seq[String] = {
    val files = Option(new java.io.File(reportsDir).listFiles())
      .getOrElse(throw new IllegalStateException(
        s"e2e corpus not found at $reportsDir (checked into the repo)"))
    files.map(_.getPath).filter(_.endsWith("_report.tsv")).sorted.toSeq
  }

  /** one pipeline build over the checked-in corpus; tiny, rebuilt per query */
  private def outputs(s: SparkSession): BigBugData.Outputs =
    BigBugData.build(s, BigBugData.Params(
      reportPaths,
      resultsDir = System.getProperty("java.io.tmpdir"),
      rank = "species",
      nTophits = 3,
      groupPatterns = Seq(("Negative", "CF_"))))

  /** output dir for the sink round-trip queries: Verify runs the
    * Spark side (which writes the CSVs here) before the driver evaluates
    * the oracle SQL, so the path must survive until the DuckDB compare —
    * the checkout's gitignored target/ is safer than /tmp */
  private val sinkDir = s"${Staging.targetDir}/graft_e2e_sink"

  /** run the REAL sink path (K1/K2/F9: wide lines, fixed header, single
    * CSV file) and read the produced file back as all-string columns —
    * the oracle recomputes the expected file content independently from
    * the TSVs, so equality proves the written bytes, not just the frame.
    * Shared with Scripts.bb_e2e_filter_rrpm, which re-scans the written
    * rrpm CSV through the filter tool (S5 on real produced bytes).
    *
    * One BigBugData.write per SESSION (a session memo): the first sink
    * query in a session writes; the others verify the SAME written
    * files — which is also the stronger check, since all three files
    * come from one pipeline run exactly as the reference produces them.
    * Concurrent entrants write once; a missing file (external cleanup)
    * forces a rewrite. */
  private[catalog] def writeAndRead(s: SparkSession, which: String): DataFrame = {
    val outs = Seq("combined", "rrpm", "tophits")
      .map(w => java.nio.file.Paths.get(s"$sinkDir/${w}_species.csv"))
    Staging.memo(s, "e2e_sink")((_: Unit) =>
        outs.forall(java.nio.file.Files.exists(_))) {
      BigBugData.write(s, BigBugData.Params(
        reportPaths, resultsDir = sinkDir, rank = "species", nTophits = 3,
        groupPatterns = Seq(("Negative", "CF_"))))
    }
    s.read.option("header", "true").csv(s"$sinkDir/${which}_species.csv")
  }

  /** corpus sample columns in ordered-sample (lexicographic) order */
  private val sampleCols = Seq("CF_1", "CF_2", "CF_Negative1", "OTHER_X")

  private[catalog] def pivotSql(source: String, valueExpr: String): String = {
    val cells = sampleCols.map(sc =>
      s"""CAST(MAX(CASE WHEN sample = '$sc' THEN $valueExpr END) AS VARCHAR) AS "$sc"""")
      .mkString(",\n          ")
    s"""SELECT CAST(taxID AS VARCHAR) AS taxID, taxName,
          CAST(total_reads_organism AS VARCHAR) AS "Total # of Reads",
          $cells
        FROM $source GROUP BY taxID, taxName, total_reads_organism"""
  }

  /** shared oracle prelude: scan the TSVs (2 comment lines + header →
    * skip=3), derive the sample id exactly like ReportReader (basename
    * minus last `_`-suffix), then replay A1 totals → P1/P2 taxa → A2/A3
    * dense grid → F2 rpm → W2 z-score → J2/F3 rrpm. */
  private[catalog] val prelude =
    s"""WITH raw AS (
      SELECT *, regexp_replace(regexp_replace(filename, '.*/', ''), '_[^_]*$$', '') AS sample
      FROM read_csv('$reportsDir/*_report.tsv',
        delim='\t', header=false, skip=3, filename=true,
        columns={'pct':'DOUBLE','reads':'BIGINT','taxReads':'BIGINT',
                 'kmers':'BIGINT','dup':'DOUBLE','cov':'DOUBLE',
                 'taxID':'BIGINT','rank':'VARCHAR','taxName':'VARCHAR'})),
    samples AS (SELECT DISTINCT sample FROM raw),
    totals AS (
      SELECT sample, CAST(SUM(reads) AS BIGINT) AS total_reads
      FROM raw WHERE taxID IN (0, 1) GROUP BY sample),
    taxa AS (SELECT * FROM raw WHERE taxID NOT IN (0, 1) AND rank = 'species'),
    counts AS (
      SELECT taxID, sample, CAST(SUM(reads) AS BIGINT) AS reads
      FROM taxa GROUP BY taxID, sample),
    meta AS (
      SELECT taxID, MIN(TRIM(taxName)) AS taxName,
        CAST(SUM(reads) AS BIGINT) AS total_reads_organism
      FROM taxa GROUP BY taxID),
    grid AS (
      SELECT m.taxID, m.taxName, m.total_reads_organism, s.sample,
        COALESCE(c.reads, 0) AS reads
      FROM meta m CROSS JOIN samples s
      LEFT JOIN counts c ON c.taxID = m.taxID AND c.sample = s.sample),
    rpm AS (
      SELECT g.*, t.total_reads,
        CAST(g.reads AS DOUBLE) / (CAST(t.total_reads AS DOUBLE) / 1000000.0) AS rpm
      FROM grid g JOIN totals t USING (sample)),
    z1 AS (
      SELECT *, AVG(rpm) OVER (PARTITION BY taxID) AS zavg,
        COUNT(*) OVER (PARTITION BY taxID) AS zcnt
      FROM rpm),
    z2 AS (
      SELECT *, sqrt(SUM((rpm - zavg) * (rpm - zavg)) OVER (PARTITION BY taxID)
        / zcnt) AS zsd
      FROM z1),
    z AS (
      SELECT * EXCLUDE (zavg, zcnt, zsd),
        CASE WHEN zsd = 0.0 THEN CAST('nan' AS DOUBLE)
          ELSE (rpm - zavg) / zsd END AS z_score
      FROM z2),
    ncmap AS (
      SELECT * FROM (VALUES ('CF_1', 'CF_Negative1'), ('CF_2', 'CF_Negative1'),
        ('CF_Negative1', 'CF_Negative1')) AS t(sample, nc_sample)),
    rr AS (
      SELECT z.*,
        CAST(FLOOR(z.rpm) AS DOUBLE) /
          CAST(GREATEST(FLOOR(COALESCE(nr.rpm, 1.0)), 1) AS DOUBLE) AS rrpm
      FROM z
      LEFT JOIN ncmap m USING (sample)
      LEFT JOIN z nr ON nr.taxID = z.taxID AND nr.sample = m.nc_sample)"""

  val queries: Seq[QueryDef] = Seq(

    QueryDef(
      "bb_e2e_combined",
      (s, _) => outputs(s).combined
        .select("sample", "taxID", "taxName", "total_reads_organism", "reads"),
      Some(s"""$prelude
        SELECT sample, taxID, taxName, total_reads_organism, reads FROM grid"""),
      "E2E S1/S3/F5/P1/P2/A1-A3: TSV scan -> dense combined grid " +
        "(bigbugdata.py:225–302), DuckDB read_csv oracle"),

    QueryDef(
      "bb_e2e_rrpm",
      (s, _) => outputs(s).rrpm
        .select("sample", "taxID", "taxName", "reads", "total_reads",
          "rpm", "rrpm", "z_score"),
      Some(s"""$prelude
        SELECT sample, taxID, taxName, reads, total_reads, rpm, rrpm, z_score
        FROM rr"""),
      "E2E F2/W2/J2/F3: rpm, z-score, negative-control rRPM over the " +
        "dense grid (bigbugdata.py:104–163, 320–331)"),

    QueryDef(
      "bb_e2e_tophits",
      (s, _) => outputs(s).tophits
        .withColumn("rank", col("rank").cast("long")),
      Some(s"""$prelude,
        topk AS (
          SELECT sample, taxID, taxName, rrpm, z_score,
            ROW_NUMBER() OVER (PARTITION BY sample
              ORDER BY rrpm DESC, taxID ASC) AS rank
          FROM rr),
        stats AS (
          SELECT sample, taxID, MIN(kmers) AS kmers, MIN(dup) AS dup,
            MIN(reads) AS reads, MIN(cov) AS cov,
            MIN((CAST(kmers AS DOUBLE) / reads) * cov) AS e_val
          FROM taxa GROUP BY sample, taxID)
        SELECT t.sample AS "sampleName", t.taxID, t.taxName, t.rank,
          t.rrpm AS "rRPM", s.kmers, s.dup, s.reads, s.cov, s.e_val, t.z_score
        FROM topk t JOIN stats s USING (sample, taxID)
        WHERE t.rank <= 3"""),
      "E2E W1/J1/F1: per-sample top-K by rRPM with rank-before-join gap " +
        "semantics and last-wins stats (bigbugdata.py:166–205)"),

    QueryDef(
      "bb_e2e_sink_combined",
      (s, _) => writeAndRead(s, "combined"),
      Some(s"""$prelude
        ${pivotSql("grid", "reads")}"""),
      "E2E K1/K2/F9/A2-wide: the written combined_species.csv byte content " +
        "vs an independent DuckDB pivot (bigbugdata.py:208–222, 304–318)"),

    QueryDef(
      "bb_e2e_sink_rrpm",
      (s, _) => writeAndRead(s, "rrpm"),
      Some(s"""$prelude
        ${pivotSql("rr", "rrpm")}"""),
      "E2E K1/K2/F9: the written rrpm_species.csv byte content vs an " +
        "independent DuckDB pivot (double stringification included)"),

    QueryDef(
      "bb_e2e_sink_tophits",
      (s, _) => writeAndRead(s, "tophits"),
      Some(s"""$prelude,
        topk AS (
          SELECT sample, taxID, taxName, rrpm, z_score,
            ROW_NUMBER() OVER (PARTITION BY sample
              ORDER BY rrpm DESC, taxID ASC) AS rank
          FROM rr),
        stats AS (
          SELECT sample, taxID, MIN(kmers) AS kmers, MIN(dup) AS dup,
            MIN(reads) AS reads, MIN(cov) AS cov,
            MIN((CAST(kmers AS DOUBLE) / reads) * cov) AS e_val
          FROM taxa GROUP BY sample, taxID)
        SELECT CAST(t.sample AS VARCHAR) AS "sampleName",
          CAST(t.taxID AS VARCHAR) AS taxID, t.taxName,
          CAST(t.rank AS VARCHAR) AS rank, CAST(t.rrpm AS VARCHAR) AS "rRPM",
          CAST(s.kmers AS VARCHAR) AS kmers, CAST(s.dup AS VARCHAR) AS dup,
          CAST(s.reads AS VARCHAR) AS reads, CAST(s.cov AS VARCHAR) AS cov,
          CAST(s.e_val AS VARCHAR) AS e_val, CAST(t.z_score AS VARCHAR) AS z_score
        FROM topk t JOIN stats s USING (sample, taxID)
        WHERE t.rank <= 3"""),
      "E2E K1/W1/J1: the written tophits_species.csv byte content vs an " +
        "independent DuckDB recomputation")
  )
}
