package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import graft.pipeline.BigBugData
import graft.io.ReportReader

/** End-to-end golden test of the reference pipeline semantics
  * (`bigbugdata.py:225–366`), exercising every SURVEY §7.4 trap:
  * rRPM truncation + 0→1 clamp + no-group default, rank gaps, stable
  * tie-break, first-seen trimmed taxName, duplicate-row accumulation with
  * last-wins stats, lex-vs-numeric sample ordering, NC self-membership.
  */
class PipelineSpec extends SparkSuite {

  private def writeReport(dir: Path, fileName: String, rows: Seq[String]): String = {
    val header = Seq(
      "# kraken2 --db /db --report x.tsv",
      "# Thu Jan 01 00:00:00 2026",
      "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName")
    val p = dir.resolve(fileName)
    Files.writeString(p, (header ++ rows).mkString("", "\n", "\n"))
    p.toString
  }

  /** fixture: 4 samples — control + 2 group members + 1 groupless */
  private lazy val fixture: (BigBugData.Outputs, Seq[String]) = {
    val dir = Files.createTempDirectory("graft_reports")
    // NC first in argument order so its taxName is the first-seen one
    val paths = Seq(
      writeReport(dir, "CF_DNA_Negative1_report.tsv", Seq(
        "40.0\t400000\t400000\t0\t0\t0\t0\tunclassified\tunclassified",
        "60.0\t600000\t600000\t500\t0\t0\t1\troot\troot",
        "0.1\t5\t5\t100\t1.0\t0.5\t10\tspecies\t  Escherichia coli  ",
        "0.1\t2\t2\t10\t1.0\t0.1\t20\tspecies\tStaph aureus",
        "0.1\t1\t1\t5\t1.0\t0.1\t99\tgenus\tNotSpeciesRank")),
      writeReport(dir, "CF_DNA_1_report.tsv", Seq(
        "50.0\t1000000\t1000000\t0\t0\t0\t0\tunclassified\tunclassified",
        "50.0\t1000000\t1000000\t900\t0\t0\t1\troot\troot",
        // duplicate taxID 10 rows: counts accumulate (4+5=9), stats = last
        "0.1\t4\t4\t40\t1.0\t0.2\t10\tspecies\tE. coli WRONG",
        "0.1\t5\t5\t50\t2.0\t0.4\t10\tspecies\tE. coli WRONG",
        "0.1\t10\t10\t100\t1.0\t1.0\t30\tspecies\tKlebsiella")),
      writeReport(dir, "CF_DNA_2_report.tsv", Seq(
        "30.0\t300000\t300000\t0\t0\t0\t0\tunclassified\tunclassified",
        "70.0\t700000\t700000\t800\t0\t0\t1\troot\troot",
        "0.1\t7\t7\t70\t1.0\t1.0\t20\tspecies\tStaph aureus",
        "0.1\t3\t3\t30\t1.0\t2.0\t30\tspecies\tKlebsiella")),
      writeReport(dir, "OTHER_X_report.tsv", Seq(
        "80.0\t400000\t400000\t0\t0\t0\t0\tunclassified\tunclassified",
        "20.0\t100000\t100000\t100\t0\t0\t1\troot\troot",
        "0.1\t2\t2\t20\t1.0\t0.5\t10\tspecies\tEscherichia coli")))
    val params = BigBugData.Params(
      reportPaths = paths,
      resultsDir = Files.createTempDirectory("graft_out").toString,
      rank = "species",
      nTophits = 2,
      groupPatterns = Seq(("Negative", "CF_DNA")))
    (BigBugData.build(spark, params), paths)
  }

  private def cell(rows: Seq[Row], taxId: Long, sample: String, field: String): Any =
    rows.find(r => r.getAs[Long]("taxID") == taxId
      && r.getAs[String]("sample") == sample).get.getAs[Any](field)

  test("sample ordering is lexicographic when any id is non-numeric (O2)") {
    assert(fixture._1.orderedSamples ==
      Seq("CF_DNA_1", "CF_DNA_2", "CF_DNA_Negative1", "OTHER_X"))
  }

  test("numeric sample ordering when ALL ids parse as ints (O2)") {
    assert(ReportReader.orderedSampleIds(Seq("10", "2", "1")) == Seq("1", "2", "10"))
    assert(ReportReader.orderedSampleIds(Seq("10", "2", "x")) == Seq("10", "2", "x"))
  }

  test("combined grid: dense 0-fill, accumulation, totals, rank filter (A2/A3/P1/P2)") {
    val rows = fixture._1.combined.collect().toSeq
    assert(rows.size == 12) // 3 taxa x 4 samples, genus row excluded
    assert(cell(rows, 10, "CF_DNA_1", "reads") == 9L)   // 4+5 accumulated
    assert(cell(rows, 10, "CF_DNA_2", "reads") == 0L)   // dense 0-fill
    assert(cell(rows, 20, "CF_DNA_2", "reads") == 7L)
    assert(cell(rows, 10, "CF_DNA_1", "total_reads_organism") == 16L) // 9+5+2
    assert(!rows.exists(_.getAs[Long]("taxID") == 99L)) // genus filtered
  }

  test("taxName is first-seen (argument order) and trimmed (A2 trap 6)") {
    val names = fixture._1.combined.collect()
      .map(r => r.getAs[Long]("taxID") -> r.getAs[String]("taxName")).toMap
    assert(names(10L) == "Escherichia coli") // NC file first, trimmed
  }

  test("rpm = reads / (total/1e6) (F2)") {
    val rows = fixture._1.rrpm.collect().toSeq
    assert(cell(rows, 10, "CF_DNA_1", "rpm") == 4.5)       // 9/(2e6/1e6)
    assert(cell(rows, 10, "CF_DNA_Negative1", "rpm") == 5.0)
    assert(cell(rows, 10, "OTHER_X", "rpm") == 4.0)        // 2/(5e5/1e6)
  }

  test("rRPM: floor both sides, clamp 0→1 denominator, default 1 when " +
      "no group (F3/J2 traps 1,5)") {
    val rows = fixture._1.rrpm.collect().toSeq
    assert(cell(rows, 10, "CF_DNA_1", "rrpm") == 0.8)  // floor(4.5)=4 over 5
    assert(cell(rows, 20, "CF_DNA_2", "rrpm") == 3.5)  // 7 over 2
    assert(cell(rows, 30, "CF_DNA_1", "rrpm") == 5.0)  // nc rpm 0 → clamp 1
    assert(cell(rows, 10, "OTHER_X", "rrpm") == 4.0)   // groupless → denom 1
    assert(cell(rows, 10, "CF_DNA_Negative1", "rrpm") == 1.0) // NC vs itself
  }

  test("z-score: population stddev across the dense sample vector (W2)") {
    val rows = fixture._1.rrpm.collect().toSeq
    val v = Seq(4.5, 0.0, 5.0, 4.0) // taxID 10 across ordered samples
    val mean = v.sum / v.size
    val sd = math.sqrt(v.map(x => (x - mean) * (x - mean)).sum / v.size)
    val got = cell(rows, 10, "CF_DNA_1", "z_score").asInstanceOf[Double]
    assert(math.abs(got - (4.5 - mean) / sd) < 1e-12)
  }

  test("tophits: stable tie-break by taxID ascending (W1 trap 3)") {
    val tops = fixture._1.tophits.collect().toSeq
    val nc = tops.filter(_.getAs[String]("sampleName") == "CF_DNA_Negative1")
      .sortBy(_.getAs[Int]("rank"))
    // taxID 10 and 20 both have rRPM 1.0 → taxID ascending wins
    assert(nc.map(r => (r.getAs[Long]("taxID"), r.getAs[Int]("rank"))) ==
      Seq((10L, 1), (20L, 2)))
  }

  test("tophits: rank gaps — dropped stats-less cell consumes its ordinal " +
      "(J1 trap 2)") {
    val tops = fixture._1.tophits.collect().toSeq
    val ox = tops.filter(_.getAs[String]("sampleName") == "OTHER_X")
    // rank 2 cell (taxID 20, a 0-filled grid cell) has no stats → dropped;
    // only rank 1 emitted, ordinal 2 consumed
    assert(ox.map(r => (r.getAs[Long]("taxID"), r.getAs[Int]("rank"))) ==
      Seq((10L, 1)))
  }

  test("tophits: last-wins stats for duplicate (sample, taxID) rows (trap 8)") {
    val tops = fixture._1.tophits.collect().toSeq
    val r = tops.find(t => t.getAs[String]("sampleName") == "CF_DNA_1"
      && t.getAs[Long]("taxID") == 10L).get
    assert(r.getAs[Long]("kmers") == 50L)  // second row's kmers
    assert(r.getAs[Long]("reads") == 5L)   // raw last-row reads, NOT the 9 sum
    assert(r.getAs[Double]("e_val") == (50.0 / 5) * 0.4)
  }

  test("nativeTopK: the bounded-heap operator produces the identical " +
      "tophits rows as the window formulation") {
    val params = BigBugData.Params(
      reportPaths = fixture._2,
      resultsDir = Files.createTempDirectory("graft_native_out").toString,
      rank = "species", nTophits = 2,
      groupPatterns = Seq(("Negative", "CF_DNA")),
      nativeTopK = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[String]("sampleName"),
        r.getAs[Long]("taxID"), r.getAs[Int]("rank"),
        r.getAs[Double]("rRPM"), r.getAs[Long]("kmers"))).toSet
    val native = rows(BigBugData.build(spark, params).tophits)
    val windowed = rows(fixture._1.tophits)
    assert(native == windowed && native.nonEmpty)
  }

  test("output schemas: names, types and order stay fixed (the parquet " +
      "sink writes these frames as they are)") {
    def shape(df: org.apache.spark.sql.DataFrame) = df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")
    val out = fixture._1
    assert(shape(out.combined) == "taxID:bigint, sample:string, " +
      "taxName:string, total_reads_organism:bigint, reads:bigint")
    assert(shape(out.rrpm) == "sample:string, taxID:bigint, taxName:string, " +
      "total_reads_organism:bigint, reads:bigint, total_reads:bigint, " +
      "rpm:double, z_score:double, nc_sample:string, nc_rpm:double, rrpm:double")
    assert(shape(out.tophits) == "sampleName:string, taxID:bigint, " +
      "taxName:string, rank:int, rRPM:double, kmers:bigint, dup:double, " +
      "reads:bigint, cov:double, e_val:double, z_score:double")
  }

  /** two groups with different controls; control A_NC has only taxID 0/1
    * rows, so every cell of it is 0-filled */
  private lazy val twoGroups: BigBugData.Outputs = {
    val dir = Files.createTempDirectory("graft_two_groups")
    val totals = (unclassified: Long, root: Long) => Seq(
      s"40.0\t$unclassified\t$unclassified\t0\t0\t0\t0\tunclassified\tunclassified",
      s"60.0\t$root\t$root\t100\t0\t0\t1\troot\troot")
    val paths = Seq(
      writeReport(dir, "A_NC_report.tsv", totals(400000, 600000)),
      writeReport(dir, "A_1_report.tsv", totals(400000, 600000) ++ Seq(
        "0.1\t7\t7\t70\t1.0\t0.5\t10\tspecies\tTen",
        "0.1\t3\t3\t30\t1.0\t0.5\t20\tspecies\tTwenty")),
      writeReport(dir, "B_NC_report.tsv", totals(800000, 1200000) ++ Seq(
        "0.1\t9\t9\t90\t1.0\t0.5\t10\tspecies\tTen",
        "0.1\t11\t11\t110\t1.0\t0.5\t20\tspecies\tTwenty")),
      writeReport(dir, "B_1_report.tsv", totals(400000, 600000) ++ Seq(
        "0.1\t9\t9\t90\t1.0\t0.5\t10\tspecies\tTen",
        "0.1\t12\t12\t120\t1.0\t0.5\t20\tspecies\tTwenty")))
    BigBugData.build(spark, BigBugData.Params(
      reportPaths = paths,
      resultsDir = Files.createTempDirectory("graft_two_groups_out").toString,
      nTophits = 2,
      groupPatterns = Seq(("A_NC", "A_"), ("B_NC", "B_"))))
  }

  test("rRPM: a control with only taxID 0/1 rows is all 0-filled, so " +
      "every denominator of its group clamps to 1") {
    val rows = twoGroups.rrpm.collect().toSeq
    assert(rows.size == 8) // 2 taxa x 4 samples
    for (s <- Seq("A_NC", "A_1"); t <- Seq(10L, 20L)) {
      assert(cell(rows, t, s, "nc_sample") == "A_NC")
      assert(cell(rows, t, s, "nc_rpm") == 0.0)
    }
    assert(cell(rows, 10, "A_1", "rrpm") == 7.0) // floor(7) over clamp 1
    assert(cell(rows, 20, "A_1", "rrpm") == 3.0)
    assert(cell(rows, 10, "A_NC", "rrpm") == 0.0)
    assert(cell(rows, 20, "A_NC", "rrpm") == 0.0)
  }

  test("rRPM: two groups in one batch each divide by their own control") {
    val rows = twoGroups.rrpm.collect().toSeq
    // B_NC's total is 2e6: rpm 4.5 (taxID 10) and 5.5 (taxID 20)
    assert(cell(rows, 10, "B_1", "nc_sample") == "B_NC")
    assert(cell(rows, 10, "B_1", "nc_rpm") == 4.5)
    assert(cell(rows, 20, "B_1", "nc_rpm") == 5.5)
    assert(cell(rows, 10, "B_1", "rrpm") == 2.25) // floor(9) over floor(4.5)
    assert(cell(rows, 20, "B_1", "rrpm") == 2.4)  // floor(12) over floor(5.5)
    assert(cell(rows, 10, "B_NC", "rrpm") == 1.0) // floor(4.5) over itself
    assert(cell(rows, 20, "B_NC", "rrpm") == 1.0)
    val tops = twoGroups.tophits.collect()
      .map(r => (r.getAs[String]("sampleName"), r.getAs[Long]("taxID"),
        r.getAs[Int]("rank"), r.getAs[Double]("rRPM"))).toSet
    assert(tops == Set(("A_1", 10L, 1, 7.0), ("A_1", 20L, 2, 3.0),
      ("B_1", 20L, 1, 2.4), ("B_1", 10L, 2, 2.25),
      ("B_NC", 10L, 1, 1.0), ("B_NC", 20L, 2, 1.0)))
  }

  test("plan shape: the pruned report cache feeds ONE cached grid that " +
      "all three outputs read, and rrpm needs no self-join of the rpm grid") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // every physical node, including those inside adaptive plans and
    // behind cached relations
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case s: InMemoryTableScanExec => nodes(s.relation.cacheBuilder.cachedPlan)
      case _ => p.children.flatMap(nodes)
    })
    val out = fixture._1
    val read = Seq(out.combined, out.rrpm, out.tophits).map(
      _.queryExecution.withCachedData.collect { case r: InMemoryRelation => r.cacheBuilder })
    assert(read.forall(_.size == 1), read.map(_.map(_.cachedName)))
    assert(read.flatten.forall(_ eq read.head.head),
      "combined, rrpm and tophits must read the same cached grid")

    val rrpmNodes = nodes(out.rrpm.queryExecution.executedPlan)
    val reportCache = rrpmNodes.collect { case s: InMemoryTableScanExec => s.relation }
      .filter(_.output.exists(_.name == ReportReader.OrderKey))
    assert(reportCache.nonEmpty, "the report scan must be cached")
    reportCache.foreach { r =>
      val names = r.output.map(_.name)
      assert(!names.exists(n => n.startsWith(ReportReader.RawPrefix) ||
        n == "pct" || n == "taxReads"), names)
    }

    def fromRpmGrid(side: SparkPlan): Boolean = nodes(side).exists(
      _.expressions.exists(_.exists {
        case a: Alias => a.name == "rpm"
        case _ => false
      }))
    rrpmNodes.collect { case j: BaseJoinExec => j }.foreach { j =>
      assert(!(fromRpmGrid(j.left) && fromRpmGrid(j.right)),
        s"rrpm plan self-joins the rpm grid:\n$j")
    }
  }

  test("single-sample batch: zero stddev yields NaN z-score like scipy (trap 4)") {
    val dir = Files.createTempDirectory("graft_single")
    val p = writeReport(dir, "SOLO_1_report.tsv", Seq(
      "50.0\t500000\t500000\t0\t0\t0\t0\tunclassified\tunclassified",
      "50.0\t500000\t500000\t10\t0\t0\t1\troot\troot",
      "0.1\t5\t5\t50\t1.0\t0.5\t10\tspecies\tX"))
    val out = BigBugData.build(spark, BigBugData.Params(
      Seq(p), Files.createTempDirectory("graft_out2").toString))
    val z = out.rrpm.collect().head.getAs[Double]("z_score")
    assert(z.isNaN)
  }

  test("missing taxID 0/1 rows fail loudly (trap 10)") {
    val dir = Files.createTempDirectory("graft_nototals")
    val p = writeReport(dir, "BAD_1_report.tsv", Seq(
      "0.1\t5\t5\t50\t1.0\t0.5\t10\tspecies\tX"))
    val e = intercept[IllegalStateException] {
      BigBugData.build(spark, BigBugData.Params(
        Seq(p), Files.createTempDirectory("graft_out3").toString))
    }
    assert(e.getMessage.contains("BAD_1"))
  }

  test("NC group resolution: cardinality errors (P5)") {
    import graft.ops.NcGroups
    val ids = Seq("CF_DNA_Negative1", "CF_DNA_Negative2", "CF_DNA_1")
    intercept[IllegalArgumentException] { // two controls match
      NcGroups.resolve(ids, Seq(("Negative", "CF_DNA")))
    }
    intercept[IllegalArgumentException] { // no group members
      NcGroups.resolve(Seq("CF_DNA_Negative1"), Seq(("Negative", "NOPE")))
    }
  }

  test("NC lookup: first matching group in argument order wins (trap 5)") {
    import graft.ops.NcGroups
    val ids = Seq("NCA_0", "NCB_0", "S_1")
    val groups = NcGroups.resolve(ids,
      Seq(("NCA", "S_"), ("NCB", "S_"))) // S_1 in both groups
    assert(NcGroups.sampleToControl(ids, groups)("S_1") == "NCA_0")
  }

  test("regex dialect boundary (trap 9): NcGroups runs Scala/Java Regex " +
      "— matches Python re on the reference's pattern shapes, and the " +
      "two known divergence classes surface as ERRORS, never silence") {
    import graft.ops.NcGroups
    val ids = Seq("CF_Negative1", "CF_1", "CF_2")
    // agreement surface: unanchored search + the literal/prefix patterns
    // the reference actually passes (bigbugdata.py -n groups)
    assert(NcGroups.resolve(ids, Seq(("Negative", "CF_")))
      .head._2 == ids.toSet)
    // DIVERGENCE 1 — fail-loud: Python named groups (?P<g>...) are a
    // PatternSyntaxException in Java, so a Python-ported invocation
    // errors instead of matching differently
    intercept[java.util.regex.PatternSyntaxException] {
      NcGroups.resolve(ids, Seq(("(?P<nc>Negative)", "CF_")))
    }
    // DIVERGENCE 2 — silent in the regex engine, loud in the pipeline:
    // '[C&&F]' is the literal class {C,&,F} in Python (matches every id
    // here) but set INTERSECTION {C}∩{F} = ∅ in Java (matches none).
    // P5's ≥1-member cardinality assertion converts that empty match
    // set into an error rather than letting an empty group flow on.
    intercept[IllegalArgumentException] {
      NcGroups.resolve(ids, Seq(("Negative", "[C&&F]")))
    }
  }

  test("sample-id rules: rpartition vs first-token stay distinct (trap 7)") {
    assert(ReportReader.sampleIdOf("/x/CF_DNA_Negative1_report.tsv") == "CF_DNA_Negative1")
    assert(ReportReader.sampleIdFirstTokenOf("/x/CF_DNA_Negative1_report.tsv") == "CF")
    assert(ReportReader.sampleIdOf("/x/noUnderscore.tsv") == "")
  }

  test("CSV sinks write single files with the reference layout (K1/K2)") {
    val params = BigBugData.Params(
      reportPaths = fixture._2,
      resultsDir = Files.createTempDirectory("graft_csv_out").toString,
      rank = "species", nTophits = 2,
      groupPatterns = Seq(("Negative", "CF_DNA")))
    BigBugData.write(spark, params)
    val combined = Files.readAllLines(
      java.nio.file.Paths.get(s"${params.resultsDir}/combined_species.csv"))
    assert(combined.get(0) ==
      "taxID,taxName,Total # of Reads,CF_DNA_1,CF_DNA_2,CF_DNA_Negative1,OTHER_X")
    assert(combined.get(1).startsWith("10,Escherichia coli,16,9,0,5,2"))
    assert(Files.exists(java.nio.file.Paths.get(s"${params.resultsDir}/rrpm_species.csv")))
    val tophits = Files.readAllLines(
      java.nio.file.Paths.get(s"${params.resultsDir}/tophits_species.csv"))
    assert(tophits.get(0) ==
      "sampleName,taxID,taxName,rank,rRPM,kmers,dup,reads,cov,e_val,z_score")
  }

  test("parquet sink strategy writes the long grids losslessly (content " +
      "== the combined/rrpm frames; no CSV files produced)") {
    val params = BigBugData.Params(
      reportPaths = fixture._2,
      resultsDir = Files.createTempDirectory("graft_pq_out").toString,
      rank = "species", nTophits = 2,
      groupPatterns = Seq(("Negative", "CF_DNA")))
    spark.conf.set("spark.graft.sink.strategy", "parquet")
    try BigBugData.write(spark, params)
    finally spark.conf.unset("spark.graft.sink.strategy")
    val outs = fixture._1
    // the strategy governs ALL THREE outputs (a single-file tophits CSV
    // would reintroduce the driver bottleneck at cluster scale)
    for ((name, frame) <- Seq("combined" -> outs.combined,
        "rrpm" -> outs.rrpm, "tophits" -> outs.tophits)) {
      val path = s"${params.resultsDir}/${name}_species.parquet"
      val back = spark.read.parquet(path)
      assert(back.count() == frame.count(), s"$name row count")
      assert(back.exceptAll(frame).isEmpty && frame.exceptAll(back).isEmpty,
        s"$name content must round-trip losslessly")
      assert(!Files.exists(
        java.nio.file.Paths.get(s"${params.resultsDir}/${name}_species.csv")),
        "parquet strategy must not also write the CSV")
    }
  }

  test("csvLines (long-format sink) is byte-identical to pivotWide + " +
      "Spark's CSV writer, including pathological taxNames and doubles") {
    val s2 = spark; import s2.implicits._
    import graft.schema.ReportSchema.{Sample, TaxId, TaxName}
    val samples = Seq("s1", "s2", "s3")
    // taxNames exercising the full CSV dialect: delimiter, quote,
    // backslash-with-quote, empty string, padded whitespace; doubles
    // exercising scientific notation and many digits
    val long = Seq(
      (1L, "plain name", 7L, "s1", 0.5),
      (1L, "plain name", 7L, "s2", 1.0E7),
      (1L, "plain name", 7L, "s3", 0.1 + 0.2),
      (2L, "has,comma", 9L, "s1", 1.0),
      (2L, "has,comma", 9L, "s2", -3.25),
      (2L, "has,comma", 9L, "s3", 123456789.123456),
      (3L, "q\"uote \\ba,ck", 0L, "s1", 0.0),
      (3L, "q\"uote \\ba,ck", 0L, "s2", 2.0),
      (3L, "q\"uote \\ba,ck", 0L, "s3", 4.5),
      (4L, "", 3L, "s1", 1.5),
      (4L, "", 3L, "s2", 2.5),
      (4L, "", 3L, "s3", 3.5),
      (5L, "  padded  ", 2L, "s1", 9.0),
      (5L, "  padded  ", 2L, "s2", 8.0),
      (5L, "  padded  ", 2L, "s3", 7.0))
      .toDF(TaxId, TaxName, "total_reads_organism", Sample, "v")
    val header = Seq(TaxId, TaxName, "Total # of Reads") ++ samples
    val viaPivot = Files.createTempDirectory("graft_parity").resolve("p.csv")
    val viaLines = viaPivot.resolveSibling("l.csv")
    graft.io.CsvSink.writeSingleCsv(
      BigBugData.pivotWide(long, "v", samples), header, viaPivot.toString)
    graft.io.CsvSink.writeSingleLines(
      BigBugData.csvLines(long, "v", samples), header, viaLines.toString)
    val a = new String(Files.readAllBytes(viaPivot), "UTF-8")
    val b = new String(Files.readAllBytes(viaLines), "UTF-8")
    assert(a == b, s"sink paths diverged:\n--- pivot\n$a--- lines\n$b")
  }
}
