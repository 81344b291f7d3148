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

  /** six samples whose argument order differs from the ordered-sample
    * order, totals that make every rpm inexact, and 0-filled cells */
  private val pinArgs = Seq("S4", "S1", "S6", "S3", "S2", "S5")
  private def pinTotal(s: String): Long = {
    val i = s.drop(1).toLong
    1000003L + i * 7919L + i * i * 131L
  }
  private def pinReads(t: Long, s: String): Long = {
    val i = s.drop(1).toLong
    val v = (t * 37 + i * 101 + t * i * 13) % 97
    if (v % 5 == 0) 0L else v * 3 + 1
  }
  private val pinTaxa = Seq(11L, 12L, 13L, 14L, 15L)

  test("z-score bits: the fold visits the samples in argument order with " +
      "Spark's avg and stddev_pop update steps (W2)") {
    val dir = Files.createTempDirectory("graft_zpin")
    val paths = pinArgs.map { s =>
      val half = pinTotal(s) / 2
      writeReport(dir, s"${s}_report.tsv", Seq(
        s"50.0\t$half\t$half\t0\t0\t0\t0\tunclassified\tunclassified",
        s"50.0\t${pinTotal(s) - half}\t${pinTotal(s) - half}\t9\t0\t0\t1\troot\troot") ++
        pinTaxa.filter(pinReads(_, s) > 0).map { t =>
          s"0.1\t${pinReads(t, s)}\t1\t5\t1.0\t0.5\t$t\tspecies\tT$t"
        })
    }
    val out = BigBugData.build(spark, BigBugData.Params(
      paths, Files.createTempDirectory("graft_zpin_out").toString))
    assert(out.orderedSamples == pinArgs.sorted)
    val got = out.rrpm.collect().map(r => (r.getAs[Long]("taxID"),
      r.getAs[String]("sample")) -> r.getAs[Double]("z_score")).toMap
    // raw bits per taxID, samples in argument order, as the window over
    // taxID computed them
    val pinned = Map(
      11L -> Seq(0xbff15e49d75ca8b3L, 0x3ff4b4932a1dfd33L, 0xbfc3b376c562b10aL,
        0x3ff5b2c8fdc06923L, 0xbfd4d16681e2fb2fL, 0xbff15e49d75ca8b3L),
      12L -> Seq(0xbfd1ca6a917b6bb2L, 0xbf4ee73de1168970L, 0x3ff1fbf0714a42b5L,
        0x3ff6f6532188a9c5L, 0xbff23de6035bf75dL, 0xbff23de6035bf75dL),
      13L -> Seq(0xbfe8b302b1da4316L, 0x3ff5448934528e02L, 0x3fef282bd8824b65L,
        0xbff1302f5f9d14e3L, 0x3fe3c281ef272f3aL, 0xbff1302f5f9d14e3L),
      14L -> Seq(0xbfe2cb8a586ed47cL, 0xbfe447a6586d292eL, 0x4001731798173b5cL,
        0xbfd397e432c1b0a2L, 0xbf94b2a7b65dc9d3L, 0xbfe447a6586d292eL),
      15L -> Seq(0xbfdc9f25c5bfedd9L, 0xbfdc9f25c5bfedd9L, 0x4001e3779b97f4a7L,
        0xbfdc9f25c5bfedd9L, 0xbfdc9f25c5bfedd9L, 0xbfdc9f25c5bfedd9L))
    for (t <- pinTaxa; (s, b) <- pinArgs.zip(pinned(t)))
      assert(java.lang.Double.doubleToRawLongBits(got((t, s))) == b, s"taxID $t, $s")

    // the pin tells the orders apart: the same steps over the samples in
    // ordered-sample order change the bits of some cells
    def zs(order: Seq[String], t: Long): Map[String, Double] = {
      val xs = order.map(s => pinReads(t, s).toDouble / (pinTotal(s).toDouble / 1e6))
      var (sum, n, avg, m2) = (0.0, 0.0, 0.0, 0.0)
      xs.foreach { x =>
        sum += x
        val delta = x - avg
        val deltaN = delta / (n + 1.0)
        n += 1.0; avg += deltaN; m2 += delta * (delta - deltaN)
      }
      val sd = math.sqrt(m2 / n)
      order.zip(xs.map(x => (x - sum / n) / sd)).toMap
    }
    for (t <- pinTaxa; (s, b) <- pinArgs.zip(pinned(t)))
      assert(java.lang.Double.doubleToRawLongBits(zs(pinArgs, t)(s)) == b)
    assert(pinTaxa.exists(t => pinArgs.exists(s => zs(pinArgs.sorted, t)(s) != zs(pinArgs, t)(s))))
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

  // Outputs is public, and the bb_* catalog queries read these frames
  test("output schemas stay fixed: bb_* queries read public Outputs") {
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

  test("plan shape: one uncached scan and ONE exchange feed the cached " +
      "organism rows that all three outputs read, and rrpm needs no " +
      "self-join of the rpm grid") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    // every physical node, including those inside adaptive plans and
    // behind cached relations
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case s: InMemoryTableScanExec => nodes(s.relation.cacheBuilder.cachedPlan)
      case _ => p.children.flatMap(nodes)
    })
    val out = fixture._1
    // tophits ranks its candidates on the driver: the tasks' heaps read
    // this frame of the organism rows
    val candidates = out.grid.select(graft.ops.TopHits.inputs: _*)
    val read = Seq(out.combined, out.rrpm, candidates).map(
      _.queryExecution.withCachedData.collect { case r: InMemoryRelation => r.cacheBuilder })
    assert(read.forall(_.size == 1), read.map(_.map(_.cachedName)))
    assert(read.flatten.forall(_ eq read.head.head),
      "combined, rrpm and the tophits candidates must read the same cached organism rows")

    for (df <- Seq(out.combined, out.rrpm, candidates)) {
      val all = nodes(df.queryExecution.executedPlan)
      assert(all.count(_.isInstanceOf[FileSourceScanExec]) == 1)
      // no cached relation of report rows: the one cache holds organisms
      val cached = all.collect { case s: InMemoryTableScanExec => s.relation }
      assert(cached.map(_.cacheBuilder).distinct.size == 1)
      cached.foreach(r => assert(!r.output.exists(_.name == ReportReader.OrderKey),
        r.output.map(_.name)))
    }

    // between the scan and the organism aggregate (the cached plan's
    // top aggregate) runs exactly one exchange
    val cachedPlan = nodes(read.head.head.cachedPlan)
    val aggAt = cachedPlan.indexWhere(_.isInstanceOf[BaseAggregateExec])
    val scanAt = cachedPlan.indexWhere(_.isInstanceOf[FileSourceScanExec])
    assert(aggAt >= 0 && scanAt > aggAt)
    assert(cachedPlan.slice(aggAt, scanAt).count(_.isInstanceOf[ShuffleExchangeLike]) == 1,
      cachedPlan.map(_.nodeName))

    // the organism row carries every sample's cell: the grid joins
    // nothing and runs no window
    val gridNodes = nodes(out.grid.queryExecution.executedPlan) ++
      nodes(out.rrpm.queryExecution.executedPlan)
    assert(gridNodes.collect { case j: BaseJoinExec => j }.isEmpty,
      gridNodes.collect { case j: BaseJoinExec => j.nodeName })
    assert(!gridNodes.exists(_.isInstanceOf[WindowExec]))
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

  /** A1 edge cases: A has duplicate taxID 1 rows, B's taxID 1 row sits at
    * the target rank and its taxID 0 row at a non-target one, and N's
    * taxID 0/1 reads cells are all non-numeric */
  private lazy val totalsEdges: Seq[Row] = {
    val dir = Files.createTempDirectory("graft_totals_edges")
    val paths = Seq(
      writeReport(dir, "A_report.tsv", Seq(
        "50.0\t500000\t500000\t0\t0\t0\t0\tunclassified\tunclassified",
        "30.0\t300000\t300000\t9\t0\t0\t1\troot\troot",
        "20.0\t200000\t200000\t9\t0\t0\t1\troot\troot",
        "0.1\t5\t5\t50\t1.0\t0.5\t10\tspecies\tTen")),
      writeReport(dir, "B_report.tsv", Seq(
        "40.0\t400000\t400000\t0\t0\t0\t0\tU\tunclassified",
        "60.0\t600000\t600000\t9\t0\t0\t1\tspecies\troot",
        "0.1\t2\t2\t20\t1.0\t0.5\t10\tspecies\tTen",
        // a non-numeric taxID is neither a total nor a taxon
        "0.1\t4\t4\t40\t1.0\t0.5\tx7\tspecies\tBad")),
      writeReport(dir, "N_report.tsv", Seq(
        "50.0\tx\t500000\t0\t0\t0\t0\tunclassified\tunclassified",
        "50.0\tn/a\t500000\t9\t0\t0\t1\troot\troot",
        "0.1\t3\t3\t30\t1.0\t0.5\t10\tspecies\tTen")))
    BigBugData.build(spark, BigBugData.Params(
      paths, Files.createTempDirectory("graft_totals_edges_out").toString))
      .rrpm.collect().toSeq
  }

  test("A1: duplicate taxID 0/1 rows are summed") {
    assert(cell(totalsEdges, 10, "A", "total_reads") == 1000000L) // 5e5+3e5+2e5
    assert(cell(totalsEdges, 10, "A", "rpm") == 5.0)
  }

  test("A1: taxID 0/1 rows count at any rank and never become taxa") {
    assert(cell(totalsEdges, 10, "B", "total_reads") == 1000000L)
    assert(cell(totalsEdges, 10, "B", "rpm") == 2.0)
    assert(totalsEdges.map(_.getAs[Any]("taxID")).toSet == Set(10L))
  }

  test("A1: a sample whose taxID 0/1 reads are all non-numeric has a null " +
      "total, so its rpm, z-score and rRPM cells are null") {
    for (f <- Seq("total_reads", "rpm", "z_score", "rrpm"))
      assert(cell(totalsEdges, 10, "N", f) == null, f)
    // the other samples' z-scores skip the null cell: (5 - 3.5) / 1.5
    assert(cell(totalsEdges, 10, "A", "z_score") == 1.0)
    assert(cell(totalsEdges, 10, "B", "z_score") == -1.0)
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

  test("BigBugData.write runs two SQL executions: the totals collect and " +
      "one action for all three outputs' lines") {
    val funcs = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def record(f: String, qe: org.apache.spark.sql.execution.QueryExecution) =
        funcs.put(if (qe.logical.toString.contains("graft_marker")) "marker" else f)
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = record(f, qe)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = record(f, qe)
    }
    // listener events arrive in order, so the executions between the two
    // marker queries are exactly the write's
    def marker(): Unit = spark.sql("SELECT 'graft_marker'").collect()
    def drainToMarker(): Seq[String] =
      Iterator.continually(funcs.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(f => f != null && f != "marker").toList
    spark.listenerManager.register(listener)
    try {
      marker()
      drainToMarker()
      BigBugData.write(spark, BigBugData.Params(
        reportPaths = fixture._2,
        resultsDir = Files.createTempDirectory("graft_jobs_out").toString,
        rank = "species", nTophits = 2,
        groupPatterns = Seq(("Negative", "CF_DNA"))))
      marker()
      assert(drainToMarker() == Seq("collect", "collect"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("a warm BigBugData.write runs one Spark job after the totals " +
      "collect, and that action plans no exchange and no window above " +
      "the organism cache") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val params = BigBugData.Params(
      reportPaths = fixture._2,
      resultsDir = Files.createTempDirectory("graft_one_job_out").toString,
      rank = "species", nTophits = 2,
      groupPatterns = Seq(("Negative", "CF_DNA")))
    BigBugData.write(spark, params) // warm
    // per job, its SQL execution; per execution, its plan; None marks
    // the marker (listener events arrive in order)
    val jobs = new java.util.concurrent.LinkedBlockingQueue[Option[Long]]()
    val plans = new java.util.concurrent.LinkedBlockingQueue[Option[QueryExecution]]()
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      // the marker's SQL query runs a job too: only its count job marks
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val execution = Option(e.properties.getProperty("spark.sql.execution.id"))
        if (e.properties.getProperty("spark.job.description") != "graft_marker")
          jobs.put(Some(execution.get.toLong))
        else if (execution.isEmpty) jobs.put(None)
      }
    }
    val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
      private def record(qe: QueryExecution) =
        plans.put(if (qe.logical.toString.contains("graft_marker")) None else Some(qe))
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    }
    def marker(): Unit = {
      spark.sparkContext.setJobDescription("graft_marker")
      try {
        spark.sql("SELECT 'graft_marker'").collect()
        spark.sparkContext.parallelize(Seq(1), 1).count()
      } finally spark.sparkContext.setJobDescription(null)
    }
    def drainToMarker[A](q: java.util.concurrent.LinkedBlockingQueue[Option[A]]): Seq[A] =
      Iterator.continually(q.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(a => a != null && a.isDefined).map(_.get).toList
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      marker()
      drainToMarker(jobs); drainToMarker(plans)
      BigBugData.write(spark, params)
      marker()
      val executions = drainToMarker(plans)
      assert(executions.size == 2, executions.map(_.logical.nodeName))
      // the jobs by execution, in order: the totals collect's, then the
      // write's one action's
      val ran = drainToMarker(jobs)
      val byExecution = ran.distinct.map(x => x -> ran.count(_ == x))
      assert(byExecution.size == 2 && byExecution.last._2 == 1, byExecution)
      // every node of the write's plan above the cached relation,
      // including those inside adaptive plans and query stages
      def above(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => above(a.executedPlan)
        case q: QueryStageExec => above(q.plan)
        case _: InMemoryTableScanExec => Nil
        case _ => p.children.flatMap(above)
      })
      val write = above(executions.last.executedPlan)
      assert(write.exists(_.isInstanceOf[InMemoryTableScanExec]), write.map(_.nodeName))
      assert(!write.exists(p => p.isInstanceOf[ShuffleExchangeLike] ||
        p.isInstanceOf[WindowExec]), write.map(_.nodeName))
    } finally {
      spark.listenerManager.unregister(planListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }

  test("BigBugData.write over 33 report paths lists them on the driver: " +
      "no \"Listing leaf files\" job") {
    val dir = Files.createTempDirectory("graft_listing")
    val paths = (1 to 33).map(i => writeReport(dir, s"L${i}_report.tsv", Seq(
      "50.0\t500\t500\t0\t0\t0\t0\tunclassified\tunclassified",
      "50.0\t500\t500\t9\t0\t0\t1\troot\troot",
      s"0.1\t$i\t$i\t10\t1.0\t0.5\t10\tspecies\tTen")))
    val descriptions = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descriptions.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    // listener events arrive in order: the job starts before the marker
    // job's are exactly the write's
    def marker(): Unit = {
      spark.sparkContext.setJobDescription("graft_marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    def drainToMarker(): Seq[String] =
      Iterator.continually(descriptions.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(d => d != null && d != "graft_marker").toList
    spark.sparkContext.addSparkListener(listener)
    try {
      marker()
      drainToMarker()
      BigBugData.write(spark, BigBugData.Params(paths,
        Files.createTempDirectory("graft_listing_out").toString))
      marker()
      val jobs = drainToMarker()
      assert(jobs.nonEmpty)
      assert(!jobs.exists(_.startsWith("Listing leaf files")), jobs)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("CsvSink ships no line through the task results and merges the " +
      "partitions' runs in key order") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    // 4 partitions of ~400-byte hard-to-compress lines under a permuted
    // k1, plus one null k1
    val k1 = coalesce(col("k1"), lit(-1L))
    val lines = spark.range(0, 20000, 1, 4)
      .select(((col("id") * 7919) % 20000).as("k1"))
      .union(spark.range(1).select(lit(null).cast("long")))
      .select(col("k1"),
        concat(coalesce(col("k1").cast("string"), lit("null")) +: lit(",") +:
          (0 until 6).map(i => sha2((k1 * 6 + i).cast("string"), 256)): _*)
          .as("line"))
    val resultBytes = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == "graft_marker")
          resultBytes.put(-1L)
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) resultBytes.put(e.taskMetrics.resultSize)
    }
    // listener events arrive in order: the task ends before the marker
    // job's start are exactly the write's
    def marker(): Unit = {
      spark.sparkContext.setJobDescription("graft_marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    def drainToMarker(): Seq[Long] =
      Iterator.continually(resultBytes.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(b => b != null && b != -1L).map(_.longValue).toList
    val target = Files.createTempDirectory("graft_runs").resolve("out.csv")
    spark.sparkContext.addSparkListener(listener)
    try {
      marker()
      drainToMarker()
      graft.io.CsvSink.writeTagged(lines, Seq(target.toString -> Seq("k1", "pad")))
      marker()
      val shipped = drainToMarker().sum
      val csvBytes = Files.size(target)
      assert(csvBytes > 7000000L)
      assert(shipped < csvBytes / 100,
        s"$shipped result bytes for a $csvBytes-byte CSV")
    } finally spark.sparkContext.removeSparkListener(listener)
    val got = Files.readAllLines(target).asScala.toSeq
    assert(got.head == "k1,pad")
    assert(got.tail.map(_.takeWhile(_ != ',')) ==
      ("null" +: (0 until 20000).map(_.toString)))
  }

  test("wide sink: sample names with dots and backticks are taken by position") {
    val s2 = spark; import s2.implicits._
    import graft.schema.ReportSchema.{TaxId, TaxName}
    val samples = Seq("a.b", "c`d", "e")
    // organism rows: one array slot per sample, in `samples` order
    val grid = Seq((2L, "n2", 5L, Seq(1L, 2L, 3L), Seq(0.5, 1.5, 2.5)),
      (1L, "n1", 4L, Seq(4L, 5L, 6L), Seq(3.5, 4.5, 5.5)))
      .toDF(TaxId, TaxName, "total_reads_organism", "r", "q")
    val header = Seq(TaxId, TaxName, "Total # of Reads") ++ samples
    val dir = Files.createTempDirectory("graft_dots")
    graft.io.CsvSink.writeTagged(BigBugData.wideLines(grid, Seq("r", "q"), samples.indices),
      Seq(s"$dir/r.csv" -> header, s"$dir/q.csv" -> header))
    def read(f: String) = new String(Files.readAllBytes(dir.resolve(f)), "UTF-8")
    assert(read("r.csv") ==
      "taxID,taxName,Total # of Reads,a.b,c`d,e\n1,n1,4,4,5,6\n2,n2,5,1,2,3\n")
    assert(read("q.csv") ==
      "taxID,taxName,Total # of Reads,a.b,c`d,e\n1,n1,4,3.5,4.5,5.5\n2,n2,5,0.5,1.5,2.5\n")
  }

  test("wide sink golden bytes: CSV dialect on hard cells") {
    val s2 = spark; import s2.implicits._
    import graft.schema.ReportSchema.{TaxId, TaxName}
    val samples = Seq("s1", "s2", "s3")
    // taxNames exercising the full CSV dialect: delimiter, quote,
    // backslash-with-quote, empty string, padded whitespace; doubles
    // exercising scientific notation and many digits
    val grid = Seq(
      (1L, "plain name", 7L, Seq(0.5, 1.0E7, 0.1 + 0.2)),
      (2L, "has,comma", 9L, Seq(1.0, -3.25, 123456789.123456)),
      (3L, "q\"uote \\ba,ck", 0L, Seq(0.0, 2.0, 4.5)),
      (4L, "", 3L, Seq(1.5, 2.5, 3.5)),
      (5L, "  padded  ", 2L, Seq(9.0, 8.0, 7.0)),
      (6L, null, 1L, Seq(Double.NaN, Double.PositiveInfinity, -0.0)))
      .toDF(TaxId, TaxName, "total_reads_organism", "v")
    val header = Seq(TaxId, TaxName, "Total # of Reads") ++ samples
    val path = Files.createTempDirectory("graft_golden").resolve("p.csv")
    graft.io.CsvSink.writeTagged(BigBugData.wideLines(grid, Seq("v"), samples.indices),
      Seq(path.toString -> header))
    // quote only on delimiter/quote (escape `\`), `""` for the empty
    // string, nothing for null, padding kept, doubles in Java's toString
    // form; every line is what Spark's CSV writer produced for these rows
    // before the sink rendered lines itself
    val expected = Seq(
      "taxID,taxName,Total # of Reads,s1,s2,s3",
      "1,plain name,7,0.5,1.0E7,0.30000000000000004",
      "2,\"has,comma\",9,1.0,-3.25,1.23456789123456E8",
      "3,\"q\\\"uote \\\\ba,ck\",0,0.0,2.0,4.5",
      "4,\"\",3,1.5,2.5,3.5",
      "5,  padded  ,2,9.0,8.0,7.0",
      "6,,1,NaN,Infinity,-0.0").mkString("", "\n", "\n")
    val got = new String(Files.readAllBytes(path), "UTF-8")
    assert(got == expected, s"wide sink bytes changed:\n$got")
  }
}
