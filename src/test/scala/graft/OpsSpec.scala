package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.ops.{FilterOps, Synthesize}
import graft.io.ReportReader

/** Specs for the helper-script ports: semi-join filters
  * (`scripts/filter_*_by_taxid.py`) and report synthesis
  * (`scripts/modify_reports.py`). */
class OpsSpec extends SparkSuite {

  test("totalReads: RNA overrides DNA on sample collision (S6)") {
    val dir = Files.createTempDirectory("graft_tot")
    Files.writeString(dir.resolve("dna.tsv"),
      "S1_L001\tx\t100\nS2_L001\tx\t200\n")
    Files.writeString(dir.resolve("rna.tsv"),
      "S2_L002\tx\t999\nS3_L001\tx\t300\n")
    val totals = Synthesize.totalReads(spark,
      dir.resolve("dna.tsv").toString, dir.resolve("rna.tsv").toString)
      .collect().map(r => r.getAs[String]("sample") -> r.getAs[Long]("total_reads"))
      .toMap
    assert(totals == Map("S1" -> 100L, "S2" -> 999L, "S3" -> 300L))
  }

  test("synthesize: complete reports round-trip through the main pipeline") {
    val dir = Files.createTempDirectory("graft_synth")
    // species-only report (no totals rows), header on line 1 (S2 shape)
    Files.writeString(dir.resolve("S1_L1_report.tsv"),
      "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n" +
        "0.1\t30\t30\t300\t1.0\t0.5\t10\tspecies\tEcoli\n" +
        "0.1\t20\t20\t200\t1.0\t0.5\t20\tspecies\tStaph\n")
    Files.writeString(dir.resolve("totals_dna.tsv"), "S1_L1_x\ty\t100\n")
    Files.writeString(dir.resolve("totals_rna.tsv"), "ZZ_x\ty\t5\n")

    val species = ReportReader.readReports(spark,
      Seq(dir.resolve("S1_L1_report.tsv").toString))
    val totals = Synthesize.totalReads(spark,
      dir.resolve("totals_dna.tsv").toString,
      dir.resolve("totals_rna.tsv").toString)
    val outDir = Files.createTempDirectory("graft_synth_out").toString
    val written = Synthesize.writeCompleteReports(spark, species, totals, outDir,
      clock = () => new java.util.Date(0L))
    assert(written == Seq(s"$outDir/S1_L1_species-level-report.tsv"))

    val lines = Files.readAllLines(Paths.get(written.head))
    assert(lines.get(0).startsWith("# kraken2"))
    assert(lines.get(1).startsWith("# Thu Jan 01"))  // injected clock
    assert(lines.get(2).startsWith("%\treads"))
    // total 100, classified 50 → unclassified 50 (50.0000%), root kmers 500
    assert(lines.get(3) == "50.0000\t50\t50\t0\t0\t0\t0\tunclassified\tunclassified")
    assert(lines.get(4) == "50.0000\t50\t50\t500\t0\t0\t1\troot\troot")

    // round-trip: the synthesized report feeds the main pipeline
    val rt = ReportReader.readReports(spark, Seq(written.head))
    val tot = graft.ops.TaxaOps.sampleTotals(rt).collect()
    assert(tot.head.getAs[Long]("total_reads") == 100L)
  }

  test("synthesize: all-non-species report still gets a file (0-read root)") {
    val dir = Files.createTempDirectory("graft_zerospec")
    Files.writeString(dir.resolve("Z1_L1_report.tsv"),
      "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n" +
        "0.1\t80\t80\t10\t1.0\t0.5\t10\tgenus\tEnterobacteriaceae\n")
    Files.writeString(dir.resolve("d.tsv"), "Z1_L1_x\ty\t40\n")
    Files.writeString(dir.resolve("r.tsv"), "ZZ_x\ty\t5\n")
    val species = ReportReader.readReports(spark,
      Seq(dir.resolve("Z1_L1_report.tsv").toString))
    val totals = Synthesize.totalReads(spark,
      dir.resolve("d.tsv").toString, dir.resolve("r.tsv").toString)
    val outDir = Files.createTempDirectory("graft_zerospec_out").toString
    val written = Synthesize.writeCompleteReports(spark, species, totals, outDir)
    val lines = Files.readAllLines(Paths.get(written.head))
    // reference writes the file anyway: full unclassified + 0-read root,
    // and the genus row is NOT echoed (`modify_reports.py:77–140`)
    assert(lines.get(3) == "100.0000\t40\t40\t0\t0\t0\t0\tunclassified\tunclassified")
    assert(lines.get(4) == "0.0000\t0\t0\t0\t0\t0\t1\troot\troot")
    assert(lines.size == 5)
  }

  test("synthesize: clamps negative unclassified to 0 and drops the row") {
    val dir = Files.createTempDirectory("graft_clamp")
    Files.writeString(dir.resolve("S9_L1_report.tsv"),
      "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n" +
        "0.1\t80\t80\t10\t1.0\t0.5\t10\tspecies\tEcoli\n")
    Files.writeString(dir.resolve("d.tsv"), "S9_L1_x\ty\t50\n") // 80 > 50
    Files.writeString(dir.resolve("r.tsv"), "ZZ_x\ty\t5\n")
    val species = ReportReader.readReports(spark,
      Seq(dir.resolve("S9_L1_report.tsv").toString))
    val totals = Synthesize.totalReads(spark,
      dir.resolve("d.tsv").toString, dir.resolve("r.tsv").toString)
    val outDir = Files.createTempDirectory("graft_clamp_out").toString
    val written = Synthesize.writeCompleteReports(spark, species, totals, outDir)
    val lines = Files.readAllLines(Paths.get(written.head))
    // no unclassified row (0 reads) — first data row is root
    assert(lines.get(3).contains("\troot\t"))
  }

  test("filterByTaxids: string-keyed semi join (J4/P6)") {
    val dir = Files.createTempDirectory("graft_taxids")
    Files.writeString(dir.resolve("taxids.csv"), "taxID,name\n10,a\n30,c\n")
    import spark.implicits._
    val df = Seq((10L, "x"), (20L, "y"), (30L, "z")).toDF("taxID", "v")
    val taxids = FilterOps.readTaxids(spark, dir.resolve("taxids.csv").toString)
    val got = FilterOps.filterByTaxids(df, taxids)
      .collect().map(_.getAs[Long]("taxID")).sorted
    assert(got.toSeq == Seq(10L, 30L))
  }

  test("writeFilteredCsv: empty result writes nothing at all (K3)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_k3")
    val df = Seq((10L, "x")).toDF("taxID", "v")
    assert(FilterOps.writeFilteredCsv(df, s"$dir/some.csv"))
    assert(Files.exists(dir.resolve("some.csv")))
    assert(!FilterOps.writeFilteredCsv(
      df.filter(org.apache.spark.sql.functions.col("taxID") === 999),
      s"$dir/none.csv"))
    assert(!Files.exists(dir.resolve("none.csv")),
      "empty filter result must not produce a file (not even a header)")
  }

  test("printFilteredCsv: stdout channel emits header+rows, or nothing (K3)") {
    import spark.implicits._
    val df = Seq((10L, "x"), (30L, "z")).toDF("taxID", "v")
    val buf = new java.io.ByteArrayOutputStream()
    val out = new java.io.PrintStream(buf, true, "UTF-8")
    assert(FilterOps.printFilteredCsv(df, out))
    assert(buf.toString("UTF-8") == "taxID,v\n10,x\n30,z\n")
    val empty = new java.io.ByteArrayOutputStream()
    assert(!FilterOps.printFilteredCsv(
      df.filter(org.apache.spark.sql.functions.col("taxID") === 999),
      new java.io.PrintStream(empty, true, "UTF-8")))
    assert(empty.size() == 0, "empty result must emit nothing, not even a header")
  }

  test("CLI -v/--version prints the version and exits cleanly") {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      graft.pipeline.Main.main(Array("--version"))
    }
    assert(buf.toString("UTF-8").trim ==
      s"bigbugdata-spark ${graft.pipeline.Main.Version}")
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2, true, "UTF-8")) {
      graft.pipeline.Main.main(Array("-v"))
    }
    assert(buf2.toString("UTF-8").trim ==
      s"bigbugdata-spark ${graft.pipeline.Main.Version}")
  }

  test("filterReportsByTaxids: first-token sampleName + semi join") {
    val dir = Files.createTempDirectory("graft_frep")
    Files.writeString(dir.resolve("AB_CD_species-level-report.tsv"),
      "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n" +
        "0.1\t30\t30\t300\t1.0\t0.5\t10\tspecies\tEcoli\n" +
        "0.1\t20\t20\t200\t1.0\t0.5\t20\tspecies\tStaph\n")
    Files.writeString(dir.resolve("taxids.csv"), "taxID\n10\n")
    val got = FilterOps.filterReportsByTaxids(spark,
      s"$dir/*_species-level-report.tsv",
      FilterOps.readTaxids(spark, dir.resolve("taxids.csv").toString))
      .collect()
    assert(got.length == 1)
    assert(got.head.getAs[String]("sampleName") == "AB") // first token rule
    // string passthrough: the tool never types a value (DictReader →
    // DictWriter), so taxID comes back as the verbatim input text
    assert(got.head.getAs[String]("taxID") == "10")
  }

  test("CsvSink: pathological header names (quote, comma, backslash) " +
      "match Spark's own CSV writer byte-for-byte") {
    val s2 = spark; import s2.implicits._
    val cols = Seq("plain", "has,comma", "has\"quote", "back\\slash",
      "mix\",\\both")
    val df = Seq(("a", "b", "c", "d", "e")).toDF(cols: _*)
    // ground truth: what option("header", "true") emits for these names
    val refDir = Files.createTempDirectory("graft_hdr_ref")
    df.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(refDir.toString)
    val ref = Files.list(refDir).iterator()
      .asScala.filter(_.getFileName.toString.startsWith("part-"))
      .map(p => new String(Files.readAllBytes(p), "UTF-8"))
      .next()
    val target = Files.createTempDirectory("graft_hdr").resolve("out.csv")
    graft.io.CsvSink.withLines(df)(
      graft.io.CsvSink.writeLines(target.toString, cols, _))
    val got = new String(Files.readAllBytes(target), "UTF-8")
    assert(got == ref,
      s"driver-written header and lines must match Univocity:\n got $got\n ref $ref")
    // and the file round-trips through Spark's reader with the same
    // quote/escape dialect
    val back = spark.read.option("header", "true").csv(target.toString)
    assert(back.columns.toSeq == cols, back.columns.mkString("|"))
  }

  test("Compaction.compact: bin-packs many small files to the byte " +
      "target, preserving content exactly") {
    val s2 = spark; import s2.implicits._
    val root = Files.createTempDirectory("graft_compact").toString
    val df = (0 until 20000).map(i => (i.toLong, s"row $i payload"))
      .toDF("id", "payload")
    df.repartition(32).write.mode("overwrite").parquet(s"$root/small")
    val stats = graft.io.Compaction.compact(
      spark, s"$root/small", s"$root/out", targetBytes = 64L << 10)
    assert(stats.nFilesIn == 32)
    // byte-targeted: more than one output file (input > 64 KB total),
    // but far fewer than the input fragments
    val expected = ((stats.totalBytes + (64L << 10) - 1) / (64L << 10)).toInt
    assert(stats.nFilesOut == math.min(expected, 32),
      s"got ${stats.nFilesOut} files for ${stats.totalBytes} bytes")
    assert(stats.nFilesOut > 1 && stats.nFilesOut < 32)
    // content preservation: same rows, nothing lost or duplicated
    val back = spark.read.parquet(s"$root/out")
    assert(back.count() == 20000)
    assert(back.except(df).isEmpty && df.except(back).isEmpty)
  }

  test("q92 observe(): reject metrics ride the production scan and " +
      "match independent recounts exactly") {
    import org.apache.spark.sql.functions._
    val sf001 = "/root/testdata/sf0.001"
    val (gated, obs) = graft.catalog.Extended.observedGate(spark, sf001)
    gated.collect() // the ONE action; metrics must be available after it
    val m = obs.get
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    assert(m("rows_seen") == li.count())
    val rej = li.filter(col("l_quantity") > 45)
    assert(m("rows_rejected") == rej.count())
    assert(m("rows_rejected").asInstanceOf[Long] > 0,
      "the gate must reject something or the metrics are vacuous")
    val qtyRej = rej.agg(sum(col("l_quantity")
      .cast(org.apache.spark.sql.types.DecimalType(12, 2))))
      .collect().head.getDecimal(0)
    assert(m("qty_rejected").asInstanceOf[java.math.BigDecimal]
      .compareTo(qtyRej) == 0)
  }
}
