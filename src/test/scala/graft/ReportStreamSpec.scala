package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{EventStreams, ReportStream}

/** Incremental report ingestion: counts update as new sample files land,
  * and the final state equals the batch pipeline's answer. */
class ReportStreamSpec extends SparkSuite {

  private def writeReport(dir: Path, name: String, rows: Seq[String]): Unit =
    Files.writeString(dir.resolve(name), (Seq(
      "# synthetic", "# stream",
      "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName",
      "50.0\t500000\t500000\t0\t0\t0\t0\tunclassified\tunclassified",
      "50.0\t500000\t500000\t10\t0\t0\t1\troot\troot") ++ rows)
      .mkString("", "\n", "\n"))

  test("new sample files incrementally extend totals and counts") {
    val dir = Files.createTempDirectory("graft_stream_reports")
    writeReport(dir, "S1_r.tsv", Seq("0.1\t5\t5\t50\t1\t0.5\t10\tspecies\tA"))
    writeReport(dir, "S2_r.tsv", Seq("0.1\t7\t7\t70\t1\t0.5\t10\tspecies\tA",
      "0.1\t3\t3\t30\t1\t0.5\t20\tspecies\tB"))

    val stream = ReportStream.readReportStream(spark, dir.toString)
    val counts = ReportStream.runningCounts(stream, "species")
    val q = counts.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("rc").start()
    try {
      q.processAllAvailable()
      val round1 = spark.table("rc").collect()
        .map(r => (r.getAs[Long]("taxID"), r.getAs[String]("sample")) ->
          r.getAs[Long]("reads")).toMap
      assert(round1 == Map((10L, "S1") -> 5L, (10L, "S2") -> 7L, (20L, "S2") -> 3L))

      // a new sample lands: state extends without reprocessing S1/S2
      writeReport(dir, "S3_r.tsv", Seq("0.1\t9\t9\t90\t1\t0.5\t20\tspecies\tB"))
      q.processAllAvailable()
      val round2 = spark.table("rc").collect()
        .map(r => (r.getAs[Long]("taxID"), r.getAs[String]("sample")) ->
          r.getAs[Long]("reads")).toMap
      assert(round2((20L, "S3")) == 9L && round2.size == 4)
    } finally q.stop()

    // final streaming state == batch pipeline scan+aggregate on the same dir
    val paths = Seq("S1_r.tsv", "S2_r.tsv", "S3_r.tsv").map(n => s"$dir/$n")
    val batch = graft.ops.TaxaOps.cellCounts(graft.ops.TaxaOps.taxaRows(
      graft.io.ReportReader.readReports(spark, paths), "species"))
      .collect()
      .map(r => (r.getAs[Long]("taxID"), r.getAs[String]("sample")) ->
        r.getAs[Long]("reads")).toMap
    val streamed = spark.table("rc").collect()
      .map(r => (r.getAs[Long]("taxID"), r.getAs[String]("sample")) ->
        r.getAs[Long]("reads")).toMap
    assert(streamed == batch)
  }
}
