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

  /** (taxID, sample) → reads, None where the cell's reads are null */
  private def cells(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Option[Long]] =
    df.collect().map(r => (r.getAs[Long]("taxID"), r.getAs[String]("sample")) ->
      Option(r.getAs[java.lang.Long]("reads")).map(_.longValue)).toMap

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
      assert(cells(spark.table("rc")) ==
        Map((10L, "S1") -> Some(5L), (10L, "S2") -> Some(7L), (20L, "S2") -> Some(3L)))

      // a new sample lands: state extends without reprocessing S1/S2; as
      // in the batch scan, its non-numeric reads cell is null and its
      // space-padded one is a number
      writeReport(dir, "S3_r.tsv", Seq("0.1\t9\t9\t90\t1\t0.5\t20\tspecies\tB",
        "0.1\tnine\t9\t90\t1\t0.5\t30\tspecies\tC",
        "0.1\t 4\t4\t40\t1\t0.5\t40\tspecies\tD"))
      q.processAllAvailable()
      val round2 = cells(spark.table("rc"))
      assert(round2((20L, "S3")).contains(9L) && round2((30L, "S3")).isEmpty &&
        round2((40L, "S3")).contains(4L) && round2.size == 6)
    } finally q.stop()

    // final streaming state == batch pipeline scan+aggregate on the same dir
    val paths = Seq("S1_r.tsv", "S2_r.tsv", "S3_r.tsv").map(n => s"$dir/$n")
    val batch = cells(graft.ops.TaxaOps.cellCounts(graft.ops.TaxaOps.taxaRows(
      graft.io.ReportReader.readReports(spark, paths), "species")))
    assert(cells(spark.table("rc")) == batch)
  }
}
