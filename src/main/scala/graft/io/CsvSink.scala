package graft.io

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CSV sinks (reference K1/K2): fixed column order, header row, ONE file
  * per output (`csv.DictWriter`, `bigbugdata.py:208–222`).
  *
  * The single-file contract is met WITHOUT collapsing the job to one
  * task: the frame is written headerless by however many tasks the plan
  * produced (a sorted upstream is range-partitioned, so part-file name
  * order IS global row order), then the driver streams the parts into the
  * target in name order behind a header line it writes itself. Every
  * upstream stage — including the final sort — keeps full parallelism;
  * the only sequential step is a byte copy, which is I/O-bound and cheap
  * relative to a one-task pivot+sort+stringify (the round-3 measured
  * bottleneck: ~123 s of a 260 s run at 40M cells). [[writeSingleCsv]] is
  * the one sink: all three pipeline outputs go through it.
  */
object CsvSink {

  /** header cell quoting, matching Spark's CSV writer (Univocity,
    * default quote `"`, escape `\`): quote iff the value contains a
    * delimiter, quote, or line break — so the driver-written header is
    * byte-identical to what `option("header", "true")` would have
    * produced. */
  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    else s

  /** K1: write `df` with exactly `fieldnames` in order to a single CSV. */
  def writeSingleCsv(df: DataFrame, fieldnames: Seq[String], target: String): Unit = {
    val tmp = Files.createTempDirectory("graft_csv")
    df.select(fieldnames.map(col): _*)
      .write.mode("overwrite").option("header", "false")
      // Spark's CSV writer TRIMS cell whitespace by default; the
      // reference's csv.DictWriter emits values verbatim (`  name  `
      // stays padded — filter_reports passthrough), so trimming is
      // disabled here and any trim the pipeline wants (F4) happens
      // upstream as an explicit expression.
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(tmp.toString)
    concatParts(tmp, fieldnames, target)
  }

  /** stream the sorted part files into `target` behind the header line */
  private def concatParts(tmp: Path, fieldnames: Seq[String],
      target: String): Unit = {
    val partStream = Files.list(tmp)
    val parts =
      try partStream.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.sortBy(_.getFileName.toString)
      finally partStream.close()
    val dest = Paths.get(target)
    if (dest.getParent != null) Files.createDirectories(dest.getParent)
    val out = Files.newOutputStream(dest, StandardOpenOption.CREATE,
      StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
    try {
      out.write((fieldnames.map(csvCell).mkString(",") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      parts.foreach(p => Files.copy(p, out))
    } finally out.close()
    deleteRecursively(tmp)
  }

  private def deleteRecursively(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** K2: output layout `{out}/combined_{rank}.csv` etc.
    * (`bigbugdata.py:19–32`). */
  def outputPaths(resultsDir: String, rank: String): (String, String, String) = {
    Files.createDirectories(Paths.get(resultsDir))
    (s"$resultsDir/combined_$rank.csv",
      s"$resultsDir/rrpm_$rank.csv",
      s"$resultsDir/tophits_$rank.csv")
  }
}
