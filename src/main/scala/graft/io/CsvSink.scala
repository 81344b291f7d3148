package graft.io

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, StructsToCsv}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** CSV sinks (reference K1/K2/K3): fixed column order, header row, ONE
  * file per output (`csv.DictWriter`, `bigbugdata.py:208–222`).
  *
  * A sink is two halves. [[line]] renders a row's cells into one CSV line
  * inside the executors, with Spark's own CSV generator (`to_csv`, the
  * generator behind `DataFrameWriter.csv`) under the writer options the
  * sink has always used, so quoting, escaping and number formatting are
  * the CSV writer's ([[lines]] runs the same generator on the driver).
  * ONE action ([[writeTagged]], [[withLines]]) then has every task spill
  * its partition's lines, per output, into a local run file, sorted
  * within the partition where the output has an order. The driver merges
  * each output's runs (a k-way merge: one open stream and one pending
  * line per run) into the target behind a header line it renders itself
  * ([[csvCell]]). No range-sampling job, no exchange for a global sort,
  * no committed part files.
  *
  * Driver memory: no line reaches the driver through the task results
  * (a task returns only its [[Side]] result, if any), so
  * `spark.driver.maxResultSize` never applies to the lines and the
  * driver holds one pending line per run, not the outputs. The runs live
  * in a temporary directory that the tasks and the driver must both see
  * (one machine, or a shared file system), as the part files of the old
  * concatenating sink did; it is deleted after the write.
  */
object CsvSink {

  /** Spark's CSV writer TRIMS cell whitespace by default; the reference's
    * csv.DictWriter emits values verbatim (`  name  ` stays padded —
    * filter_reports passthrough), so trimming is disabled here and any
    * trim the pipeline wants (F4) happens upstream as an explicit
    * expression. */
  private val options = Map(
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false").asJava

  /** header cell quoting, matching Spark's CSV writer (Univocity,
    * default quote `"`, escape `\`): quote iff the value contains a
    * delimiter, quote, or line break — so the driver-written header is
    * byte-identical to what `option("header", "true")` would have
    * produced. */
  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    else s

  /** one CSV line (no terminator) of `cells`, in order */
  def line(cells: Seq[Column]): Column = to_csv(struct(cells: _*), options)

  /** `rows` (of `schema`) as CSV lines, rendered on the driver by the
    * expression [[line]] compiles to, so the bytes are `to_csv`'s; runs
    * no job */
  def lines(schema: StructType, rows: Seq[InternalRow]): Iterator[Array[Byte]] = {
    val toCsv = StructsToCsv(options.asScala.toMap,
      BoundReference(0, schema, nullable = false), Some(SQLConf.get.sessionLocalTimeZone))
    rows.iterator.map(r => toCsv.eval(InternalRow(r)).asInstanceOf[UTF8String].getBytes)
  }

  /** ONE action over `df`'s partitions, in Catalyst's row format (a row
    * is reused for the next: copy what is kept): `f` maps a task's rows
    * to its result rows, which are collected on the driver. Listeners see
    * a "collect" of `df`. */
  def collectPartitions(df: DataFrame)(
      f: Iterator[InternalRow] => Iterator[InternalRow]): Array[InternalRow] =
    SQLExecution.withNewExecutionId(df.queryExecution, Some("collect")) {
      df.queryExecution.toRdd.mapPartitions(f).collect()
    }

  /** A task's fold over the rows it spills (all of the tagged frame's
    * columns, in partition order): [[writeTagged]] offers it each row,
    * then ships its result rows to the driver as the task's result. */
  trait Side {
    def offer(r: InternalRow): Unit
    def result: Iterator[InternalRow]
  }

  private object NoSide extends Side {
    def offer(r: InternalRow): Unit = ()
    def result: Iterator[InternalRow] = Iterator.empty
  }

  /** K1 for several outputs in ONE action. `tagged` has the column
    * (k1: Long), then one line column (String) per output: a row's i-th
    * line, unless null, goes to `outputs(i)._1` behind the header
    * `outputs(i)._2`, each output's lines in k1 order (null k1 first, as
    * `orderBy` ascending puts it). An output without lines
    * gets the header alone. The same action folds each task's rows into
    * a `side()` (columns after the line columns are the side's alone)
    * and returns every task's [[Side]] result rows; they are collected on
    * the driver, so keep them small. */
  def writeTagged(tagged: DataFrame, outputs: Seq[(String, Seq[String])],
      side: () => Side = () => NoSide): Array[InternalRow] =
    withRuns(tagged.sortWithinPartitions("k1"), outputs.size, side) {
      (runs, results) =>
        outputs.zipWithIndex.foreach { case ((target, header), i) =>
          writeLines(target, header, merge(runs(i)))
        }
        results
    }

  /** K3 in ONE action: `df`'s rows (columns by position) as CSV lines in
    * partition order, handed to `sink` only when there is at least one;
    * returns whether there was. */
  def withLines(df: DataFrame)(sink: Iterator[Array[Byte]] => Unit): Boolean = {
    // columns renamed by position, so no name (a sample name may hold
    // dots or backticks) is ever parsed as a reference
    val pos = df.toDF(df.columns.indices.map(i => s"_$i"): _*)
    withRuns(pos.select(lit(0L).as("k1"),
        line(pos.columns.toSeq.map(col)).as("line")), 1) {
      (runs, _) =>
        val lines = runs(0).iterator.flatMap(r =>
          Iterator.unfold(())(_ => if (r.advance()) Some((r.line, ())) else None))
        val any = lines.hasNext
        if (any) sink(lines)
        any
    }
  }

  /** `lines` into `target` behind the header line */
  def writeLines(target: String, header: Seq[String],
      lines: Iterator[Array[Byte]]): Unit = {
    val dest = Paths.get(target)
    if (dest.getParent != null) Files.createDirectories(dest.getParent)
    val out = Files.newOutputStream(dest)
    try emit(out, header, lines) finally out.close()
  }

  /** the header line, then each line, LF-terminated */
  def emit(out: OutputStream, header: Seq[String],
      lines: Iterator[Array[Byte]]): Unit = {
    val w = new BufferedOutputStream(out, 1 << 16)
    w.write(header.map(csvCell).mkString(",").getBytes(UTF_8))
    w.write('\n')
    lines.foreach { l => w.write(l); w.write('\n') }
    w.flush()
  }

  /** Run the ONE action that spills `tagged` (column k1, then `n` line
    * columns; each partition already in k1 order) into run
    * files, then hand `f` an output index's runs in partition order and
    * the tasks' side results. */
  private def withRuns[A](tagged: DataFrame, n: Int, side: () => Side = () => NoSide)(
      f: (Int => Seq[Run], Array[InternalRow]) => A): A = {
    val dir = Files.createTempDirectory("graft_csv")
    val d = dir.toString
    val opened = mutable.ArrayBuffer.empty[Run]
    try {
      val results = collectPartitions(tagged) { rows =>
        val s = side()
        spill(d, n, rows.map { r => s.offer(r); r })
        s.result
      }
      val RunName = """o(\d+)-p(\d+)""".r
      val runs = listDir(dir).flatMap { p =>
        p.getFileName.toString match {
          case RunName(o, part) => Some((o.toInt, part.toInt, p))
          case _ => None
        }
      }
      f(out =>
        runs.filter(_._1 == out).sortBy(_._2).map { case (_, _, p) =>
          val r = new Run(p)
          opened += r
          r
        }, results)
    } finally {
      opened.foreach(_.close())
      listDir(dir).foreach(Files.delete)
      Files.delete(dir)
    }
  }

  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  /** executor side: one run file per output the partition has lines for,
    * records (k1 is null, k1, line length, line bytes); a run is
    * published under its final name only once complete, so a retried task
    * replaces its own runs */
  private def spill(dir: String, n: Int, rows: Iterator[InternalRow]): Unit = {
    val ctx = TaskContext.get()
    val part = ctx.partitionId()
    val runs = new Array[(Path, DataOutputStream)](n)
    try rows.foreach { r =>
      var o = 0
      while (o < n) {
        if (!r.isNullAt(1 + o)) {
          if (runs(o) == null) {
            val tmp = Paths.get(dir, s"o$o-p$part.${ctx.attemptNumber()}.tmp")
            runs(o) = tmp -> new DataOutputStream(
              new BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16))
          }
          val out = runs(o)._2
          out.writeBoolean(r.isNullAt(0))
          out.writeLong(if (r.isNullAt(0)) 0L else r.getLong(0))
          val bytes = r.getUTF8String(1 + o).getBytes
          out.writeInt(bytes.length)
          out.write(bytes)
        }
        o += 1
      }
    } finally runs.foreach(r => if (r != null) r._2.close())
    runs.zipWithIndex.foreach { case (r, o) =>
      if (r != null) Files.move(r._1, Paths.get(dir, s"o$o-p$part"),
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** a run file's cursor: the pending record; the file opens at the
    * first [[advance]] and closes at its end */
  private final class Run(path: Path) {
    private var in: DataInputStream = _
    var k1Null = false
    var k1 = 0L
    var line: Array[Byte] = _
    def advance(): Boolean = {
      if (in == null)
        in = new DataInputStream(
          new BufferedInputStream(Files.newInputStream(path), 1 << 16))
      in.read() match {
        case -1 => close(); false
        case b =>
          k1Null = b != 0
          k1 = in.readLong()
          line = new Array[Byte](in.readInt())
          in.readFully(line)
          true
      }
    }
    def close(): Unit = if (in != null) in.close()
  }

  /** k1, nulls first — the smallest comes first */
  private val runOrder: Ordering[Run] = (a: Run, b: Run) => {
    val c = java.lang.Boolean.compare(!a.k1Null, !b.k1Null)
    if (c == 0) java.lang.Long.compare(a.k1, b.k1) else c
  }

  /** k-way merge of sorted runs: every run open at once, one pending line
    * each */
  private def merge(runs: Seq[Run]): Iterator[Array[Byte]] = {
    val heap = mutable.PriorityQueue.empty[Run](runOrder.reverse)
    runs.foreach(r => if (r.advance()) heap += r)
    new Iterator[Array[Byte]] {
      def hasNext: Boolean = heap.nonEmpty
      def next(): Array[Byte] = {
        val r = heap.dequeue()
        val l = r.line
        if (r.advance()) heap += r
        l
      }
    }
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
