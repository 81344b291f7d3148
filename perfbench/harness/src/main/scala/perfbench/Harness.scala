package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.catalog._
import graft.pipeline.BigBugData

/** One benchmark run in one JVM, driven by `perfbench/run.py`.
  *
  *   perfbench.Harness mode=pipeline|catalog out=<result.json>
  *     work=<dir> seconds=<s> trace=0|1 cores=<n> seed=<n>
  *     [reports=<file of report paths> groups=NC:GROUP,...]   (pipeline)
  *     [sf=<corpus dir>]                                      (catalog)
  *
  * The program is driven only through its public entry points:
  * `graft.SparkEnv.builder`, `BigBugData.write` and the catalog modules'
  * `queries`. Operations run one after another (a closed loop with one
  * client). The first pass over the workload's operations is the cold
  * pass; after an untimed warm-up, timed warm operations repeat until
  * `seconds` have been measured.
  * Nothing but session set-up runs in the JVM before the cold pass. Raw
  * timings go to `out` as JSON; run.py turns them into metrics.
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val mode = args("mode")
    val cores = args("cores").toInt
    val spark = graft.SparkEnv.builder(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the corpus's events table is TIMESTAMP(NANOS); set as graft.Verify
      // does, so query order cannot decide whether it is readable
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val readyEpochS = epochS()
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    val result = mutable.LinkedHashMap[String, Any](
      "ready_epoch_s" -> readyEpochS, "session_s" -> sessionS)
    try {
      val work = Paths.get(args("work"))
      val trace = args("trace") == "1"
      val tracer = if (trace) Some(new Tracer(spark, cores)) else None
      val run = new Run(spark, tracer, cores, args("seconds").toDouble)
      mode match {
        case "pipeline" => run.pipeline(work,
          Files.readAllLines(Paths.get(args("reports"))).asScala.toSeq,
          args("groups").split(",").filter(_.nonEmpty).toSeq.map { g =>
            val Array(nc, grp) = g.split(":", 2); nc -> grp })
        case "catalog" => run.catalog(work, args("sf"), args("seed").toLong)
      }
      result ++= run.result
      result ++= env(spark, cores, "after")
    } finally spark.stop()
    result("peak_rss_kb") = vmHwmKb()
    Files.writeString(Paths.get(args("out")), toJson(result) + "\n")
  }

  def toJson(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)

  def epochS(): Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9
  }

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  /** recorded environment: load average and a bandwidth sentinel (a fixed
    * aggregate over a generated range, min of 3), so a run shaded by other
    * work on the machine identifies itself */
  def env(spark: SparkSession, cores: Int, when: String): Map[String, Any] = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val probe = spark.range(0L, 20000000L, 1L, cores)
      .selectExpr("sum(id * 7 % 13) AS a", "avg(id % 1000) AS b", "max(id ^ 5) AS c")
    val sentinel = (1 to 3).map { _ =>
      val t = System.nanoTime()
      probe.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }.min
    Map(s"load_$when" -> os.getSystemLoadAverage, s"sentinel_${when}_s" -> sentinel,
      "cpus" -> os.getAvailableProcessors, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20))
  }

  /** The catalog workload, tagged with each query's module: every 64th
    * query by name, plus one caller of each graft.operators object but
    * ConnectedComponents, whose caller (d11_dedup_clusters) would add about
    * 13 s to a run that the run budget cannot spare. Seven queries: with
    * an odd count the median warm latency is one query's own time, not
    * the midpoint of a gap between two. The e2e, scripts and warehouse
    * modules and four staging queries read or write fixed paths outside
    * the corpus directory, and a run stays inside its own working tree, so
    * they are left out. */
  val queries: Seq[(String, QueryDef)] = {
    val modules = Seq(
      "relational" -> Relational.queries, "events" -> Events.queries,
      "textdocs" -> TextDocs.queries, "vectors" -> Vectors.queries,
      "approx" -> Approx.queries, "extended" -> Extended.queries,
      "typedops" -> TypedOps.queries, "graph" -> Graph.queries)
    val fixedPaths = Set("q16_json", "q61_json_source", "q53_schema_evolution",
      "q65_compaction")
    val operatorCallers = Set("q78_winsorize", "g1_pagerank", "q45_asof_forward",
      "q42_salted_skew_agg")
    val chosen = modules.flatMap { case (m, qs) => qs.map(m -> _) }
      .filterNot { case (_, q) => fixedPaths(q.name) }
      .sortBy(_._2.name).zipWithIndex
      .collect { case (mq, i) if i % 64 == 0 || operatorCallers(mq._2.name) => mq }
    require(operatorCallers.subsetOf(chosen.map(_._2.name).toSet))
    chosen
  }
}

private final class Run(spark: SparkSession, tracer: Option[Tracer], cores: Int,
    seconds: Double) {
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val traces = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private var nextOp = 0

  def result: Map[String, Any] = extra.toMap ++ Map("ops" -> ops.toSeq,
    "traces" -> traces.toSeq, "spans" -> spans.toSeq, "heap_retained_mb" -> retainedMb)

  private val tracing = tracer.isDefined
  private def elapsed(t0: Long) = (System.nanoTime() - t0) / 1e9
  private def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; elapsed(t0) }

  /** Time one operation; `phase` is "cold", "warmup" or "warm". A failure is
    * recorded, not thrown. */
  private def op(name: String, group: String, phase: String, trace: Boolean)
      (body: => Unit): Unit = {
    val id = nextOp; nextOp += 1
    val start = System.currentTimeMillis()
    var err: String = null
    val t = try tracer.fold(timed(body))(_.run(id, trace)(body))
      catch { case e: Throwable => err = e.toString; -1.0 }
    // the operation's own end: tracing drains the listener bus after it
    val end = if (t >= 0) start + math.round(t * 1000) else System.currentTimeMillis()
    if (err != null) System.err.println(s"[perfbench] $name FAILED: $err")
    ops += Map("id" -> id, "name" -> name, "group" -> group, "phase" -> phase,
      "s" -> (if (t >= 0) t else (end - start) / 1e3), "ok" -> (err == null), "error" -> err,
      "traced" -> (tracing && trace))
    if (tracing && trace) tracer.foreach { tr =>
      val cacheMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
      traces += tr.summary(id, start, end, cacheMb) ++ Map("id" -> id, "phase" -> phase)
      spans ++= tr.spans(id, name, start, end)
    }
    hygiene()
  }

  /** heap the session retains after a pass, once its cached data is
    * dropped: measured after a full GC, peak over the run. Each GC lets the
    * ContextCleaner drop blocks of collected broadcasts, shuffles and RDDs,
    * and the next GC collects what it freed, so GCs repeat until the heap
    * stops shrinking. */
  private def retainedHeap(): Unit = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def usedMb() = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = usedMb()
    var now = last
    var rounds = 0
    do {
      Thread.sleep(300)
      last = now; now = usedMb(); rounds += 1
    } while (last - now > 0.5 && rounds < 10)
    retainedMb = math.max(retainedMb, now)
  }
  private var retainedMb = 0.0

  /** between operations, untimed: drop cached blocks and non-pinned
    * persisted RDDs (as graft.Bench does), so each operation starts from
    * the same storage state */
  private def hygiene(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !PinnedCheckpoints.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
  }

  /** Time the cold pass and stamp its end: set-up, as run.py reports it,
    * runs from the JVM's launch to here. */
  private def coldPass(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    extra("cold_pass_s") = elapsed(t0)
    extra("cold_end_epoch_s") = Harness.epochS()
  }

  /** Pipeline: repeat one batch of `reports`, each into a fresh directory.
    * Traced runs make whole A-B-B-A blocks of traced (A) and untraced (B)
    * batches, so the tracing overhead is not confounded with warm-up. */
  def pipeline(work: Path, reports: Seq[String], groups: Seq[(String, String)]): Unit = {
    val outRoot = work.resolve("out")
    val shas = mutable.LinkedHashMap.empty[String, Map[String, String]]
    def batch(i: Int, phase: String, trace: Boolean): Unit = {
      val dir = outRoot.resolve(f"batch_$i%04d")
      op("batch", "pipeline", phase, trace) {
        BigBugData.write(spark, BigBugData.Params(reports, dir.toString,
          groupPatterns = groups))
      }
      shas(i.toString) = Seq("combined", "rrpm", "tophits").map { k =>
        val f = dir.resolve(s"${k}_species.csv")
        k -> (if (Files.exists(f)) sha256(f) else "missing")
      }.toMap
      if (i > 0) deleteTree(dir)
    }
    coldPass(batch(0, "cold", trace = true))
    retainedHeap()
    extra ++= Harness.env(spark, cores, "before")
    // one untimed warm-up batch: the first batch after the cold one still
    // ran 15-25% slower than the ones after it, as JIT compilation caught up
    batch(1, "warmup", trace = false)
    val warmT0 = System.nanoTime()
    var i = 2
    while (elapsed(warmT0) < seconds || i <= 4 || (tracing && (i - 2) % 4 != 0)) {
      batch(i, "warm", (i - 2) % 4 == 0 || (i - 2) % 4 == 3); i += 1
    }
    retainedHeap()
    extra("sha") = shas
  }

  def catalog(work: Path, sfDir: String, seed: Long): Unit = {
    val chosen = Harness.queries
    val index = chosen.map(_._2.name).zipWithIndex.toMap
    def order(pass: Int) = new scala.util.Random(seed * 1000003L + pass).shuffle(chosen)
    def run(q: QueryDef): Unit =
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // cold pass: each query's first run in this JVM. It runs in name
    // order: which query runs first decides how much JIT and class loading
    // each one pays, and that must not vary with the seed.
    coldPass(chosen.foreach { case (m, q) => op(q.name, m, "cold", trace = true)(run(q)) })
    retainedHeap()
    extra ++= Harness.env(spark, cores, "before")
    extra("queries") = chosen.map(_._2.name)
    // two untimed warm-up passes, so the timed passes do not measure how
    // far JIT compilation has got (after the cold pass, each pass still
    // ran 10-25% faster than the one before). The first writes every
    // result as parquet through the same plan the timed passes run, for
    // run.py to check against the DuckDB oracles (a query that fails here
    // has no dump, and the check fails it); it runs in name order, so the
    // heap read after it does not depend on the seed's query order.
    val dump = Files.createDirectories(work.resolve("dump"))
    untimed(chosen)(q => q.fn(spark, sfDir).write.mode("overwrite")
      .parquet(dump.resolve(q.name).toString))
    retainedHeap()
    untimed(order(0))(run)
    // timed passes, at least three, each in a fresh seeded order, until
    // `seconds` elapse; traced runs make pairs of passes in which each
    // query runs once traced and once untraced
    val warmT0 = System.nanoTime()
    var pass = 1
    while (elapsed(warmT0) < seconds || pass <= 3 || (tracing && pass % 2 == 0)) {
      order(pass).foreach { case (m, q) =>
        op(q.name, m, "warm", (index(q.name) + pass) % 2 == 0)(run(q))
      }
      pass += 1
    }
    val oracles = chosen.flatMap { case (_, q) => q.oracle.map(q.name -> _.replace(
      Extended.JsonStageToken, Extended.jsonStageDir(sfDir))) }.toMap
    Files.writeString(dump.resolve("oracle_sql.json"), Harness.toJson(oracles))
  }

  /** Run each query once outside the timed region; a failure is logged. */
  private def untimed(qs: Seq[(String, QueryDef)])(body: QueryDef => Unit): Unit =
    qs.foreach { case (_, q) =>
      try body(q)
      catch { case e: Exception => System.err.println(s"[perfbench] ${q.name} untimed run FAILED: $e") }
      hygiene()
    }

  private def sha256(f: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(f)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def deleteTree(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.deleteIfExists(_))
    finally walk.close()
  }
}
