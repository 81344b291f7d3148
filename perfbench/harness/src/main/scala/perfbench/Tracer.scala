package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer tracing from outside the program: a SparkListener and a
  * QueryExecutionListener registered on the benchmark's session, plus
  * RuleExecutor metering around each operation.
  *
  * Every operation runs under the local property `perfbench.op`, so jobs,
  * stages and tasks carry the operation that caused them. Only operations
  * started with `traced = true` are recorded; the others run with the
  * listeners installed but idle, which gives the tracing overhead as
  * (traced − untraced) operation time inside one run. Spans stay in memory
  * and are written once, at the end.
  *
  * Each job is attributed to the innermost `graft.<layer>.*` frame of the
  * call site of the SQL execution that owns it (or of its first stage),
  * e.g. `io.CsvSink` or `operators.RankSelect`; jobs called from the
  * benchmark itself (the catalog's noop/parquet sink) are attributed to
  * `sink`.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  private val OpKey = "perfbench.op"

  import Tracer._

  private val lock = new Object
  private val traced = mutable.Set.empty[Int]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.Map.empty[Int, Job]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val execLayer = mutable.Map.empty[Long, String]
  private val stages = mutable.Map.empty[(Int, Int), Stage]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  @volatile private var currentOp = -1

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpKey))).map(_.toInt)
      .filter(traced.contains).getOrElse(-1)

  /** innermost call-site frame in a graft layer package (`graft.<layer>.*`;
    * top-level helpers such as graft.Ckpt are skipped in favour of their
    * caller), as `<layer>.<Object>` */
  private def layerOf(details: String): String =
    details.split("\n").iterator.map(_.trim.takeWhile(_ != '('))
      .map(_.split('.').dropRight(1).mkString(".").split('$').head)
      .find(c => c.startsWith("graft.") && c.count(_ == '.') >= 2)
      .map(_.stripPrefix("graft.")).getOrElse("sink")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val op = opOf(e.properties)
      if (op >= 0) {
        // adaptive query stages run their jobs from a thread pool, so the
        // job's own call site is the pool; the SQL execution that owns the
        // job carries the caller's
        val layer = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(id => execLayer.get(id.toLong))
          .orElse(e.stageInfos.headOption.map(s => layerOf(s.details)))
          .getOrElse("sink")
        val j = Job(op, e.jobId, e.time, layer)
        jobs += j; jobById(e.jobId) = j
        e.stageIds.foreach(stageOp(_) = op)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => lock.synchronized {
        execLayer(x.executionId) = x.rootExecutionId.flatMap(execLayer.get)
          .getOrElse(layerOf(x.details))
      }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobById.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new Stage(op))
        val m = e.taskMetrics
        val dur = e.taskInfo.duration
        s.durations += dur
        if (e.taskInfo.attemptNumber > 0) s.retried = true
        if (m != null) s.delayMs += math.max(0L, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val info = e.stageInfo
      stageOp.get(info.stageId).foreach { op =>
        val s = stages.getOrElseUpdate((info.stageId, info.attemptNumber()), new Stage(op))
        s.tasks = info.numTasks
        if (info.attemptNumber() > 0) s.retried = true
        val m = info.taskMetrics
        s.runMs = m.executorRunTime; s.cpuNs = m.executorCpuTime; s.gcMs = m.jvmGCTime
        s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputRows = m.inputMetrics.recordsRead
        val scopes = info.rddInfos.flatMap(r => r.name +: r.scope.map(_.name).toSeq)
        s.scan = scopes.exists(n => n.contains("FileScanRDD") || n.contains("Scan "))
        s.window = scopes.exists(_.startsWith("Window"))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val op = currentOp
    if (op < 0 || !lock.synchronized(traced.contains(op))) return
    val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    // timing metrics by accumulator id: a cached or reused subplan shows up
    // in several executions of one operation but is counted once
    val t = mutable.Map.empty[Long, (String, Double)]
    walk(qe.executedPlan) { p =>
      val kind = Tracer.kindOf(p.nodeName)
      if (kind.nonEmpty) p.metrics.values.foreach { m =>
        val v = math.max(0L, m.value).toDouble
        if (m.metricType == "timing") t(m.id) = (kind, v / 1e3)
        else if (m.metricType == "nsTiming") t(m.id) = (kind, v / 1e9)
      }
    }
    lock.synchronized { plans += Plan(op, phases, t.toMap) }
  }

  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
    case s: QueryStageExec => walk(s.plan)(f)
    case r: ReusedExchangeExec => walk(r.child)(f)
    case c: InMemoryTableScanExec => f(c); walk(c.relation.cachedPlan)(f)
    case other =>
      f(other)
      other.children.foreach(walk(_)(f))
      other.subqueries.foreach(walk(_)(f))
      other.innerChildren.foreach {
        case c: SparkPlan if !other.children.contains(c) => walk(c)(f)
        case _ => ()
      }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Run `body` as operation `op`; returns its wall time in seconds. The
    * listener bus is drained afterwards (outside the returned time). */
  def run(op: Int, trace: Boolean)(body: => Unit): Double = {
    if (trace) lock.synchronized { traced += op }
    currentOp = op
    spark.sparkContext.setLocalProperty(OpKey, op.toString)
    if (trace) RuleExecutor.resetMetrics()
    val t0 = System.nanoTime()
    try { body; (System.nanoTime() - t0) / 1e9 }
    finally {
      spark.sparkContext.setLocalProperty(OpKey, null)
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      if (trace) rules(op) = (RuleExecutor.getCurrentMetrics(), graftRuleNs())
      currentOp = -1
    }
  }
  private val rules = mutable.Map.empty[Int,
    (org.apache.spark.sql.catalyst.rules.QueryExecutionMetrics, Long)]

  /** nanoseconds spent in graft.* optimizer rules since the last reset */
  private def graftRuleNs(): Long = {
    val row = """^\s*(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r
    RuleExecutor.dumpTimeSpent().split("\n").collect {
      case row(name, _, total, _, _) if name.startsWith("graft.") => total.toLong
    }.sum
  }

  /** Summary of one traced operation spanning [startMs, endMs]. */
  def summary(op: Int, startMs: Long, endMs: Long, cacheMb: Double): Map[String, Any] =
    lock.synchronized {
      val js = jobs.filter(_.op == op).toSeq
      val ss = stages.values.filter(_.op == op).toSeq
      val ps = plans.filter(_.op == op).toSeq
      val planIv = ps.flatMap(_.phases.map(p => (p._2, p._3)))
      val jobIv = js.map(j => (j.start, j.end))
      val wallMs = math.max(1L, endMs - startMs)
      def sec(ms: Double) = ms / 1e3
      val opTimes = ps.flatMap(_.opTime).groupMapReduce(_._1)(_._2) { (a, b) =>
        if (a._2 >= b._2) a else b
      }.values.groupMapReduce(_._1)(_._2)(_ + _)
      val skews = ss.filter(_.durations.size >= 2).map { s =>
        val d = s.durations.sorted
        val med = d(d.size / 2).toDouble
        if (med > 0) d.last / med else 1.0
      }
      val sinkJobs = js.filter(_.layer == "io.CsvSink")
      // driver time after each CsvSink job until the next job (or the end
      // of the operation): file commit + concatenation of the part files,
      // minus any planning of the next query that falls inside the gap
      val concatMs = sinkJobs.map { j =>
        val next = js.filter(_.start >= j.end).map(_.start).minOption.getOrElse(endMs)
        math.max(0L, next - j.end - Tracer.covered(planIv, j.end, next))
      }.sum
      val rm = rules.get(op)
      Map(
        "jobs" -> js.size, "stages" -> ss.size, "tasks" -> ss.map(_.tasks).sum,
        "plan_s" -> sec(Tracer.covered(planIv, startMs, endMs).toDouble),
        "exec_s" -> sec(Tracer.covered(jobIv, startMs, endMs).toDouble),
        "driver_self_s" -> sec((wallMs - Tracer.covered(jobIv ++ planIv, startMs, endMs))
          .max(0L).toDouble),
        "scan_s" -> sec(ss.filter(_.scan).map(_.runMs).sum.toDouble),
        "input_rows" -> ss.map(_.inputRows).sum,
        "sink_s" -> sec(js.filter(j => j.layer == "io.CsvSink" || j.layer == "sink")
          .map(j => j.end - j.start).sum.toDouble),
        "sink_concat_s" -> sec(concatMs.toDouble),
        "aggregate_s" -> opTimes.getOrElse("aggregate", 0.0),
        "window_s" -> (opTimes.getOrElse("window", 0.0) +
          sec(ss.filter(_.window).map(_.runMs).sum.toDouble)),
        "join_s" -> opTimes.getOrElse("join", 0.0),
        "sort_s" -> opTimes.getOrElse("sort", 0.0),
        "exchange_s" -> opTimes.getOrElse("exchange", 0.0),
        "shuffle_bytes" -> ss.map(_.shuffleWrite).sum,
        "spill_bytes" -> ss.map(_.spill).sum,
        "executor_run_s" -> sec(ss.map(_.runMs).sum.toDouble),
        "executor_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
        "gc_s" -> sec(ss.map(_.gcMs).sum.toDouble),
        "scheduler_delay_s" -> sec(ss.map(_.delayMs).sum.toDouble),
        "core_busy_frac" -> ss.map(_.runMs).sum.toDouble / (wallMs.toDouble * cores),
        "task_skew" -> (if (skews.isEmpty) 1.0 else skews.sorted.apply(skews.size / 2)),
        "task_retry_frac" -> (if (ss.isEmpty) 0.0
          else ss.count(_.retried).toDouble / ss.size),
        "cache_mb" -> cacheMb,
        "catalyst_s" -> rm.map(_._1.time / 1e9).getOrElse(0.0),
        "rule_runs" -> rm.map(_._1.numRuns).getOrElse(0L),
        "rule_effective_runs" -> rm.map(_._1.numEffectiveRuns).getOrElse(0L),
        "graft_rules_s" -> rm.map(_._2 / 1e9).getOrElse(0.0),
        "layers_s" -> js.groupMapReduce(_.layer)(j => sec((j.end - j.start).toDouble))(_ + _),
        "layers_jobs" -> js.groupMapReduce(_.layer)(_ => 1)(_ + _))
    }

  /** Spans of one traced operation: the operation, its jobs and planning
    * phases, each with its parent. */
  def spans(op: Int, name: String, startMs: Long, endMs: Long): Seq[Map[String, Any]] =
    lock.synchronized {
      val root = s"op-$op"
      Map("id" -> root, "parent" -> null, "name" -> name, "layer" -> "op",
        "start_ms" -> startMs, "end_ms" -> endMs) +:
        (jobs.filter(_.op == op).map(j => Map[String, Any]("id" -> s"job-${j.id}",
          "parent" -> root, "name" -> s"job ${j.id}", "layer" -> j.layer,
          "start_ms" -> j.start, "end_ms" -> j.end)).toSeq ++
        plans.filter(_.op == op).flatMap(_.phases).zipWithIndex.map { case ((n, s, e), i) =>
          Map[String, Any]("id" -> s"plan-$op-$i", "parent" -> root, "name" -> n,
            "layer" -> "catalyst", "start_ms" -> s, "end_ms" -> e)
        })
    }
}

object Tracer {
  private[perfbench] final case class Job(op: Int, id: Int, start: Long, layer: String) {
    var end: Long = start
  }
  private[perfbench] final class Stage(val op: Int) {
    var tasks = 0; var retried = false
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var delayMs = 0L
    var shuffleWrite = 0L; var spill = 0L; var inputRows = 0L
    var scan = false; var window = false
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private[perfbench] final case class Plan(op: Int, phases: Seq[(String, Long, Long)],
      opTime: Map[Long, (String, Double)])

  /** operator family of a physical node, for SQL-metric timing */
  def kindOf(node: String): String =
    if (node.contains("Aggregate")) "aggregate"
    else if (node.contains("Window")) "window"
    else if (node.contains("Join") || node == "BroadcastExchange") "join"
    else if (node.startsWith("Sort")) "sort"
    else if (node.contains("Exchange") || node.contains("ShuffleRead")) "exchange"
    else ""

  /** milliseconds of [from, to] covered by the union of `iv` */
  def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = iv.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
