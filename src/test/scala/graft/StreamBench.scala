package graft

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.streaming.{DocStreams, VecStreams}

/** Sustained-load throughput/latency measurement for the two streaming
  * ingest gates (the STREAMBENCH evidence SCALE.md cites): split the
  * sf corpus into ~100 files, drive them through the gate one file per
  * micro-batch (maxFilesPerTrigger=1), and record per-batch latency and
  * rows/s from the engine's own progress events. The historical index is
  * read from a parquet table (the durable-table discipline the gates
  * document), not recomputed per batch from raw text.
  *
  * Usage: Test/runMain graft.StreamBench [sfDir] [nBatches]
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val nBatches = if (args.length > 1) args(1).toInt else 100
    val spark = SparkEnv.builder("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = Files.createTempDirectory("graft_streambench").toString

    // ---- corpus staged as nBatches files (one file = one micro-batch)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.repartition(nBatches).write.mode("overwrite")
      .parquet(s"$base/docs_in")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    embs.repartition(nBatches).write.mode("overwrite")
      .parquet(s"$base/vecs_in")

    // ---- durable historical band index (built once, read as a table)
    DocStreams.historySimhashBands(spark, sfDir)
      .write.mode("overwrite").parquet(s"$base/band_index")
    val history = spark.read.parquet(s"$base/band_index")
    val evalVecs = VecStreams.evalVectors(spark, sfDir)
      .localCheckpoint() // the tiny broadcast side, materialized once

    def drive(name: String, out: org.apache.spark.sql.DataFrame): Unit = {
      val batches = ArrayBuffer[(Long, Long)]() // (rows, durationMs)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0)
            batches.synchronized {
              batches += ((e.progress.numInputRows, e.progress.batchDuration))
            }
      }
      spark.streams.addListener(listener)
      val t0 = System.nanoTime()
      val q = out.writeStream.format("noop")
        .option("checkpointLocation", s"$base/cp_$name").start()
      try q.processAllAvailable() finally q.stop()
      val wallS = (System.nanoTime() - t0) / 1e9
      spark.streams.removeListener(listener)
      val snap = batches.synchronized(batches.toVector)
      val rows = snap.map(_._1).sum
      val durs = snap.map(_._2).sorted
      def pct(p: Double) =
        if (durs.isEmpty) 0L else durs(((durs.size - 1) * p).toInt)
      println(f"[streambench] $name%-12s batches=${snap.size}%3d " +
        f"rows=$rows%6d wall_s=$wallS%7.2f rows_per_s=${rows / wallS}%8.1f " +
        f"batch_ms p50=${pct(0.5)}%4d mean=${
          if (durs.isEmpty) 0L else durs.sum / durs.size}%4d " +
        f"p95=${pct(0.95)}%4d max=${durs.lastOption.getOrElse(0L)}%5d")
    }

    def docStream = spark.readStream.schema(DocStreams.docSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/docs_in")
    def vecStream = spark.readStream.schema(VecStreams.vecSchema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/vecs_in")

    // warm pass (JVM/codegen), then the measured pass
    drive("near_dedup_w", DocStreams.incrementalNearDedup(docStream, history))
    drive("near_dedup", DocStreams.incrementalNearDedup(docStream, history))
    drive("decontam_w", VecStreams.decontaminateIngest(vecStream, evalVecs))
    drive("decontam", VecStreams.decontaminateIngest(vecStream, evalVecs))
    spark.stop()
  }
}

/** STREAMBENCH2 — the gates against REAL exactly-once sinks, with a
  * mid-stream kill and restart, so the measured latency includes commit
  * cost and the recovery path (StreamBench's noop sink measures the
  * transform alone):
  *
  *  - `upsert`: the events purchase aggregate feeding
  *    EventStreams.foreachBatchUpsert — versioned-rewrite table, marker
  *    commit, version GC per batch;
  *  - `near_dedup` / `decontam`: the two ingest gates feeding the
  *    per-batch idempotent parquet sink (`out/batch=<id>` with
  *    overwrite — the DocStreams.noveltyGate discipline: a replayed
  *    batch rewrites its own directory, so restart is exactly-once).
  *
  * Each pipeline runs: phase 1 until ~half the micro-batches commit,
  * HARD STOP (q.stop() mid-stream — Spark replays the last uncommitted
  * batch on restart, which the sinks above absorb idempotently), then a
  * restart from the same checkpoint that drains the rest. Reported:
  * sustained rows/s over both phases, p50/p99/max batch ms (commit
  * included), restart recovery ms (restart() call → first batch
  * committed, i.e. offset-log replay + source relisting + batch 0 of
  * phase 2), and an exactly-once verdict vs the batch twin.
  *
  * Usage: Test/runMain graft.StreamBench2 [sfDir] [nBatches]
  */
object StreamBench2 {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val nBatches = if (args.length > 1) args(1).toInt else 60
    val spark = SparkEnv.builder("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = Files.createTempDirectory("graft_streambench2").toString

    // ---- sources staged as nBatches files (one file = one micro-batch)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.repartition(nBatches).write.mode("overwrite").parquet(s"$base/docs_in")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    embs.repartition(nBatches).write.mode("overwrite").parquet(s"$base/vecs_in")
    val events = graft.catalog.Tables.events(spark, sfDir)
    events.repartition(nBatches).write.mode("overwrite").parquet(s"$base/ev_in")

    // ---- durable index / reference sides (built once, table-backed)
    DocStreams.historySimhashBands(spark, sfDir)
      .write.mode("overwrite").parquet(s"$base/band_index")
    val history = spark.read.parquet(s"$base/band_index")
    val evalVecs = VecStreams.evalVectors(spark, sfDir).localCheckpoint()

    def fileStream(dir: String): org.apache.spark.sql.DataFrame =
      spark.readStream
        .schema(spark.read.parquet(dir).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir)

    /** drive `mk(stream)` through two phases with a mid-stream kill at
      * ~half the batches; returns nothing, prints the measurement line */
    def drive(name: String,
        start: () => org.apache.spark.sql.streaming.StreamingQuery,
        verify: () => Boolean): Unit = {
      // keyed by batchId: a batch that completed but had not committed
      // its checkpoint when the phase-1 stop lands is REPLAYED by phase
      // 2 under the SAME batchId (checkpoint resume continues the batch
      // numbering) — appending every progress event would count its
      // rows and duration twice in the sustained rows/s and percentile
      // stats. Replay overwrites its phase-1 entry instead.
      val batches = // batchId -> (rows, durationMs)
        scala.collection.mutable.LinkedHashMap[Long, (Long, Long)]()
      @volatile var firstProgressNs = 0L
      val listener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0) {
            if (firstProgressNs == 0L) firstProgressNs = System.nanoTime()
            batches.synchronized {
              batches(e.progress.batchId) =
                (e.progress.numInputRows, e.progress.batchDuration)
            }
          }
      }
      spark.streams.addListener(listener)
      val killAfter = nBatches / 2
      val t0 = System.nanoTime()
      // phase 1: run until ~half the batches committed, then hard-stop
      val q1 = start()
      while (q1.isActive && batches.synchronized(batches.size) < killAfter)
        Thread.sleep(20)
      q1.stop()
      val phase1 = batches.synchronized(batches.size)
      // phase 2: restart from the same checkpoint; recovery = restart
      // call → first committed batch of the resumed query
      firstProgressNs = 0L
      val tRestart = System.nanoTime()
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val recoveryMs =
        if (firstProgressNs == 0L) -1L
        else (firstProgressNs - tRestart) / 1000000L
      val wallS = (System.nanoTime() - t0) / 1e9
      spark.streams.removeListener(listener)
      val snap = batches.synchronized(batches.values.toVector)
      val rows = snap.map(_._1).sum
      val durs = snap.map(_._2).sorted
      def pct(p: Double) =
        if (durs.isEmpty) 0L else durs(((durs.size - 1) * p).toInt)
      val exact = verify()
      println(f"[streambench2] $name%-10s batches=${snap.size}%3d " +
        f"(phase1=$phase1%2d) rows=$rows%7d wall_s=$wallS%7.2f " +
        f"rows_per_s=${rows / wallS}%8.1f batch_ms p50=${pct(0.5)}%4d " +
        f"p99=${pct(0.99)}%5d max=${durs.lastOption.getOrElse(0L)}%5d " +
        f"restart_recovery_ms=$recoveryMs%5d exactly_once=${
          if (exact) "OK" else "VIOLATED"}")
    }

    /** per-batch idempotent parquet sink (the noveltyGate discipline) */
    def gateSink(out: String, cp: String)(
        stream: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.streaming.StreamingQuery =
      stream.writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              id: Long) =>
            b.write.mode("overwrite").parquet(s"$out/batch=$id")
        }
        .option("checkpointLocation", cp)
        .start()

    // ---- near-dedup gate → idempotent batch sink
    val ndOut = s"$base/nd_out"
    val ndBatchTwin = DocStreams.incrementalNearDedup(docs, history)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    drive("near_dedup",
      () => gateSink(ndOut, s"$base/nd_cp")(
        DocStreams.incrementalNearDedup(fileStream(s"$base/docs_in"), history)),
      () => spark.read.parquet(ndOut)
        .select("doc_id", "hamming", "near_hist_id", "verdict")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet == ndBatchTwin)

    // ---- decontamination gate → idempotent batch sink
    val dcOut = s"$base/dc_out"
    val dcBatchTwin = VecStreams.decontaminateIngest(embs, evalVecs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getString(4))).toSet
    drive("decontam",
      () => gateSink(dcOut, s"$base/dc_cp")(
        VecStreams.decontaminateIngest(fileStream(s"$base/vecs_in"), evalVecs)),
      () => spark.read.parquet(dcOut)
        .select("vec_id", "n_near_eval", "witness_eval", "max_cos", "verdict")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getString(4))).toSet == dcBatchTwin)

    // ---- events purchase aggregate → the real versioned upsert table
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val upTable = s"$base/up_tbl"
    val upTwin = events.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast(DecimalType(12, 2)) * 100).cast("long"))
          .as("cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    drive("upsert",
      () => graft.streaming.EventStreams.foreachBatchUpsert(spark,
        fileStream(s"$base/ev_in"), upTable, s"$base/up_cp"),
      () => graft.streaming.EventStreams.upsertTable(spark, upTable)
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"),
          r.getAs[Long]("cents"))).toSet == upTwin)

    spark.stop()
  }
}
