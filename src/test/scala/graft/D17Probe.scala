package graft

/** Root-cause instrument for d17's in-bench inflation (r13: 16.77 s
  * in-bench vs 3.51 s isolated at sf0.5 — adjudicated "harness noise"
  * without a mechanism; this probe names one). ONE JVM, Bench's exact
  * session shape and hygiene:
  *   1. full sf0.001 warmup pass (as Bench does),
  *   2. d17 timed — the isolated baseline,
  *   3. the bench-order query prefix BEFORE d17 at the target corpus,
  *      with Bench's per-query clearCache + non-pinned unpersist,
  *   4. d17 timed again (the in-bench reading), twice,
  *   5. a synchronous double System.gc() + quiesce,
  *   6. d17 timed again.
  * If step 6 returns to the step-2 baseline the inflation is driver-GC/
  * ContextCleaner debt (the r11 gc_between mechanism); if it stays
  * inflated while persistent-RDD count is elevated, it's block residue;
  * if neither, the mechanism is outside the JVM-aging family. */
object D17Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = SparkEnv.builder("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def hygiene(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs
        .filter { case (id, _) => !graft.catalog.PinnedCheckpoints.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
    def stats: String = {
      val rt = Runtime.getRuntime
      s"rdds=${spark.sparkContext.getPersistentRDDs.size} " +
        s"heapMB=${(rt.totalMemory - rt.freeMemory) / 1048576}"
    }
    def timeD17(tag: String): Unit = {
      val t0 = System.nanoTime()
      materialize(SparkEntry.queries("d17_repetition_quality")(spark, sfDir))
      println(f"[d17probe] $tag%-24s ${(System.nanoTime() - t0) / 1e9}%7.2f s  $stats")
      hygiene()
    }
    // 1. Bench's warmup pass at the smallest corpus. The dir is arg 2
    //    when given (ADVICE round 14: on a box without the default path
    //    the swallowed Throwables made the "Bench-exact warmup" a
    //    silent no-op); failures are COUNTED and reported loudly either
    //    way, so a degraded warmup can never masquerade as the real
    //    instrument.
    val warmDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    var warmFails = 0
    SparkEntry.queries.foreach { case (_, fn) =>
      try materialize(fn(spark, warmDir))
      catch { case _: Throwable => warmFails += 1 }
    }
    if (warmFails > 0) System.err.println(
      s"[d17probe] WARNING: $warmFails/${SparkEntry.queries.size} warmup " +
        s"queries FAILED at $warmDir - the Bench-exact-warmup premise is " +
        "degraded; pass a readable warmup dir as arg 2")
    hygiene()
    // one untimed d17 at the TARGET corpus so `baseline` is the warm
    // second execution — the same instrument as BenchOne warm+noop
    // (the 3.51 s r13 reading this probe compares against). A failure
    // HERE invalidates the probe outright, so it is fatal, not warned.
    materialize(SparkEntry.queries("d17_repetition_quality")(spark, sfDir))
    hygiene()
    println(s"[d17probe] warmup done  $stats")
    timeD17("baseline")
    timeD17("baseline2")
    // 3. replay Bench's aging: r13's inflated reading was pass-2 d17,
    // i.e. ~217 queries of accumulated JVM state — one FULL catalog
    // pass at the target corpus with Bench's exact per-query hygiene
    // (d17's in-map position is only 14, so a "prefix" cannot reproduce
    // the aging; the full pass does)
    println(s"[d17probe] running full ${SparkEntry.queries.size}-query pass at $sfDir")
    val tp = System.nanoTime()
    SparkEntry.queries.foreach { case (n, fn) =>
      try materialize(fn(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[d17probe] pass $n failed: ${e.getMessage}") }
      hygiene()
    }
    println(f"[d17probe] full pass done in ${(System.nanoTime() - tp) / 1e9}%.1f s  $stats")
    timeD17("after-fullpass")
    timeD17("after-fullpass2")
    // 5. drain the JVM-aging debt synchronously, then re-measure
    System.gc(); Thread.sleep(2000); System.gc(); Thread.sleep(500)
    println(s"[d17probe] after sync GC  $stats")
    timeD17("after-gc")
    timeD17("after-gc2")
    spark.stop()
  }
}
