package graft

import org.apache.spark.sql.SparkSession

/** Session bootstrap shared by the runnable drivers (Verify, Bench,
  * pipeline.Main, StressPipeline, BenchOne, Explain) and the test session
  * (SparkSuite): ONE place resolves the `SPARK_GRAFT_MASTER` override
  * and ships `SPARK_GRAFT_JARS`, so the cross-executor gate
  * (`local-cluster[2,16,4096]`, see CORRECTNESS_CLUSTER.md) always sees
  * the same session shape from every entry point — a config added for
  * the gate cannot be missed by one of the drivers.
  */
object SparkEnv {
  def builder(defaultMaster: String): SparkSession.Builder = {
    val b0 = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", defaultMaster))
      // list a report batch's files on the driver, with no job at any count
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toLong)
    // Reliable-checkpoint mode writes one full-dataset copy PER
    // stableCheckpoint() call; iterative operators (PageRank, connected
    // components, k-means) checkpoint per iteration, so without cleanup
    // a long job accumulates hundreds of copies and exhausts the
    // checkpoint filesystem. Spark only deletes Dataset checkpoints when
    // this flag is on AND the reference is GC'd — set it whenever the
    // mode is active. Must be set here (ContextCleaner reads it at
    // SparkContext creation), not at checkpoint time.
    val b = if (Ckpt.reliableDir.isDefined)
      b0.config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    else b0
    sys.env.get("SPARK_GRAFT_JARS").fold(b)(j => b.config("spark.jars", j))
  }
}
