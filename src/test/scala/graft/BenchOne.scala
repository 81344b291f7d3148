package graft
import org.apache.spark.sql.SparkSession
object BenchOne {
  /** Optional runtime confs from SPARK_GRAFT_CONF, e.g.
    * `spark.sql.shuffle.partitions=8`: entries are k=v joined by ','; an
    * entry without '=' is a usage error — fail with the offending entry,
    * not a bare MatchError. (Conf VALUES containing ',' are not
    * representable in this flat format; pass such confs via a dedicated
    * env/driver instead.) */
  def setConfs(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => spark.conf.set(k, v)
        case _ => sys.error(s"SPARK_GRAFT_CONF entry without '=': '$kv'")
      }
    })

  def main(args: Array[String]): Unit = {
    val sfDir = args(1)
    val spark = SparkEnv.builder("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    setConfs(spark)
    // SPARK_GRAFT_COLD=1 times the FIRST execution of each query (after
    // a JVM/codegen warmup on an unrelated scan) instead of the
    // warm-cache second pass — the number that exposes one-off costs
    // like coarse assignment, which the per-query .cache() barriers hide
    // from the warm pass. Caches are cleared between names so later
    // queries stay cold too. Cold and warm are DIFFERENT measurements
    // (see graft-verify-pitfalls): never compare across the modes.
    val cold = sys.env.get("SPARK_GRAFT_COLD").contains("1")
    // SPARK_GRAFT_NOOP=1 materializes through the noop sink exactly like
    // graft.Bench does, instead of count(). The two actions are NOT
    // interchangeable measurements: count() lets Catalyst prune
    // projected expressions and skip final sorts, so column-heavy work
    // (exact-cosine re-ranks, formatted outputs) can vanish from a
    // count()-timed run. Use this knob whenever a BenchOne number will
    // be compared against an in-bench (noop-materialized) number.
    val noop = sys.env.get("SPARK_GRAFT_NOOP").contains("1")
    def materialize(df: org.apache.spark.sql.DataFrame): Long =
      if (noop) { df.write.format("noop").mode("overwrite").save(); -1L }
      else df.count()
    // warmup
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val names = args(0).split(",").toSeq
    // warm: one untimed pass over the whole list before the first timed
    // name, so the first names of a list carry no more JIT warm-up than
    // the later ones
    if (!cold) names.foreach(name => materialize(SparkEntry.queries(name)(spark, sfDir)))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val n = materialize(fn(spark, sfDir))
      val mode = (if (cold) "cold" else "warm") + (if (noop) "+noop" else "")
      println(f"[benchone] $name%-22s ${(System.nanoTime()-t0)/1e9}%8.2f s  rows=$n  ($mode)")
      if (cold) {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs
          .filter { case (id, _) => !graft.catalog.PinnedCheckpoints.contains(id) }
          .values.foreach(_.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}
