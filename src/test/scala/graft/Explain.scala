package graft
object Explain {
  def main(args: Array[String]): Unit = {
    // args: <name[,name...]> [sfDir]   (default sf0.01)
    // SPARK_GRAFT_CONF=k=v[,k=v] passes session confs (same knob as
    // BenchOne) — e.g. spark.sql.adaptive.enabled=false to print a
    // query's plan without adaptive execution for an A/B plan diff.
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = SparkEnv.builder("local[4]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    BenchOne.setConfs(spark)
    args(0).split(",").foreach { name =>
      println(s"========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
