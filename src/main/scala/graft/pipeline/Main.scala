package graft.pipeline

/** CLI-equivalent of the reference's `bigbugdata` entry point
  * (`bigbugdata.py:369–429`):
  *
  *   runMain graft.pipeline.Main -r report1.tsv report2.tsv …
  *     [-o results] [-R species] [-t 15] [-n CONTROL GROUP]…
  *     [-v|--version]
  */
object Main {

  /** engine version, reported by -v/--version (`bigbugdata.py:413–418`) */
  val Version = "0.3.0"

  def main(args: Array[String]): Unit = {
    // argparse's version action fires before any other validation
    if (args.contains("-v") || args.contains("--version")) {
      println(s"bigbugdata-spark $Version")
      return
    }
    var reports = Vector.empty[String]
    var out = "results"
    var rank = "species"
    var k = 15
    var groups = Vector.empty[(String, String)]
    var i = 0
    def values(from: Int): (Vector[String], Int) = {
      var j = from
      var acc = Vector.empty[String]
      while (j < args.length && !args(j).startsWith("-")) { acc :+= args(j); j += 1 }
      (acc, j)
    }
    def req(flag: String, at: Int, n: Int): Unit =
      if (at + n > args.length || args.slice(at, at + n).exists(_.startsWith("-")))
        throw new IllegalArgumentException(
          s"$flag requires $n value(s); see -r -o -R -t -n usage")
    while (i < args.length) {
      args(i) match {
        case "-r" | "--reports" =>
          val (v, j) = values(i + 1); reports ++= v; i = j
        case f @ ("-o" | "--output") => req(f, i + 1, 1); out = args(i + 1); i += 2
        case f @ ("-R" | "--rank") => req(f, i + 1, 1); rank = args(i + 1); i += 2
        case f @ ("-t" | "--tophits") => req(f, i + 1, 1); k = args(i + 1).toInt; i += 2
        case f @ ("-n" | "--nc-group") =>
          req(f, i + 1, 2); groups :+= (args(i + 1) -> args(i + 2)); i += 3
        case other =>
          throw new IllegalArgumentException(s"unknown argument: $other")
      }
    }
    require(reports.nonEmpty, "-r/--reports is required")

    val spark = graft.SparkEnv.builder(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("bigbugdata-spark")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val o = BigBugData.write(spark,
        BigBugData.Params(reports, out, rank, k, groups))
      println(s"[graft] wrote combined/rrpm/tophits for rank '$rank' " +
        s"(${o.orderedSamples.size} samples) under $out")
    } finally spark.stop()
  }
}
