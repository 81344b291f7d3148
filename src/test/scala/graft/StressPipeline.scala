package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.pipeline.BigBugData

/** Stress driver for the reference pipeline at a scale the reference's
  * in-RAM dicts would already feel: N samples × T taxa (dense grid N·T).
  *
  *   sbt "Test/runMain graft.StressPipeline 100 2000"
  */
object StressPipeline {
  def main(args: Array[String]): Unit = {
    // either "N_SAMPLES N_TAXA" (self-generated corpus) or a directory of
    // *_report.tsv files (shared corpus from tools/gen_stress_corpus.py,
    // for the engine-vs-reference head-to-head)
    val fromDir = args.headOption.filter(a => new java.io.File(a).isDirectory)
    val nSamples = if (fromDir.isEmpty && args.length > 0) args(0).toInt else 100
    val nTaxa = if (fromDir.isEmpty && args.length > 1) args(1).toInt else 2000
    // SPARK_GRAFT_CODEC=zstd shrinks shuffle/spill files ~2-3x vs the
    // lz4 default on this text-heavy data — the 320M-cell run is
    // disk-capacity-bound on this box, and compression is exactly the
    // knob a real cluster would turn first. Kept opt-in so the measured
    // ladder stays comparable across rounds. The 60s periodic GC makes
    // the driver drop shuffle-dependency references promptly so finished
    // stages' shuffle files are reclaimed DURING the run, not at the
    // default 30min tick (shuffle files live until their dependency is
    // GC'd — at 5 shuffles x ~20 GB that's the difference between
    // fitting and ENOSPC).
    // SparkEnv resolves the SPARK_GRAFT_MASTER/_JARS overrides for the
    // cross-executor gate (CORRECTNESS_CLUSTER.md)
    val spark = graft.SparkEnv.builder("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.io.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_CODEC", "lz4"))
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val paths = fromDir match {
      case Some(d) =>
        new java.io.File(d).listFiles()
          .map(_.getPath).filter(_.endsWith("_report.tsv")).sorted.toSeq
      case None =>
        val dir = Files.createTempDirectory("graft_stress")
        val rnd = new scala.util.Random(42)
        val t0 = System.nanoTime()
        val ps = (0 until nSamples).map { i =>
          val sb = new StringBuilder
          sb.append("# synthetic\n# stress\n")
          sb.append("%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n")
          sb.append(s"40.0\t4000000\t4000000\t0\t0\t0\t0\tunclassified\tunclassified\n")
          sb.append(s"60.0\t6000000\t6000000\t100\t0\t0\t1\troot\troot\n")
          // each sample sees ~60% of the taxa universe
          (10 until 10 + nTaxa).foreach { taxId =>
            if (rnd.nextDouble() < 0.6) {
              val reads = rnd.nextInt(5000) + 1
              sb.append(s"0.1\t$reads\t$reads\t${reads * 7}\t1.0\t0.5\t$taxId\tspecies\tTax $taxId\n")
            }
          }
          val p = dir.resolve(f"SAMPLE_${i}%04d_report.tsv")
          Files.writeString(p, sb.toString)
          p.toString
        }
        println(f"[stress] wrote $nSamples reports in ${(System.nanoTime() - t0) / 1e9}%.1f s")
        ps
    }

    val outDir = Files.createTempDirectory("graft_stress_out").toString
    val params = BigBugData.Params(
      paths, outDir, nTophits = 15,
      groupPatterns = Seq(("SAMPLE_0000", "SAMPLE_00")))
    // split timing, each part materialized on its own: the build (scan,
    // the organism cache, the totals collect), the long rrpm frame
    // through the noop sink (a read-path frame the write never builds),
    // and tophits (the heap pass over the cache, ranked on the driver);
    // then the write, which reuses the cache
    def timed[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val a = body
      println(f"[stress] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      a
    }
    val built = timed("build: scan, organism cache, totals")(BigBugData.build(spark, params))
    timed("long rrpm frame, noop sink (not on the write path)")(
      built.rrpm.write.format("noop").mode("overwrite").save())
    timed("tophits: heap pass over the cache, driver ranks")(built.tophits.count())
    val t1 = System.nanoTime()
    val out = BigBugData.write(spark, params)
    val dt = (System.nanoTime() - t1) / 1e9
    val gridRows = out.combined.count()
    val topRows = out.tophits.count()
    val sActual = out.orderedSamples.size
    println(f"[stress] pipeline: $sActual samples x ${gridRows / sActual} taxa -> " +
      f"$gridRows dense cells, $topRows tophits, 3 CSVs in $dt%.1f s")
    Seq("combined", "rrpm", "tophits").foreach { w =>
      val csv = Paths.get(s"$outDir/${w}_species.csv")
      println(f"[stress] ${w}_species.csv = ${Files.size(csv) / 1024} KiB")
    }
    // the sink's driver holds one pending line per run and the tophits
    // candidates (at most samples x K per task), not the outputs; report
    // the heap pools' peak use since JVM start (summed over pools: an
    // upper bound on peak heap) and the process's peak RSS
    val peakHeap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    println(f"[stress] peak heap ${peakHeap / 1048576} MiB, VmHWM ${hwm / 1024} MiB")
    spark.stop()
  }
}
