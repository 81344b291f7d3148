package graft
import graft.catalog.Approx.ScaledC
object E8Probe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkEnv.builder("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // specs are <mode><C>[@dir], comma-separated: "n"/"m" = e8b/e16b's
    // one-shard count-scaled tier at cap C; "s"/"q"/"x" = the sharded
    // e8c/e16c/e18c tiers at cap C; "y" = e18 as the catalog runs it;
    // "l" = e2b's scaled LSH; "f64"/"t64" = ASSIGNMENT-ONLY timing
    // (probes + cell through a noop sink) for the flat IvfProbes vs
    // two-level IvfProbes2 kernels — the isolated before/after of the
    // r12 quantizer fix
    import org.apache.spark.sql.functions._
    for (specRaw <- args(1).split(",")) {
      // optional per-spec corpus override ("n4096@/path/sf2") so a
      // cross-SCALE comparison can run inside ONE JVM — cross-JVM
      // absolute numbers on this host swing >2x run-to-run, so a
      // scaling fit is only meaningful when every point shares the
      // JVM (same JIT state, same session)
      // split("@", 2): a path containing '@' stays intact in the dir
      // part; an empty dir part ("n64@") fails here with a clear
      // message instead of later as a NumberFormatException in the
      // spec-prefix parse below
      val (spec, dir) = specRaw.split("@", 2) match {
        case Array(s, d) =>
          require(d.nonEmpty, s"malformed spec '$specRaw': empty dir after @")
          (s, d)
        case _ => (specRaw, args(0))
      }
      val mode = spec.take(1)
      val c = spec.drop(1).toInt
      val dims = 64
      val t0 = System.nanoTime()
      val n = mode match {
        case "l" =>
          // e2b's corpus-scaled LSH ANN (lshScaledTop3) through the
          // noop sink — the same-JVM cross-scale harness for the LSH
          // family (the numeric part of the spec is ignored; P derives
          // from COUNT(*) inside). Alternating dirs evicts the one-slot
          // memo each call, so every point pays its full corpus +
          // projection + bucket-join cost.
          graft.catalog.Approx.lshScaledTop3(
              graft.catalog.Tables.t(spark, dir, "embeddings"))
            .write.format("noop").mode("overwrite").save()
          -1L
        case "n" =>
          // e8b's one-shard count-scaled dedup with the cell-count cap
          // at C, through the noop sink — above 32·C vectors the ladder
          // clamps at C, the clamped arm of the sharded-vs-clamped A/B
          // (count() would eliminate the rep left-join and the pair
          // pipeline with it; see SCALE.md round-12 root cause)
          graft.catalog.Approx.ivfDedupShardedAt(
              graft.catalog.Tables.t(spark, dir, "embeddings"),
              P = 4, tau = 0.4, ScaledC(c, sharded = false))
            .write.format("noop").mode("overwrite").save()
          -1L
        case "m" =>
          // e16b's one-shard count-scaled decontam with the cap at C
          // (noop sink) — the asymmetric eval × train plan
          val out16 = graft.catalog.Approx.ivfDecontamShardedAt(
            graft.catalog.Tables.t(spark, dir, "embeddings"),
            P = 4, tau = 0.4, ScaledC(c, sharded = false))
          if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
            out16.explain("formatted")
          else out16.write.format("noop").mode("overwrite").save()
          -1L
        case "s" =>
          // e8c's SHARD TIER at an explicit cell-count cap (noop sink):
          // "s4096" runs the sharded tier at cap 4096 — the sharded arm
          // of the sharded-vs-clamped A/B (the clamped arm is "n4096")
          graft.catalog.Approx.ivfDedupShardedAt(
              graft.catalog.Tables.t(spark, dir, "embeddings"),
              P = 4, tau = 0.4, ScaledC(c, sharded = true))
            .write.format("noop").mode("overwrite").save()
          -1L
        case "q" =>
          // e16c's SHARDED decontam at an explicit cap (noop sink) —
          // the sharded arm of the decontam clamped-vs-sharded A/B
          // (the clamped arm is "m4096")
          graft.catalog.Approx.ivfDecontamShardedAt(
              graft.catalog.Tables.t(spark, dir, "embeddings"),
              P = 4, tau = 0.4, ScaledC(c, sharded = true))
            .write.format("noop").mode("overwrite").save()
          -1L
        case "x" =>
          // e18c's composed sharded pipeline at an explicit cap (noop
          // sink) — the sharded arm of the composed A/B
          graft.catalog.Approx.e2eShardedAt(
              graft.catalog.Tables.t(spark, dir, "embeddings"),
              graft.catalog.Tables.t(spark, dir, "documents"),
              ScaledC(c, sharded = true))
            .write.format("noop").mode("overwrite").save()
          -1L
        case "y" =>
          // e18 exactly as the catalog runs it (scaledCAt under the
          // process env — CLAMPED at the default cap above 131k
          // vectors), the clamped arm of the composed A/B; the numeric
          // suffix is ignored ("y0")
          graft.SparkEntry.queries("e18_e2e_vector_pipeline")(spark, dir)
            .write.format("noop").mode("overwrite").save()
          -1L
        case "f" | "t" =>
          val emb = graft.catalog.Tables.t(spark, dir, "embeddings")
            .withColumn("dv", transform(col("embedding"), x => x.cast("double")))
            .select("vec_id", "dv")
          val probed = if (mode == "f")
            emb.withColumn("probes", graft.functions.IvfKernels.ivf_probes(
              col("dv"), graft.catalog.Approx.ivfFlatCentroids(c, dims), dims, 4))
          else {
            val s = graft.catalog.Approx.scaledSuperC(c)
            val (supCb, cs, ci) = graft.catalog.Approx.ivfChildren(c, s, dims)
            emb.withColumn("probes", graft.functions.IvfKernels.ivf_probes2(
              col("dv"), supCb, graft.catalog.Approx.ivfFlatCentroids(c, dims),
              cs, ci, dims, 4, 2))
          }
          val out = probed.withColumn("cell", element_at(col("probes"), lit(1)))
          // noop sink only — a count() here would add a second full scan
          // (with probes pruned) to the timed window; rows=-1 marks the
          // noop convention, same as BenchOne's noop mode
          out.write.format("noop").mode("overwrite").save()
          -1L
        case _ => sys.error(s"unknown E8Probe mode in '$spec'")
      }
      println(f"[e8probe] C=$spec%6s  ${(System.nanoTime()-t0)/1e9}%8.2f s  rows=$n")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
