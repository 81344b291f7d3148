package graft

/** Catalog-WIDE physical-plan audit — the per-query PlanSpec pins,
  * promoted to invariants over every entry in the catalog, so a future
  * query can't quietly reintroduce the shapes that die at 100 TB:
  *
  *  1. NO CartesianProduct, anywhere, ever. Zero current exceptions —
  *     even d6's bounded pedagogical all-pairs plans as a
  *     BroadcastNestedLoopJoin over its ≤150-doc slice.
  *  2. Every `Exchange SinglePartition` must feed FROM a keyless
  *     partial-aggregate (a global-aggregate merge): such an exchange
  *     moves one partial row per task — constant data — which is the
  *     only funnel-to-one-task shape that survives scale. A
  *     SinglePartition under anything else (a global window sort, a
  *     global row_number) is the single-reducer pattern d25 and
  *     `operators/PrefixScan` (q54/d27/q81/q86/q93/RankSelect) exist
  *     to avoid.
  *  3. BroadcastNestedLoopJoin only where a BOUNDED broadcast side
  *     justifies a non-equi or constant-key join (the allowlist below,
  *     each with its bound); a BNLJ outside the list means an unbounded
  *     side slipped into a nested loop.
  */
class PlanAuditSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.01"

  /** queries allowed a BroadcastNestedLoopJoin, and why the broadcast
    * side is bounded:
    * - bb_e2e_combined / bb_e2e_rrpm: the 1-row control/total frame
    *   attaches to the sample universe
    * - d6_ngram_jaccard: the pedagogical exact baseline, hard-bounded
    *   to doc_id < 150 on BOTH sides (d32 is the full-corpus twin)
    * - d15/d28/d33/d35/q18/q84/q87: a 1-row global statistic (corpus
    *   size, total, mean, min/max) broadcasts onto the corpus
    * - e18_e2e_vector_pipeline: d28's mix tail verbatim (shared
    *   temperatureMix code) — the same two 1-row broadcast scalars
    *   (normalizer total, base-allocation sum) attach to the ~20-row
    *   per-source aggregate, never the corpus
    * - e1/e4/e7/e10/e14/e15: the CONSTANT query batch (≤ a few hundred
    *   vectors) broadcasts against the corpus scan with a non-equi
    *   (q_id <> c_id) condition — the e1 discipline
    * - q31_range_join: the 3-row bucket dimension joins on a range
    *   predicate */
  private val bnljAllowed = Set(
    "bb_e2e_combined", "bb_e2e_rrpm",
    "d6_ngram_jaccard",
    "d15_tfidf_topterms", "d28_temperature_mix",
    "e18_e2e_vector_pipeline", "e18c_e2e_sharded_pipeline",
    "d33_heavy_hitters",
    "d35_bm25", "q18_scalar_subquery", "q84_ab_test", "q87_histogram",
    "e1_cosine_topk", "e4_embed_dedup", "e7_pq_adc", "e10_knn_classify",
    "e14_recall_eval", "e15_binary_ann",
    "q31_range_join")

  /** queries allowed a SinglePartition exchange whose child is NOT a
    * keyless partial aggregate, because the funneled frame is bounded
    * by CONSTRUCTION (post-aggregation metadata, not corpus rows):
    * - d28_temperature_mix: everything past the one groupBy runs on a
    *   #sources-row frame (~20 rows); its global apportionment window
    *   funnels that metadata frame, never the corpus
    * - e18_e2e_vector_pipeline: same tail, same bound (shared
    *   temperatureMix code)
    * - e18c_e2e_sharded_pipeline: same tail, same bound (the sharded
    *   composition reuses temperatureMix verbatim) */
  private val boundedSinglePartition =
    Set("d28_temperature_mix", "e18_e2e_vector_pipeline",
      "e18c_e2e_sharded_pipeline")

  test("catalog-wide plan audit: no CartesianProduct anywhere; every " +
      "SinglePartition exchange is a keyless partial-aggregate merge; " +
      "BNLJ only with a documented bounded broadcast side") {
    val bad = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        bad += s"$name: CartesianProduct"
      val lines = plan.linesIterator.toVector
      lines.indices.foreach { i =>
        if (lines(i).contains("Exchange SinglePartition")) {
          // the line below the exchange is its child — the side that
          // ships data. Constant-per-task iff it is a keyless partial
          // aggregate (HashAggregate(keys=[]...partial_...),
          // SortAggregate(key=[]...), ObjectHashAggregate(keys=[]...)).
          val child = lines.lift(i + 1).getOrElse("")
          val keyless = child.contains("keys=[],") || child.contains("key=[],")
          if (!(keyless && child.contains("partial_"))
              && !boundedSinglePartition(name))
            bad += s"$name: SinglePartition over non-aggregate child: " +
              child.trim.take(90)
        }
      }
      if (plan.contains("BroadcastNestedLoop") && !bnljAllowed(name))
        bad += s"$name: BroadcastNestedLoopJoin outside the bounded " +
          "allowlist — check the broadcast side's bound, then allowlist"
      spark.catalog.clearCache()
    }
    val b = bad.result()
    assert(b.isEmpty, s"catalog plan audit violations:\n  ${b.mkString("\n  ")}")
  }

  /** windows allowed a measured-low-cardinality partition key, each with
    * the bound (or the named scale path) that keeps the funnel harmless:
    * either the frame under the window is bounded BY CONSTRUCTION
    * (shortlist / aggregate / dimension-sized, never fact-corpus rows),
    * the key cardinality GROWS with the corpus and is only small on the
    * fixture, or the entry is a semantics pin whose corpus-scale twin is
    * named. (spark_partition_id()-keyed windows are exempted
    * structurally in the rule itself — that key scales with the cluster
    * by construction; it IS the `PrefixScan` discipline.) */
  private val lowCardWindowAllowed: Map[String, String] = Map(
    "bb_tophits" -> ("same W1 shape over the events analog: per-user " +
      "top-K, user count grows with the corpus, per-key frame bounded " +
      "by the event-type universe"),
    "bb_rrpm" -> ("the 1-key window is the exactly-one-CONTROL frame " +
      "(P5 cardinality assertion bounds it to one sample's rows)"),
    "bb_zscore" -> ("J3 contract: z within type ACROSS samples, " +
      "windowed over the per-(sample, type) AGGREGATE — one row per " +
      "pair, never raw events"),
    "d12_seq_pack" -> ("shard is the write-parallelism knob, set " +
      "proportional to the deployment (fixture pins 8); per-shard " +
      "frame = that shard's packed-sequence slice"),
    "d30_e2e_pipeline" -> "same shard knob as d12 (shared stage)",
    "d13_source_quota" -> ("per-source quota selection; source is the " +
      "curation dimension (~20). A source outgrowing one task moves to " +
      "stratified sampleBy (q98's shape) — quota output is fixed-size"),
    "d25_token_budget" -> ("per-source RUNNING token budget — " +
      "cumulative-order semantics; the budget cutoff bounds the " +
      "retained prefix. Corpus-scale form re-keys by (pid, source) " +
      "with prefix offsets (the d27/q54 discipline)"),
    "e1_cosine_topk" -> ("constant query batch (8 probes) over " +
      "candidate shortlists — the e1 discipline"),
    "e2_ann_lsh" -> "constant query batch; bucket-join candidates",
    "e2b_ann_lsh_scaled" -> ("constant query batch; bucket-join + " +
      "Hamming-1 multiprobe candidates, bucket size <= 64 by scaledPlanes"),
    "e3_ann_ivf" -> "constant query batch; probe-cell candidates",
    "e7_pq_adc" -> "constant query batch; ADC shortlist (<= 50/query)",
    "e10_knn_classify" -> "constant 20-probe batch; cell candidates",
    "e12_ivf_trained" -> "constant query batch; trained-cell candidates",
    "e13_mmr_rerank" -> ("constant query batch; every MMR window runs " +
      "over the localCheckpointed <= 8-row-per-query shortlist"),
    "e14_recall_eval" -> "constant probe batch; top-3 relations",
    "e15_binary_ann" -> "constant query batch; Hamming shortlist",
    "e17_pq_trained" -> "constant query batch; trained-ADC shortlist",
    "q40_rank_family" -> ("rank/dense_rank/percent_rank semantics pin " +
      "over the customer DIMENSION per nation (25 keys, dimension-" +
      "sized frames); corpus-scale rank selection is RankSelect " +
      "(q78/q88)"),
    "q51_sql_window_subquery" -> ("SQL window-in-subquery syntax pin " +
      "over lineitem; the scalable form of this computation is " +
      "q78/q88's RankSelect"),
    "q78_winsorize" -> ("the size-GATED small path: window over the " +
      "duplicate-collapsed value HISTOGRAM, taken only when file-backed " +
      "input < 32 MB; larger inputs take the distributed RankSelect " +
      "path (PlanSpec pins its (_pid, grp) windows)"),
    "q88_ntile_nth" -> "same gate as q78 (shared RankSelect)",
    "q91_mad_outliers" -> ("per-type exact median-of-|deviations| — " +
      "both medians ARE RankSelect picks over the value histogram since " +
      "round 16: same size-GATED small path as q78 (window over the " +
      "duplicate-collapsed histogram only when file-backed input " +
      "< 32 MB; larger inputs take the distributed (_pid, grp) path)"),
    "q103_reservoir" -> ("per-type fixed-k reservoir: output <= " +
      "k x |types|; corpus-scale form merges per-partition reservoirs " +
      "(q94's mergeable-summary discipline)"),
    "q104_burst_alert" -> ("per-type window over the per-(type, " +
      "minute-bucket) AGGREGATE — time-bucketed counts, never raw " +
      "events"))

  test("catalog-wide window-key cardinality audit: a Window partitioned " +
      "SOLELY by keys whose measured cardinality is below the at-scale " +
      "task width funnels its whole child through that many tasks — " +
      "pre-rewrite q78 (PARTITION BY a 3-value flag over the corpus) " +
      "passed every other audit; this rule catches the next one. Flagged " +
      "windows must either re-key (the RankSelect discipline) or carry a " +
      "documented bound in the allowlist") {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, SparkPartitionID}
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Window => LWindow}
    // the at-scale shuffle width the bench pins (local[32]); a window
    // whose key cardinality is below it cannot use the cluster
    val threshold = 32L
    val bad = Seq.newBuilder[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val lp = fn(spark, sf).queryExecution.optimizedPlan
      lp.collect { case w: LWindow => w }.foreach { w =>
        // STRUCTURAL exemption: a partition key derived from
        // spark_partition_id() has cardinality = the shuffle width by
        // construction — it IS the `PrefixScan` prefix-offset
        // discipline this rule exists to steer windows toward. Resolve
        // key attributes through the child's aliases to find it.
        val aliases = w.child.collect { case p => p.expressions }.flatten
          .flatMap(_.collect { case a: Alias => a.exprId -> a.child })
          .toMap
        def resolve(e: Expression, depth: Int = 0): Expression =
          if (depth > 20) e
          else e.transformUp {
            case ar: AttributeReference if aliases.contains(ar.exprId) =>
              resolve(aliases(ar.exprId), depth + 1)
          }
        // a localCheckpoint/RDD barrier truncates the logical plan, so
        // a pid computed before it resolves to an opaque attribute —
        // fall back on the name of `PrefixScan`'s partition-id column
        // ("_pid", always spark_partition_id-derived). A future query
        // must not reuse it for a genuinely low-cardinality key.
        val pidKeyed = w.partitionSpec.exists { e =>
          resolve(e).exists(_.isInstanceOf[SparkPartitionID]) ||
            e.collect { case ar: AttributeReference => ar.name }
              .contains("_pid")
        }
        if (w.partitionSpec.nonEmpty && !pidKeyed) {
          val proj = Project(w.partitionSpec.zipWithIndex.map {
            case (e, i) => Alias(e, s"_p$i")()
          }, w.child)
          // bounded probe: stop counting past the threshold
          val card = GraftBridge.ofRows(spark, proj)
            .distinct().limit(threshold.toInt + 1).count()
          if (card < threshold && !lowCardWindowAllowed.contains(name))
            bad += s"$name: Window partitioned by " +
              s"[${w.partitionSpec.map(_.sql).mkString(", ")}] has " +
              s"measured key cardinality $card < $threshold"
        }
      }
      spark.catalog.clearCache()
    }
    val b = bad.result()
    assert(b.isEmpty,
      s"low-cardinality window-key violations (re-key or allowlist with " +
        s"a bound):\n  ${b.mkString("\n  ")}")
  }
}
