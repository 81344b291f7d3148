package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Physical-plan regression tests: the optimizations SCALE.md claims must
  * actually appear in the executed plans. */
class PlanSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.01"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q2: both predicates and the column projection reach the parquet scan") {
    val p = plan("q2_filter_pushdown")
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(l_shipdate")
      && p.contains("LessThan(l_quantity,25.0)"))
    assert(p.contains("ReadSchema") && !p.contains("l_extendedprice"),
      "projection must prune unused columns from the scan")
  }

  test("q3: dimension join is broadcast, not shuffled") {
    val p = plan("q3_broadcast_join")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q6/q7: semi and anti joins use broadcast hash strategy") {
    assert(plan("q6_semi_join").contains("LeftSemi"))
    assert(plan("q7_anti_join").contains("LeftAnti"))
  }

  test("d7: no cartesian product anywhere in the LSH plan") {
    val p = plan("d7_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "bucket join must be an equi join on (band, band_key)")
  }

  test("guarded-operator construction is lazy: building cooccurPairs / " +
      "minhashLshPairs plans never evaluates the input") {
    // the guards' dropped-mass accounting must be a lazy side frame —
    // an eager .head() at build time would make merely constructing or
    // explaining a query scan the corpus. Pin it with a POISONED input:
    // any job that touches a row throws, so construction + physical
    // planning succeeding proves zero eager evaluation.
    // spark.range leaves (NOT local Seqs — ConvertToLocalRelation
    // would evaluate a LocalRelation projection during optimization)
    def poison(df: org.apache.spark.sql.DataFrame, c: String) =
      df.withColumn(c, when(assert_true(col(c).isNull).isNull, col(c)))
    val items = poison(spark.range(2)
      .select(lit(1L).as("ok"), (col("id") + 10).as("p")), "p")
    val (pairs, stats) = graft.catalog.Extended.cooccurPairsWithStats(items)
    pairs.queryExecution.executedPlan; stats.queryExecution.executedPlan
    val docs = poison(spark.range(2)
      .select(col("id").as("doc_id"),
        concat(lit("a b c "), col("id").cast("string")).as("text")), "text")
    val (lp, ls) = graft.catalog.Approx.minhashLshPairsWithStats(docs)
    lp.queryExecution.executedPlan; ls.queryExecution.executedPlan
    // the poison itself must be live — execution has to throw
    intercept[Exception] { pairs.collect() }
  }

  test("q42: salted aggregation plans as two aggregate exchanges, " +
      "neither keyed on the hot key alone") {
    val p = plan("q42_salted_skew_agg")
    // phase 1 shuffles on (l_returnflag, _salt) — 3×32 reducers; phase 2
    // merges the 96 partials. A plain groupBy would put a third of the
    // table on one reducer.
    assert(p.contains("_salt"), "salt column must appear in the plan")
    val saltedShuffles = "hashpartitioning\\([^)]*_salt".r.findAllIn(p).size
    val plainShuffles = "hashpartitioning\\(l_returnflag[^,]*, \\d".r.findAllIn(p).size
    assert(saltedShuffles >= 1, s"phase-1 shuffle must carry the salt:\n$p")
    assert(plainShuffles >= 1, s"phase-2 shuffle merges per hot key:\n$p")
  }

  test("e2/e3: ANN candidate joins are hash joins, never nested loops") {
    for (q <- Seq("e2_ann_lsh", "e2b_ann_lsh_scaled", "e3_ann_ivf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q candidate generation must be an equi join:\n$p")
    }
  }

  test("e8: full-corpus dedup never plans a corpus x corpus join") {
    val p = plan("e8_embed_dedup_ivf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pair generation must stay an equi join on the cell id:\n$p")
  }

  test("q44: the custom TopKPerKeyExec node plans with one exchange and " +
      "a KEYS-ONLY sort (never the window's keys ++ order sort)") {
    val q = SparkEntry.queries("q44_native_topk")(spark, sf)
    val p = q.queryExecution.executedPlan.toString
    // the exec node's nodeName strips the Exec suffix
    assert(p.contains("TopKPerKey "), s"custom strategy did not fire:\n$p")
    // below the operator EnsureRequirements inserts the key shuffle and
    // the keys-only sort that makes groups contiguous (the O(k)-memory
    // streaming contract); the ORDER columns must not appear in it —
    // ranking happens in the bounded heap, not the sorter
    val below = p.substring(p.indexOf("TopKPerKey "))
    assert(below.contains("Exchange hashpartitioning"),
      s"EnsureRequirements must insert the key shuffle:\n$p")
    val sortLine = below.linesIterator.find(_.contains("Sort ")).getOrElse(
      fail(s"keys-only sort must feed the streaming operator:\n$p"))
    assert(sortLine.contains("o_custkey") && !sortLine.contains("o_totalprice"),
      s"sort below the operator must cover the keys only:\n$sortLine")
  }

  test("dot_product and cosine_sim run INSIDE WholeStageCodegen " +
      "(no CodegenFallback break in the ANN inner loop)") {
    // non-literal input — a literal would constant-fold to LocalTableScan
    val arrs = spark.range(8).select(
      transform(sequence(lit(0L), col("id") + 2), x => x.cast("double")).as("a"),
      transform(sequence(lit(0L), col("id") + 2),
        x => (x * 2).cast("double")).as("b"))
    val df = arrs.select(
        graft.functions.DotProduct.dot_product(col("a"), col("b")).as("d"),
        graft.functions.CosineSim.cosine_sim(col("a"), col("b")).as("c"))
    val p = df.queryExecution.executedPlan.toString
    val projLine = p.linesIterator
      .find(l => l.contains("dot_product") || l.contains("cosine_sim"))
      .getOrElse(fail(s"expressions not found in plan:\n$p"))
    // a codegen'd operator prints with the `*(stageId)` prefix; a
    // fallback expression forces the interpreted Project
    assert(projLine.trim.startsWith("*"),
      s"expressions must sit in a WholeStageCodegen stage:\n$p")
  }

  test("d21/q58: the dedup chunk join and the CDC merge stay equi-join " +
      "shaped (no cartesian / nested-loop anywhere)") {
    Seq("d21_interdoc_dup", "q58_merge_upsert").foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoop"),
        s"$name must never plan an all-pairs join:\n$p")
    }
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true in the " +
      "final adaptive plan)") {
    // SCALE.md's skew story: fact-to-fact joins rely on AQE to split hot
    // partitions. Production thresholds are 256 MB; lower them so the
    // sf0.01 hot key (90% of rows on one join key) trips the splitter.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 90% of fact rows on key 0. The dim side must CONTAIN key 0 and
      // carry no predicate: a filtered dim's constraint propagates
      // through the join key and deletes the hot rows at the fact scan
      // (useful in production, fatal to this fixture).
      val one = spark.read.parquet(s"$sf/lineitem.parquet")
      val fact = one.unionAll(one).unionAll(one).unionAll(one)
        .select(when(col("l_orderkey") % 10 < 9, 0L)
          .otherwise(col("l_orderkey")).as("k"), col("l_quantity"))
      val dim = spark.range(0, 2000)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = fact.join(dim, "k")
      // collect() finalizes THIS QueryExecution's adaptive plan (a write
      // action executes a clone, leaving isFinalPlan=false here)
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE must mark the hot partition's join as skew-split:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q107: the CATALOG skew-join query gets the AQE skew split " +
      "(skew=true in its final adaptive plan)") {
    // q42 pins salted AGGREGATION; q107 is the join-side complement —
    // the oracle proves the split changes nothing, this pins that the
    // split actually happens. Two production realities are scaled down
    // to fire at test size: thresholds (256 MB → 8 KB), and the fact
    // layout — a skew split subdivides a reduce partition BY MAP INDEX,
    // so a single-file single-row-group fact (one mapper) is physically
    // unsplittable no matter how skewed; production facts are thousands
    // of files, so the fixture rewrites lineitem as 8 files and runs
    // the catalog query verbatim on that dir.
    val tmp = Files.createTempDirectory("graft_skew_dir")
    spark.read.parquet(s"$sf/lineitem.parquet").repartition(8)
      .write.parquet(s"$tmp/lineitem.parquet")
    spark.read.parquet(s"$sf/supplier.parquet")
      .write.parquet(s"$tmp/supplier.parquet")
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = SparkEntry.queries("q107_skew_join")(spark, tmp.toString)
      // collect() finalizes THIS QueryExecution's adaptive plan
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE must split the catalog query's hot join partition:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter: a selective dimension predicate is pushed " +
      "to the fact side as an injected might_contain filter") {
    // the AQE-era runtime filter (Spark's answer to sideways information
    // passing): the bloom filter built from the filtered dim side prunes
    // fact rows BEFORE the join shuffle — at 100 TB this is the
    // difference between shuffling the whole fact table and shuffling
    // the matching slice. Thresholds are production-tuned for >10 GB
    // scans, so the test lowers them to fire at sf0.01; broadcast is
    // disabled because a broadcast join subsumes the bloom filter.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val part = spark.read.parquet(s"$sf/part.parquet")
        .filter(col("p_size") === 1)
      val p = li.join(part, col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_name"))
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"runtime bloom filter was not injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("min_hash_sig and sim_hash_sig run INSIDE WholeStageCodegen " +
      "(no CodegenFallback break in the dedup signature stage)") {
    // non-literal string arrays — a literal would constant-fold away
    val arrs = spark.range(8).select(
      transform(sequence(lit(0L), col("id") + 2),
        x => concat(lit("w"), x.cast("string"))).as("tk"))
    val df = arrs.select(
      graft.functions.MinHashSig.min_hash_sig(col("tk"), 16).as("mh"),
      graft.functions.SimHashSig.sim_hash_sig(col("tk")).as("sh"))
    val p = df.queryExecution.executedPlan.toString
    val projLine = p.linesIterator
      .find(l => l.contains("min_hash_sig") || l.contains("sim_hash_sig"))
      .getOrElse(fail(s"expressions not found in plan:\n$p"))
    assert(projLine.trim.startsWith("*"),
      s"expressions must sit in a WholeStageCodegen stage:\n$p")
  }

  test("pivot with explicit values runs as a single aggregate pass " +
      "(no distinct-collection job)") {
    val q = SparkEntry.queries("q17_pivot")(spark, sf)
    // explicit pivot values ⇒ plan is fully known before execution; a
    // values-less pivot would have to run a collect job at plan time
    assert(q.queryExecution.analyzed.toString.toLowerCase.contains("pivot")
      || q.columns.toSeq == Seq("day", "click", "error", "purchase", "signup", "view"))
  }

  test("partitioned layout: a partition-key predicate prunes at plan time " +
      "and never reaches the row filter") {
    val dir = Files.createTempDirectory("graft_part").toString
    graft.catalog.Tables.t(spark, sf, "events")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("value"))
    val p = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters") && p.contains("event_type"),
      s"partition predicate must prune directories, not filter rows:\n$p")
    // the scan must touch only the one matching partition directory
    val scanned = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned.contains(1), s"expected 1 selected partition, got $scanned")
  }

  test("bucketed tables co-locate the join: no shuffle exchange on either side") {
    val wh = Files.createTempDirectory("graft_wh")
    val s2 = spark
    // warehouse.dir is a static conf — a per-database LOCATION keeps the
    // bucketed tables in a temp dir without touching session statics
    s2.sql(s"CREATE DATABASE IF NOT EXISTS graftb LOCATION '$wh/graftb'")
    try {
      spark.read.parquet(s"$sf/orders.parquet")
        .write.mode("overwrite").bucketBy(8, "o_custkey")
        .sortBy("o_custkey").saveAsTable("graftb.orders_b")
      spark.read.parquet(s"$sf/customer.parquet")
        .write.mode("overwrite").bucketBy(8, "c_custkey")
        .sortBy("c_custkey").saveAsTable("graftb.customer_b")
      val joined = spark.table("graftb.orders_b")
        .hint("merge") // force sort-merge so bucketing (not broadcast) is exercised
        .join(spark.table("graftb.customer_b"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      val p = joined.queryExecution.executedPlan.toString
      val exchangesBeforeAgg = "Exchange hashpartitioning\\((o_custkey|c_custkey)".r
        .findAllIn(p).size
      assert(exchangesBeforeAgg == 0,
        s"bucketed join must not re-shuffle join keys:\n$p")
      // result parity with the plain join
      val plain = spark.read.parquet(s"$sf/orders.parquet")
        .join(spark.read.parquet(s"$sf/customer.parquet"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      assert(joined.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
        plain.collect().map(r => (r.getString(0), r.getLong(1))).toMap)
    } finally {
      s2.sql("DROP TABLE IF EXISTS graftb.orders_b")
      s2.sql("DROP TABLE IF EXISTS graftb.customer_b")
      s2.sql("DROP DATABASE IF EXISTS graftb")
    }
  }

  test("q54: global row numbering never plans a SinglePartition exchange " +
      "(the single-reducer window it replaces does)") {
    val p = plan("q54_scalable_rownum")
    assert(!p.contains("SinglePartition"),
      s"scalable rownum must not funnel rows to one task:\n$p")
    // the naive formulation DOES — prove the contrast on the same data
    val naive = graft.catalog.Tables.t(spark, sf, "documents")
      .withColumn("rid", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))))
    assert(naive.queryExecution.executedPlan.toString.contains("SinglePartition"))
  }

  test("e5: quantization plans no hash-shuffle (per-row math only)") {
    val p = plan("e5_quantize")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row quantization must not hash-shuffle:\n$p")
  }

  test("e6: product quantization plans no hash-shuffle (per-row math only)") {
    val p = plan("e6_pq")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row PQ encoding must not hash-shuffle:\n$p")
  }

  test("compaction rewrite: coalesce bin-packing, no Exchange of any kind") {
    val dir = Files.createTempDirectory("graft_plan_compact").toString
    spark.range(1000).toDF("id")
      .repartition(8).write.mode("overwrite").parquet(dir)
    val p = graft.io.Compaction.rewriteFrame(spark, dir, 2)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("Coalesce") && !p.contains("Exchange"),
      s"the compaction rewrite must bin-pack without shuffling:\n$p")
  }

  test("d26: incremental dedup is one equi-join on the content hash — " +
      "no nested loop, no cartesian product") {
    val p = plan("d26_incremental_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"history probe must stay an equi-join:\n$p")
    assert(p.contains("Join"), s"expected a join in:\n$p")
  }

  test("d25: token-budget selection partitions on source, never " +
      "SinglePartition (no global-window funnel)") {
    val p = plan("d25_token_budget")
    assert(p.contains("Window"), s"expected a window in:\n$p")
    assert(!p.contains("SinglePartition"),
      s"budget windows must stay per-source, not global:\n$p")
  }

  test("d27: corpus shuffle numbers within range partitions — no " +
      "single-reducer global sort window") {
    val p = plan("d27_corpus_shuffle")
    assert(p.contains("Window"), s"expected per-partition windows in:\n$p")
    assert(!p.contains("SinglePartition"),
      s"global positions must come from range partitions + offsets, " +
        s"never one reducer:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-partition offsets must join by broadcast:\n$p")
  }

  test("d28: temperature mix runs on the checkpointed #sources-row " +
      "frame — one corpus scan, totals attach by broadcast") {
    val p = plan("d28_temperature_mix")
    assert(p.contains("ExistingRDD"),
      s"per-source frame must be checkpointed (one corpus scan):\n$p")
    assert(!p.contains("Scan parquet"),
      s"no consumer may re-scan the corpus after the aggregation:\n$p")
    // the two 1-row totals attach via broadcast (post-aggregation
    // metadata, same deliberate shape as d15's corpus-size broadcast)
    assert(p.contains("Broadcast"), s"totals must broadcast:\n$p")
  }

  test("q66: COUNT/MIN/MAX are pushed into the parquet scan as " +
      "PushedAggregation — a footer-only read") {
    val p = plan("q66_metadata_agg")
    assert(p.contains("PushedAggregation: [COUNT(*), MIN(l_orderkey), " +
      "MAX(l_orderkey), MIN(l_quantity), MAX(l_quantity)]"),
      s"all five aggregates must be answered from row-group stats:\n$p")
    assert(p.contains("BatchScan"),
      s"pushdown requires the DSv2 read path:\n$p")
  }

  test("d29: surprisal lookups broadcast the 31-row literal table; " +
      "every corpus-scale join is an equi join") {
    val p = plan("d29_perplexity_filter")
    assert(p.contains("BroadcastHashJoin"),
      s"the nano-nat literal table must attach by broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"scoring must stay equi-join shaped:\n$p")
  }

  test("q69: bucketed co-located join runs with ZERO exchanges under " +
      "the SortMergeJoin, reading all 8 buckets on both sides") {
    // The whole point of the bucketed layout: the shuffle was paid at
    // write time. Unwrap AQE, find the SMJ, and assert no
    // ShuffleExchange anywhere beneath it. (Partition-local Sorts
    // remain — Spark 4 ignores write-time sortBy ordering on read —
    // but a local sort moves no bytes between executors.)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val qe = SparkEntry.queries("q69_bucketed_join")(spark, sf).queryExecution
    val root = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val smjs = root.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, s"expected a sort-merge join:\n$root")
    def offenders(p: SparkPlan): Seq[String] = p.collect {
      case e if e.nodeName.contains("Exchange") => e.nodeName
    }
    for (j <- smjs)
      assert(offenders(j).isEmpty,
        s"bucketed SMJ must need no exchange, found " +
          s"${offenders(j)}:\n$j")
    assert(j2s(smjs.head).contains("SelectedBucketsCount: 8 out of 8"),
      s"both scans must be bucket-aware:\n${j2s(smjs.head)}")
  }

  private def j2s(p: org.apache.spark.sql.execution.SparkPlan): String =
    p.toString

  test("q69 layout bonus: groupBy on the bucket key aggregates with " +
      "ZERO exchanges (bucketing satisfies the distribution)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // materializing q69 (re)creates the bucketed tables in the shared
    // catalog; the aggregation below then plans off the bucketed scan
    SparkEntry.queries("q69_bucketed_join")(spark, sf).collect()
    val tg = graft.catalog.Staging.tag(sf)
    val agg = spark.table(s"graft_bkt_orders_$tg")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("tot"))
    val root = agg.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = root.collect {
      case e if e.nodeName.contains("Exchange") => e.nodeName
    }
    assert(exchanges.isEmpty,
      s"bucketed-key aggregation must shuffle nothing, found " +
        s"$exchanges:\n$root")
  }

  test("q70: the partition predicate prunes at the directory level — " +
      "PartitionFilters carries event_type, data filters stay empty") {
    val p = plan("q70_partition_pruning")
    assert(p.contains("PartitionFilters:") && p.contains("event_type"),
      s"partition filter must name event_type:\n$p")
    // the predicate is satisfied entirely by pruning: event_type never
    // appears in the data read (ReadSchema) and no data filter is pushed
    assert(!p.contains("PushedFilters: [I"),
      s"no residual data filter should remain after pruning:\n$p")
    assert("ReadSchema: [^\n]*event_type".r.findFirstIn(p).isEmpty,
      s"the partition column must not be read from data pages:\n$p")
  }

  test("q72: the quantity predicate reaches the ORC reader as a " +
      "pushed filter (stripe-level min/max skipping)") {
    val p = plan("q72_orc_interchange")
    assert(p.contains("Scan orc") || p.contains("BatchScan orc")
      || p.contains("Format: orc") || p.toLowerCase.contains("orc"),
      s"expected an ORC scan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), " +
      "GreaterThanOrEqual(l_quantity,45.0)]"),
      s"l_quantity >= 45.0 must be pushed into the ORC scan:\n$p")
  }

  test("q73: the dimension filter prunes the partitioned fact scan at " +
      "runtime — dynamicpruning inside PartitionFilters") {
    val p = plan("q73_dynamic_pruning")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"fact scan must carry a runtime partition-pruning predicate:\n$p")
    assert(p.contains("PartitionFilters:"),
      s"expected partition filters on the fact scan:\n$p")
  }

  test("g1: each pagerank iteration is equi-join + groupBy on node " +
      "ids off a checkpointed edge set — no node-by-node cross product") {
    val p = plan("g1_pagerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"rank propagation must stay equi-join shaped:\n$p")
    assert(p.contains("ExistingRDD"),
      s"the edge set must be checkpointed, not re-derived per step:\n$p")
  }

  test("d31: the posting-list cap runs through the O(k) TopKPerKey " +
      "operator before any collect_list buffers rows") {
    val p = plan("d31_inverted_index")
    assert(p.contains("TopKPerKey"),
      s"posting cap must be the bounded-heap native operator:\n$p")
    assert(!p.contains("Window"),
      s"no per-term window sort may replace the bounded heap:\n$p")
  }

  test("q76: the funnel cascades broadcast equi-joins on user_id — " +
      "never an event-by-event product") {
    val p = plan("q76_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"funnel stages must stay equi-join shaped:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-user stage aggregates must broadcast back:\n$p")
  }

  test("q77: retention aggregates the compact distinct user-day table, " +
      "joined per-user — no cross product, no event self-join") {
    val p = plan("q77_retention")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"retention must stay equi-join shaped:\n$p")
  }

  test("d32: candidate generation is an equi-join on prefix shingles — " +
      "the exact setsim join never forms a corpus x corpus product") {
    val p = plan("d32_setsim_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"prefix-filtered setsim must stay equi-join shaped:\n$p")
  }

  test("d33: the exact verify joins broadcast the sketch-sized candidate " +
      "set — the only full-corpus work is the narrow token pass") {
    val p = plan("d33_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate verify must broadcast the <=29-row side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no unbounded product anywhere in the sketch-verify plan:\n$p")
  }

  test("q78: the winsorize cut frame broadcasts back to the corpus — " +
      "one sort window, no second full-data shuffle for the clamp") {
    val p = plan("q78_winsorize")
    assert(p.contains("BroadcastHashJoin"),
      s"3-row cuts must broadcast, not shuffle, onto the corpus:\n$p")
  }

  test("q78/q88: rank picks go through RankSelect's size gate — at the " +
      "test scale the windowed small path runs over the duplicate-" +
      "collapsed HISTOGRAM (no SinglePartition), and the distributed " +
      "path (forced) keeps every Window on a (range-chunk, group) slice") {
    // small-gated path: the catalog plans at sf0.01 (1 MB input < the
    // 32 MB gate). The group-keyed window here is ALLOWLISTED BY THE
    // GATE: it sorts the value histogram, not the corpus, and only when
    // the file-backed input is under minDistributedBytes.
    for (q <- Seq("q78_winsorize", "q88_ntile_nth")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"),
        s"$q must not funnel any stage through one task:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: cuts/targets must attach by broadcast:\n$p")
    }
    // distributed path, forced (minDistributedBytes = 0): every Window
    // node must key its partition spec on the range-chunk pid, not the
    // group column alone — a [rf]-only partitionSpec is the 3-task
    // full-group sort the rewrite removed. This is the ONLY path a
    // large input can take, so the pin covers the at-scale shape.
    val pr = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag").as("rf"),
        col("l_extendedprice").cast("decimal(12,2)").as("p"))
    val targets = pr.groupBy("rf").agg(count(lit(1)).as("n"))
      .select(col("rf"), expr("(n + 9) div 10").as("k"))
    val dist = graft.operators.RankSelect.valueAtRanks(
      pr, "rf", "p", targets, minDistributedBytes = 0L)
    val p = dist.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("SinglePartition"),
      s"distributed RankSelect must not funnel through one task:\n$p")
    val windows = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, s"expected a Window node in:\n$p")
    windows.foreach { l =>
      assert(l.contains("_pid"),
        s"window must partition by (_pid, grp), got: $l")
    }
    assert(p.contains("BroadcastHashJoin"),
      s"offsets/targets must attach by broadcast:\n$p")
  }

  test("e11: the 512-row centroid table joins by broadcast each " +
      "iteration — the corpus never self-joins during training") {
    val p = plan("e11_kmeans_train")
    assert(p.contains("BroadcastHashJoin"),
      s"centroid attach must be a broadcast join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no unbounded product anywhere in Lloyd training:\n$p")
  }

  test("e12: trained-IVF serving keeps the e11 shape — broadcast " +
      "codebook, equi-join candidate probes, no corpus product") {
    val p = plan("e12_ivf_trained")
    assert(p.contains("BroadcastHashJoin"),
      s"the trained codebook must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"probe candidates must come from equi-joins only:\n$p")
  }

  test("g4: each label-propagation round is an adjacency equi-join + " +
      "bounded aggregates off the checkpointed edge set") {
    val p = plan("g4_label_prop")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"LPA rounds must stay equi-join shaped:\n$p")
  }

  test("d34: containment probing is the count-join shape — shingle " +
      "equi-join + one groupBy, never an all-pairs product") {
    val p = plan("d34_containment_probe")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"containment must stay count-join shaped:\n$p")
  }

  test("q86: the skyline's global running max never plans a " +
      "SinglePartition exchange") {
    val p = plan("q86_skyline")
    assert(!p.contains("SinglePartition"),
      s"the descending prefix max must not funnel through one task:\n$p")
  }

  test("q81: the global running sum never plans a SinglePartition " +
      "exchange — range partitions + broadcast prefix offsets instead") {
    val p = plan("q81_concurrency")
    assert(!p.contains("SinglePartition"),
      s"the sweep must not funnel through one task:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"prefix offsets must attach by broadcast:\n$p")
  }

  test("q93: the global CDF running sums never plan a SinglePartition " +
      "exchange — range partitions + broadcast prefix offsets (q81 " +
      "machinery generalized to two parallel sums)") {
    val p = plan("q93_ks_drift")
    // the Window (the per-row CDF sweep) must sort within pid hash
    // partitions — the only SinglePartition allowed is the final 1-row
    // max merge, which moves one partial per task, not the support
    assert(p.contains("hashpartitioning(pid"),
      s"the CDF window must run inside pid partitions:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"prefix offsets must attach by broadcast:\n$p")
    val windowPart = p.linesIterator.find(_.contains("Window")).isDefined
    assert(windowPart, s"expected a Window node:\n$p")
  }

  test("d35: BM25 top-20 plans as TakeOrderedAndProject — never a " +
      "global sort of every scored document") {
    val p = plan("d35_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      s"bounded top-k must not global-sort:\n$p")
  }

  test("q80: null-safe equality still plans as a HASH join (the <=> key " +
      "is hashable), never a nested loop") {
    val p = plan("q80_nullsafe_join")
    assert(p.contains("HashJoin"),
      s"<=> must hash-join:\n$p")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"null-safe equality must not fall back to a loop join:\n$p")
  }

  test("q97: the Bloom bit table attaches by broadcast and nothing " +
      "plans a product — the probe side pays one scan + one groupBy") {
    val p = plan("q97_bloom_prefilter")
    assert(p.contains("BroadcastHashJoin"),
      s"the <=2048-row bit table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"bloom probe must stay equi-join shaped:\n$p")
  }

  test("q96: class sizes attach by broadcast — the release is one " +
      "corpus scan, not a shuffle join on the quasi-identifier") {
    val p = plan("q96_k_anonymity")
    assert(p.contains("BroadcastHashJoin"),
      s"the 125-row class table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
  }

  test("q99: pair generation is an equi-join on the order key (bounded " +
      "fan-out) and the top-20 cut is TakeOrderedAndProject") {
    val p = plan("q99_cooccur")
    assert(p.contains("TakeOrderedAndProject"),
      s"deterministic top-20 must not global-sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"the pair join must stay keyed on the order id:\n$p")
  }

  test("q91: the median pick runs once — c_med rides the dev histogram, " +
      "so the executed plan holds one Window (the MAD pick), not two") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.children.flatMap(nodes)
    })
    val q = SparkEntry.queries("q91_mad_outliers")(spark, sf)
    assert(q.collect().nonEmpty)
    val windows = nodes(q.queryExecution.executedPlan)
      .count(_.isInstanceOf[WindowExec])
    assert(windows == 1,
      s"expected one Window (MAD) after the checkpoints, got $windows:\n" +
        q.queryExecution.executedPlan)
  }

  test("IVF tier entries: schemas and sorted-row SHA-256 at sf0.01 stay " +
      "pinned for e8/e8b/e8c/e16/e16b/e16c/e18/e18c") {
    // the literals came from the separate per-tier implementations this
    // operator replaced, so they are a reference independent of it;
    // doubles hash by their raw bits, so any drift in a cell, a pair or
    // the mix allocation changes the digest
    assume(!sys.env.contains("SPARK_GRAFT_IVF_CMAX"),
      "digests are pinned at the default cell-count cap")
    val expect: Map[String, (String, String)] = Map(
      "e16_semantic_decontam" -> ("vec_id:bigint,cell:bigint,n_near_eval:bigint,witness_eval:bigint,keep:bigint",
        "678b0d9a340177e7bfeaed617546d4af4898becec0114c5f1def15712bac6103"),
      "e16b_decontam_scaled" -> ("vec_id:bigint,cell:bigint,n_near_eval:bigint,witness_eval:bigint,keep:bigint",
        "f83bddb5feb715766412a7a7f8c08783acf976d1fd9ae9d088ba2a629ce3d61b"),
      "e16c_decontam_sharded" -> ("vec_id:bigint,shard:bigint,cell:bigint,n_near_eval:bigint,witness_eval:bigint,keep:bigint,n_shards:bigint,n_cells:bigint",
        "01d1b43dc1e2067ef1272bae16a0412c04524288de607f85623e61a8a142b4d7"),
      "e18_e2e_vector_pipeline" -> ("source:string,tokens:bigint,p:double,alloc:bigint",
        "64bdd3d827e15514b45e0c21193aa2090d150ab617927e4c554c29371ba1b4e2"),
      "e18c_e2e_sharded_pipeline" -> ("source:string,tokens:bigint,p:double,alloc:bigint",
        "64bdd3d827e15514b45e0c21193aa2090d150ab617927e4c554c29371ba1b4e2"),
      "e8_embed_dedup_ivf" -> ("vec_id:bigint,cell:bigint,rep_id:bigint",
        "0f7e20120af5b5c380c99df846e89fabecaaa9ef397a3439a266fe9de58aab37"),
      "e8b_embed_dedup_scaled" -> ("vec_id:bigint,cell:bigint,rep_id:bigint,n_cells:bigint",
        "e55ad55e20ba918df407c74e2fd5ba9eff201df950e4c405c4e9f8b27bf2d8ac"),
      "e8c_embed_dedup_sharded" -> ("vec_id:bigint,shard:bigint,cell:bigint,rep_id:bigint,n_shards:bigint,n_cells:bigint",
        "38e833f6a7cfd65c3642a0c02867002227cd4f68fda44719a40cf52f22ba55cf"))
    def digest(df: org.apache.spark.sql.DataFrame): (String, String) = {
      val schema = df.schema.fields
        .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
      val rows = df.collect().map(_.toSeq.map {
        case d: Double => java.lang.Long.toHexString(
          java.lang.Double.doubleToRawLongBits(d))
        case x => String.valueOf(x)
      }.mkString("|")).sorted.mkString("\n")
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(rows.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      (schema, sha)
    }
    val got = Seq("e8_embed_dedup_ivf", "e8b_embed_dedup_scaled",
        "e8c_embed_dedup_sharded", "e16_semantic_decontam",
        "e16b_decontam_scaled", "e16c_decontam_sharded",
        "e18_e2e_vector_pipeline", "e18c_e2e_sharded_pipeline")
      .map(q => q -> digest(SparkEntry.queries(q)(spark, sf))).toMap
    assert(got == expect, got.toSeq.sortBy(_._1).map { case (q, (sc, h)) =>
      s"""      "$q" -> ("$sc",\n        "$h"),"""
    }.mkString("\n", "\n", ""))
  }
}
