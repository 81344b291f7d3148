package graft

import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin

/** Edge-case specs for the round-3 hardening fixes: DotProductRewrite
  * seed-sign legality, AsOfJoin tie determinism, Tables.events conf
  * isolation, raw-text sink fidelity. */
class EdgeSpec extends SparkSuite {

  test("DotProductRewrite does NOT fire on a -0.0 seed (sign-bit legality)") {
    val s2 = spark; import s2.implicits._
    val df = Seq((Array.empty[Double], Array.empty[Double])).toDF("a", "b")
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(-0.0), (acc, v) => acc + v).as("dot"))
    val rewritten = graft.plans.DotProductRewrite(hof.queryExecution.analyzed)
    assert(!rewritten.toString.contains("dot_product"),
      "rule must not rewrite a fold seeded with -0.0")
    // the HOF itself keeps the negative zero: 1/-0.0 = -Inf
    val v = hof.collect().head.getDouble(0)
    assert(1.0 / v == Double.NegativeInfinity)
  }

  test("DotProductRewrite on empty arrays returns +0.0, same as the HOF") {
    val s2 = spark; import s2.implicits._
    val df = Seq((Array.empty[Double], Array.empty[Double])).toDF("a", "b")
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v).as("dot"))
    val rewritten = graft.plans.DotProductRewrite(hof.queryExecution.analyzed)
    assert(rewritten.toString.contains("dot_product"), "rule should fire on +0.0")
    val viaRule = org.apache.spark.sql.GraftBridge.ofRows(spark, rewritten)
      .collect().head.getDouble(0)
    val direct = hof.collect().head.getDouble(0)
    assert(java.lang.Double.doubleToRawLongBits(viaRule) ==
      java.lang.Double.doubleToRawLongBits(direct), "must be bit-identical (+0.0)")
  }

  test("AsOfJoin: right rows tied on (key, time) resolve deterministically") {
    val s2 = spark; import s2.implicits._
    val left = Seq(("k", 5L, "probe")).toDF("key", "lt", "payload")
    // two right rows at the SAME (key, time) but different carried values;
    // shuffled input order must not change the winner
    val right = Seq(("k", 5L, "beta"), ("k", 5L, "alpha"), ("k", 3L, "old"))
      .toDF("key", "rt", "v").repartition(4)
    val results = (1 to 5).map { _ =>
      AsOfJoin.asofBackward(left, right, Seq("key"), "lt", "rt", Seq("v"))
        .collect().head.getAs[String]("asof_v")
    }
    // lexicographically-greatest tied value wins, every run
    assert(results.toSet == Set("beta"), s"nondeterministic tie: $results")
  }

  test("Tables.events reads nanos without mutating the session conf") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    val before = spark.conf.getOption(key) // registered default ("false")
    val df = graft.catalog.Tables.events(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(df.count() > 0)
    assert(spark.conf.getOption(key) == before,
      "events read must not flip the legacy nanos conf on the session")
  }

  test("Tables.events: nanos-vintage and micros-vintage corpora decode " +
      "to identical rows (unit detection from the footer)") {
    import org.apache.spark.sql.functions._
    val orig = graft.catalog.Tables.events(spark, "/root/testdata/sf0.001")
    // re-stage the same table as the LEGACY vintage: ts as raw int64
    // nanoseconds (what the TIMESTAMP(NANOS) files yield to a reader)
    val staged = java.nio.file.Files.createTempDirectory("graft_evnanos")
    orig.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      .write.mode("overwrite").parquet(s"$staged/events.parquet")
    val legacy = graft.catalog.Tables.events(spark, staged.toString)
    assert(legacy.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val a = orig.orderBy("event_id").collect().toSeq
    val b = legacy.orderBy("event_id").collect().toSeq
    assert(a == b, "both corpus vintages must decode identically")
  }

  test("TopKPerKey: nulls in the order column and k > group size match " +
      "the window formulation exactly") {
    val s2 = spark; import s2.implicits._
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerKeyStrategy
    val df = Seq((1L, 10L, Some(5.0)), (1L, 11L, None), (1L, 12L, Some(7.0)),
      (1L, 13L, Some(7.0)), (2L, 20L, None), (3L, 30L, Some(1.0)))
      .toDF("k", "id", "v").repartition(3)
    val plan = df.queryExecution.analyzed
    def a(n: String) = plan.output.find(_.name == n).get
    val native = org.apache.spark.sql.GraftBridge.ofRows(spark,
      graft.plans.TopKPerKey(Seq(a("k")),
        Seq(SortOrder(a("v"), Descending), SortOrder(a("id"), Ascending)),
        2, plan))
      .select("k", "id", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
      .orderBy(col("v").desc, col("id").asc)
    val windowed = df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 2).select("k", "id", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(native == windowed, s"native=$native windowed=$windowed")
  }

  test("TopKPerKey: adversarial key cardinality (every row its own key) " +
      "stays O(k)-resident and matches the window formulation") {
    val s2 = spark; import s2.implicits._
    // 200k distinct keys in a handful of partitions: the round-3 design
    // (a LinkedHashMap of per-key heaps) held all 200k heaps at once;
    // the streaming design holds ONE — correctness must be unchanged
    val n = 200000
    val df = spark.range(n)
      .select((col("id") % n).as("k"), col("id").as("id"),
        (col("id") % 97).cast("double").as("v"))
      .repartition(4)
    val native = graft.plans.TopKPerKey.of(df, Seq("k"),
        Seq("v" -> false, "id" -> true), 2)
      .agg(count(lit(1)), sum(col("rk")), sum(col("id")))
      .collect().head
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
      .orderBy(col("v").desc, col("id").asc)
    val windowed = df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 2)
      .agg(count(lit(1)), sum(col("rk")), sum(col("id")))
      .collect().head
    assert(native == windowed, s"native=$native windowed=$windowed")
  }

  test("ConnectedComponents: a 100-deep chain converges within maxIter " +
      "(pointer doubling gives O(log diameter) rounds)") {
    val s2 = spark; import s2.implicits._
    val edges = (0L until 99L).map(i => (i, i + 1)).toDF("src", "dst")
    val nodes = (0L to 99L).toDF("node")
    val got = graft.operators.ConnectedComponents.minLabel(nodes, edges)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster"))
    assert(got.length == 100 && got.forall(_._2 == 0L),
      "every chain node must resolve to the minimum label 0")
  }

  test("ConnectedComponents.largeSmallStar: a 2000-deep path (adversarial " +
      "diameter) converges in O(log^2) rounds and matches minLabel") {
    val s2 = spark; import s2.implicits._
    // a path graph is the worst case for plain (non-doubled) propagation:
    // diameter 1999 would exhaust any reasonable maxIter. The star
    // algorithm's per-round collapse is shape-independent. Node ids are
    // SHUFFLED (i*1117 mod 2003, a bijection mod the prime 2003) so the
    // minimum sits mid-chain, not at an end.
    val p = 2003L
    def perm(i: Long): Long = (i * 1117L) % p
    val edges = (0L until p - 1).map(i => (perm(i), perm(i + 1)))
      .toDF("src", "dst").repartition(8)
    val nodes = (0L until p).map(perm).toDF("node")
    val got = graft.operators.ConnectedComponents
      .largeSmallStar(nodes, edges, maxIter = 25)
      .collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("cluster")))
    assert(got.length == p && got.forall(_._2 == 0L),
      "every path node must resolve to the component minimum 0")

    // cross-check the two algorithms on a mixed random graph: several
    // components, singletons, and a triangle
    val rnd = new scala.util.Random(7)
    val mixed = ((0 until 300).map { _ =>
      val a = rnd.nextInt(120).toLong; val b = rnd.nextInt(120).toLong
      (a, b)
    } ++ Seq((200L, 201L), (201L, 202L), (202L, 200L))).toDF("src", "dst")
    val mixedNodes = ((0L until 120L) ++ Seq(200L, 201L, 202L, 999L))
      .toDF("node")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = m(graft.operators.ConnectedComponents.minLabel(mixedNodes, mixed))
    val b = m(graft.operators.ConnectedComponents.largeSmallStar(mixedNodes, mixed))
    assert(a == b, s"algorithms disagree: ${a.toSet.diff(b.toSet)}")
  }

  test("d11 under spark.graft.cc.algorithm=stars matches the default") {
    val sf = "/root/testdata/sf0.001"
    val dflt = SparkEntry.queries("d11_dedup_clusters")(spark, sf).collect()
    spark.conf.set("spark.graft.cc.algorithm", "stars")
    try {
      val stars = SparkEntry.queries("d11_dedup_clusters")(spark, sf).collect()
      assert(dflt.toSeq == stars.toSeq)
    } finally spark.conf.unset("spark.graft.cc.algorithm")
  }

  test("ConnectedComponents: chain, pair, and singleton resolve to min labels") {
    val s2 = spark; import s2.implicits._
    // chain 1-2-3-4 (diameter 3, needs >1 iteration), pair 10-11,
    // singleton 20 (no edges at all)
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("node")
    val got = graft.operators.ConnectedComponents.minLabel(nodes, edges)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("cluster")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("minhashLshPairs: a 5k-clone mega-bucket is dropped (bounded pair " +
      "count) while genuine near-dup pairs in small buckets are kept") {
    val s2 = spark; import s2.implicits._
    // 5,000 byte-identical docs — the boilerplate worst case. All of them
    // share one minhash signature, so every band hashes them into a single
    // (band, band_key) bucket of size 5,000: 8 x C(5000,2) ≈ 100M join
    // rows without the oversized-bucket guard. With the guard the bucket
    // is dropped wholesale (exact dedup d1 owns byte-identical copies).
    val cloneText = (0 until 40).map(i => s"clone$i").mkString(" ")
    val clones = (0L until 5000L).map(i => (i, cloneText))
    // 5 genuine near-dup PAIRS, each with its own vocabulary — tiny
    // buckets of size 2 that must survive the cap
    val pairs = (0 until 5).flatMap { p =>
      val txt = (0 until 40).map(j => s"p${p}w$j").mkString(" ")
      Seq((100000L + 2 * p, txt), (100001L + 2 * p, txt))
    }
    val docs = (clones ++ pairs).toDF("doc_id", "text").repartition(16)
    val (pairsDf, statsDf) =
      graft.catalog.Approx.minhashLshPairsWithStats(docs)
    val got = pairsDf
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val expected = (0 until 5)
      .map(p => (100000L + 2 * p, 100001L + 2 * p)).toSet
    assert(got == expected,
      s"guard must drop clone mega-buckets and keep small ones: $got")
    // dropped-mass-as-data (d43 surface): the clone signature floods
    // one bucket in every band — 8 dropped buckets x 5000 entries
    val st = statsDf.collect().head
    assert(st.getAs[Long]("dropped_groups") == 8L
      && st.getAs[Long]("dropped_entries") == 40000L,
      s"stats must expose the dropped mega-buckets: $st")
  }

  test("minhashLshPairs: the xxhash64 fast family and the md5 oracle " +
      "family emit the identical verified pair set") {
    // The two signature families bucket differently, but both candidate
    // sets pass through the same exact-Jaccard >= 0.5 verification; on
    // this corpus (near-dups are high-jaccard, so per-band collision
    // probability is near 1 for true pairs in BOTH families) the final
    // verified outputs must coincide row for row — the parity pin that
    // lets the catalog run md5 mode under the SQL oracle while the 100 TB
    // path stays on the compiled xxhash64 expression.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    def rows(md5Mode: Boolean) =
      graft.catalog.Approx.minhashLshPairs(docs, md5Sig = md5Mode)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Double]("jaccard"))).toSet
    val fast = rows(false)
    val md5m = rows(true)
    assert(fast.nonEmpty, "corpus must contain near-dup pairs")
    assert(fast == md5m,
      s"families diverge: fast-only=${fast -- md5m} md5-only=${md5m -- fast}")
  }

  test("cooccurPairs: a 500-item mega-basket is dropped (bounded pair " +
      "count) while normal baskets' pairs survive") {
    val s2 = spark; import s2.implicits._
    // one pathological basket (a bot cart): C(500,2) ≈ 125k pairs from
    // ONE key without the guard — quadratic in basket size. Plus 10
    // normal 3-item baskets sharing overlapping parts so real support
    // accumulates.
    val mega = (0L until 500L).map(p => (999L, p))
    val normal = (0 until 10).flatMap(b =>
      Seq((b.toLong, 1L), (b.toLong, 2L), (b.toLong, 3L)))
    val items = (mega ++ normal).toDF("ok", "p").repartition(8)
    val (pairsDf, statsDf) =
      graft.catalog.Extended.cooccurPairsWithStats(items)
    val got = pairsDf.collect()
      .map(r => (r.getAs[Long]("pa"), r.getAs[Long]("pb")) ->
        r.getAs[Long]("support")).toMap
    assert(got == Map((1L, 2L) -> 10L, (1L, 3L) -> 10L, (2L, 3L) -> 10L),
      s"guard must drop the mega-basket and keep normal support: $got")
    // dropped-mass-as-data (d43 surface): exactly the one mega-basket
    val st = statsDf.collect().head
    assert(st.getAs[Long]("dropped_groups") == 1L
      && st.getAs[Long]("dropped_entries") == 500L,
      s"stats must expose the dropped mega-basket: $st")
  }

  test("ivfDedup: the C scale knob — C=64 over a 5k clustered corpus " +
      "collapses every near-copy group to its minimum id") {
    import graft.catalog.Approx
    import graft.catalog.Approx.{FixedC, ScaledC}
    val s2 = spark; import s2.implicits._
    // 1000 clusters x 5 near-copies: copies differ by a tiny per-dim
    // delta (cosine vs their base ≈ 1), different clusters are random
    // uniform 64-dim vectors (cosine concentrates near 0 << tau). The
    // oracle-pinned catalog entry uses the fixed tier at C=16; this
    // drives the SAME code at C=64 — correctness of the dedup semantics must not depend on
    // the cell count, only recall does (copies nearly share all probe
    // cells, so within-cluster recall stays ~1 at any C).
    def unit(seed: Long): Double = {
      var z = seed + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble
    }
    val rows = (0 until 1000).flatMap { c =>
      val base = Array.tabulate(64)(d => (unit(c.toLong * 64 + d) - 0.5).toFloat)
      (0 until 5).map { r =>
        val v = base.clone()
        v(r % 64) = v(r % 64) + 0.001f * (r + 1) // tiny per-copy nudge
        (c * 5L + r, v)
      }
    }
    val emb = rows.toDF("vec_id", "embedding").repartition(8)
    val got = Approx.ivfDedupShardedAt(emb, P = 4, tau = 0.9, FixedC(64))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("rep_id"))
    assert(got.length == 5000)
    val wrong = got.count { case (v, rep) => rep != (v / 5) * 5 }
    // copies can only miss if none of their probe cells overlap — with a
    // shared base vector the top-4 cells are essentially identical
    assert(wrong <= 50, s"$wrong/5000 vectors missed their cluster minimum")
    // the SAME corpus through the count-scaled tier (e8b/e16b's
    // production assignment: C = scaledCAt(5000) = 256 from the count,
    // top-2 of scaledSuperC(256)=16 supers, then their children):
    // near-copies still share their probe cells — the two vectors are
    // nearly identical, so they rank the SAME supers and the SAME
    // children — and must collapse identically. Recall may differ from
    // the flat path only for barely-similar CROSS-cluster pairs, which
    // tau=0.9 excludes anyway.
    val got2 = Approx.ivfDedupShardedAt(emb, P = 4, tau = 0.9,
        ScaledC(4096, sharded = false))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("rep_id"))
    assert(got2.length == 5000)
    val wrong2 = got2.count { case (v, rep) => rep != (v / 5) * 5 }
    assert(wrong2 <= 50,
      s"$wrong2/5000 vectors missed their cluster minimum (two-level)")
  }

  test("scaledPlanes: the integer ladder matches the oracle's VALUES " +
      "ladder at every boundary (2^P >= ceil(n/64), clamped " +
      "[6, lshPmax]); the PMAX escape and its clamp diagnostic") {
    import graft.catalog.Approx
    import graft.catalog.Approx.scaledPlanes
    // below-floor and floor: ceil(n/64) <= 64 keeps P at 6
    assert(scaledPlanes(0L) == 6)
    assert(scaledPlanes(1L) == 6)
    assert(scaledPlanes(64L << 6) == 6)       // 4096: ceil = 64 = 2^6
    assert(scaledPlanes((64L << 6) + 1) == 7) // 4097: ceil = 65 > 2^6
    assert(scaledPlanes(64L << 7) == 7)
    assert(scaledPlanes((64L << 7) + 1) == 8)
    // ceiling division, not floor: 64*2^7 - 63 still needs 2^7 slots
    assert(scaledPlanes((64L << 7) - 63) == 7)
    assert(scaledPlanes((64L << 7) - 64) == 7)
    // default-cap boundary and clamp (env-coupled like ivfCmax: skip
    // under an exported override, the parameterized pins below carry)
    if (!sys.env.contains("SPARK_GRAFT_LSH_PMAX")) {
      assert(Approx.lshPmax == 16)
      assert(scaledPlanes(64L << 16) == 16)
      assert(scaledPlanes((64L << 16) + 1) == 16)
      assert(scaledPlanes(Long.MaxValue / 2) == 16)
    }
    // the cap-PARAMETERIZED ladder (SPARK_GRAFT_LSH_PMAX lockstep):
    // a forced-low cap binds at test scale, a raised cap keeps climbing
    assert(Approx.scaledPlanesAt(5000L, 6) == 6)   // natural 7, clamped
    assert(Approx.scaledPlanesAt(5000L, 16) == 7)  // natural
    assert(Approx.scaledPlanesAt(64L << 16, 20) == 16)
    assert(Approx.scaledPlanesAt((64L << 16) + 1, 20) == 17) // escape
    assert(Approx.scaledPlanesAt(64L << 22, 20) == 20)       // raised clamp
    // the clamp diagnostic: speaks exactly when 2^pmax < ceil(n/64),
    // names the escape env var and strict mode
    assert(Approx.lshClampDiagnostic(64L << 16, 16).isEmpty)
    val d = Approx.lshClampDiagnostic((64L << 16) + 1, 16)
    assert(d.isDefined && d.get.contains("SPARK_GRAFT_LSH_PMAX") &&
      d.get.contains("SPARK_GRAFT_LSH_STRICT"))
    assert(Approx.lshClampDiagnostic(5000L, 6).isDefined) // forced cap binds
    assert(Approx.lshClampDiagnostic(5000L, 7).isEmpty)
  }

  test("lshScaledTop3: the P scale knob — a 5k corpus forces P=7 and " +
      "planted near-copies of every query stay its exact top-3") {
    val s2 = spark; import s2.implicits._
    // queries 0..7; copies of query q at ids 8+3q..10+3q (cosine ~ 1
    // vs their query — every sign bit agrees up to a <=0.0015
    // projection nudge, and Hamming-1 multiprobe covers a single
    // flip); 4968 uniform background vectors (cosine concentrates
    // near 0 << any copy's). n=5000 > 64*2^6 drives scaledPlanes to 7,
    // so this exercises a DIFFERENT plane set and probe count than the
    // sf0.01 oracle gate (P=6).
    def unit(seed: Long): Double = {
      var z = seed + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (z >>> 11).toDouble / (1L << 53).toDouble
    }
    def vec(seed: Long) =
      Array.tabulate(64)(d => (unit(seed * 64 + d) - 0.5).toFloat)
    val queries = (0 until 8).map(q => (q.toLong, vec(q.toLong)))
    val copies = (0 until 8).flatMap { q =>
      (0 until 3).map { r =>
        val v = vec(q.toLong)
        v(r) = v(r) + 0.003f * (r + 1)
        (8L + 3 * q + r, v)
      }
    }
    val bg = (32 until 5000).map(i => (i.toLong, vec(1000L + i)))
    val emb = (queries ++ copies ++ bg).toDF("vec_id", "embedding")
      .repartition(8)
    val rows = graft.catalog.Approx.lshScaledTop3(emb).collect()
    assert(rows.forall(_.getAs[Long]("n_planes") == 7L),
      "5k corpus must scale the ladder to P=7")
    val top = rows.groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("c_id")).toSet }
    val hits = (0 until 8).map { q =>
      val want = (0 until 3).map(r => 8L + 3 * q + r).toSet
      (top.getOrElse(q.toLong, Set.empty) & want).size
    }.sum
    // a copy misses only if >= 2 sign bits flip in EVERY one of the 8
    // tables — allow one stray miss out of 24, not more
    assert(hits >= 23, s"planted near-copies recalled $hits/24")
  }

  test("readReports: malformed numeric cells null the typed column but " +
      "keep the verbatim raw twin") {
    val dir = java.nio.file.Files.createTempDirectory("graft_malformed")
    java.nio.file.Files.writeString(dir.resolve("MB_L1_report.tsv"),
      "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n" +
        "0.1\tnot_a_number\t30\t300\t1.0\t0.5\t10\tspecies\tEcoli\n" +
        "0.2\t20\t20\t200\t1.0\t0.5\t20\tspecies\tStaph\n")
    val df = graft.io.ReportReader.readReports(spark,
      Seq(dir.resolve("MB_L1_report.tsv").toString))
    val rows = df.orderBy("taxID").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(rows(0).fieldIndex("reads")),
      "malformed long must null, not crash (ANSI try_cast)")
    assert(rows(0).getAs[String]("_raw_reads") == "not_a_number",
      "raw twin keeps the original text")
    assert(rows(1).getAs[Long]("reads") == 20L)
  }

  test("synthesized reports echo species-row text VERBATIM (K4 fidelity)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_raw")
    // trailing-zero decimals that a double round-trip would mangle
    java.nio.file.Files.writeString(dir.resolve("RW_L1_report.tsv"),
      "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName\n" +
        "0.10\t30\t30\t300\t1.50\t0.50\t10\tspecies\tEcoli\n")
    java.nio.file.Files.writeString(dir.resolve("d.tsv"), "RW_L1_x\ty\t100\n")
    java.nio.file.Files.writeString(dir.resolve("r.tsv"), "ZZ_x\ty\t5\n")
    val species = graft.io.ReportReader.readReports(spark,
      Seq(dir.resolve("RW_L1_report.tsv").toString))
    val totals = graft.ops.Synthesize.totalReads(spark,
      dir.resolve("d.tsv").toString, dir.resolve("r.tsv").toString)
    val outDir = java.nio.file.Files.createTempDirectory("graft_raw_out").toString
    val written = graft.ops.Synthesize.writeCompleteReports(
      spark, species, totals, outDir)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(written.head))
    val speciesLine = (0 until lines.size).map(lines.get)
      .find(_.endsWith("\tEcoli")).get
    assert(speciesLine == "0.10\t30\t30\t300\t1.50\t0.50\t10\tspecies\tEcoli",
      s"species row not verbatim: $speciesLine")
  }

  test("RankSelect.valueAtRanks == sort-based reference on random data " +
      "with duplicates, skewed groups, and boundary ranks") {
    val s2 = spark; import s2.implicits._
    // deterministic pseudo-random corpus: 3 groups of very different
    // sizes (the q78 shape), heavy value duplication so rank intervals
    // genuinely span multiple ranks
    def mix(i: Long): Long = { // splitmix-ish, deterministic
      var z = i * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) & Long.MaxValue
    }
    val rows = (0L until 3000L).map { i =>
      val g = if (i % 10 < 7) "a" else if (i % 10 < 9) "b" else "c"
      (g, (mix(i) % 40L) + 1L) // values 1..40 → many duplicates
    }
    val df = rows.toDF("grp", "v")
    val byG = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(_._2).sorted.toVector
    }
    // targets: first, last, middle, and a duplicated-value rank per group
    val targets = byG.toSeq.flatMap { case (g, vs) =>
      Seq(1L, vs.size.toLong, (vs.size / 2).toLong.max(1L), 7L)
        .distinct.map(k => (g, k))
    }.toDF("grp", "k")
    val expect = byG.toSeq.flatMap { case (g, vs) =>
      Seq(1L, vs.size.toLong, (vs.size / 2).toLong.max(1L), 7L)
        .distinct.map(k => (g, k) -> vs((k - 1).toInt))
    }.toMap
    // BOTH gate paths against the same reference: a LocalRelation frame
    // sizes via stats (tiny), so the default takes the windowed small
    // path and minDistributedBytes = 0 forces the distributed
    // prefix-offset path
    for (minBytes <- Seq(Long.MaxValue, 0L)) {
      val got = graft.operators.RankSelect
        .valueAtRanks(df, "grp", "v", targets, parts = 8,
          minDistributedBytes = minBytes)
        .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("k"))
          -> r.getAs[Long]("v"))
        .toMap
      assert(got == expect,
        s"rank picks diverged (minBytes=$minBytes): " +
          s"only-got=${got.toSet -- expect.toSet} " +
          s"only-ref=${expect.toSet -- got.toSet}")
      // exactly one row per requested (grp, k) — the duplicate-value
      // interval filter must not emit the value twice
      assert(got.size == expect.size)
    }
    // validateTargets: an out-of-range rank fails fast on both paths
    // (silently-no-row remains the documented default)
    val badTargets = Seq(("a", 999999L), ("zz", 1L)).toDF("grp", "k")
    for (minBytes <- Seq(Long.MaxValue, 0L)) {
      val e = intercept[IllegalArgumentException] {
        graft.operators.RankSelect.valueAtRanks(df, "grp", "v",
          badTargets, parts = 8, minDistributedBytes = minBytes,
          validateTargets = true).collect()
      }
      assert(e.getMessage.contains("outside [1, group size]"))
      // and valid targets pass the validation un-dropped
      val ok = graft.operators.RankSelect.valueAtRanks(df, "grp", "v",
        targets, parts = 8, minDistributedBytes = minBytes,
        validateTargets = true).count()
      assert(ok == expect.size)
    }
    // size-gate fallback for non-file-backed leaves (the r9 fix): a
    // localCheckpointed frame's LogicalRDD leaf is not a
    // LogicalRelation, so the file-size sum would read 0 and silently
    // funnel it through the one-task windowed path; the stats fallback
    // must report a real positive size so the distributed path can
    // engage at a realistic threshold
    val ckpt = df.localCheckpoint()
    val ckptBytes = graft.operators.RankSelect.inputBytes(ckpt)
    assert(ckptBytes > 0L,
      s"stats fallback read $ckptBytes for a localCheckpointed frame")
    val gotCkpt = graft.operators.RankSelect
      .valueAtRanks(ckpt, "grp", "v", targets, parts = 8,
        minDistributedBytes = ckptBytes) // <= bytes → distributed path
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("k"))
        -> r.getAs[Long]("v")).toMap
    assert(gotCkpt == expect, "distributed path on checkpointed frame")
    // an opaque RDD scan has no stats at all → defaultSizeInBytes,
    // clamped to MaxValue - 1 so the documented
    // minDistributedBytes = Long.MaxValue force-windowed sentinel
    // STILL wins over it (MaxValue - 1 < MaxValue)
    val rddDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (g, v) => org.apache.spark.sql.Row(g, v) }, 4),
      df.schema)
    val rddBytes = graft.operators.RankSelect.inputBytes(rddDf)
    // assert the PROPERTY, not Spark's defaultSizeInBytes constant: the
    // sentinel must still win (clamp below MaxValue) and an unknown-size
    // leaf must default to the distributed path (>= the default gate)
    assert(rddBytes < Long.MaxValue,
      s"opaque RDD leaf sized $rddBytes — the MaxValue sentinel must win")
    assert(rddBytes >= (32L << 20),
      s"opaque RDD leaf sized $rddBytes — must default to distributed")
    val gotForced = graft.operators.RankSelect
      .valueAtRanks(rddDf, "grp", "v", targets, parts = 8,
        minDistributedBytes = Long.MaxValue) // sentinel: windowed even here
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("k"))
        -> r.getAs[Long]("v")).toMap
    assert(gotForced == expect, "forced windowed path on RDD-backed frame")
  }

  test("q88's ntileNth degrades tiny groups (< 4 rows) to the exact " +
      "ntile bucket set — no spurious partial rows for empty trailing " +
      "quartiles, NTH_VALUE(3) null when the frame has < 3 rows") {
    val s2 = spark; import s2.implicits._
    val pr = Seq(
      ("a", 5.0),
      ("b", 1.0), ("b", 2.0),
      ("c", 1.0), ("c", 2.0), ("c", 3.0),
      ("d", 1.0), ("d", 2.0), ("d", 3.0), ("d", 4.0), ("d", 5.0),
      ("d", 6.0), ("d", 7.0)).toDF("rf", "p")
    val got = graft.catalog.Extended.ntileNth(pr)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))
      .toMap
    // reference: SQL NTILE(4) bucket intervals per group size —
    // n=1 → one bucket; n=2 → two; n=3 → three; n=7 → [1,2][3,4][5,6][7]
    val expect = Map(
      ("a", 1L) -> ((1L, 5.0, 5.0, 5.0, None)),
      ("b", 1L) -> ((1L, 1.0, 1.0, 1.0, None)),
      ("b", 2L) -> ((1L, 2.0, 2.0, 1.0, None)),
      ("c", 1L) -> ((1L, 1.0, 1.0, 1.0, Some(3.0))),
      ("c", 2L) -> ((1L, 2.0, 2.0, 1.0, Some(3.0))),
      ("c", 3L) -> ((1L, 3.0, 3.0, 1.0, Some(3.0))),
      ("d", 1L) -> ((2L, 1.0, 2.0, 1.0, Some(3.0))),
      ("d", 2L) -> ((2L, 3.0, 4.0, 1.0, Some(3.0))),
      ("d", 3L) -> ((2L, 5.0, 6.0, 1.0, Some(3.0))),
      ("d", 4L) -> ((1L, 7.0, 7.0, 1.0, Some(3.0))))
    assert(got == expect,
      s"only-got=${got.toSet -- expect.toSet} " +
        s"only-ref=${expect.toSet -- got.toSet}")
  }
}
