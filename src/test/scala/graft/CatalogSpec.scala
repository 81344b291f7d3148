package graft

import org.apache.spark.sql.functions._
import graft.functions.RollingHash

/** Catalog-wide smoke + invariants at sf0.001, plus the semantics of the
  * non-oracled (hash-based) operators that the driver only rows-checks. */
class CatalogSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("every catalog query runs at sf0.001") {
    val failures = SparkEntry.catalog.flatMap { q =>
      try { q.fn(spark, sf).count(); None }
      catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query in the catalog carries a DuckDB oracle") {
    // round 6 closed the last four rows-only gaps (d7/d8 via md5
    // signature families, q21/q75 via bucketed-verdict oracles)
    val noOracle = SparkEntry.catalog.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(noOracle == Set.empty[String])
  }

  test("rolling_hash: expression matches a plain-Scala reference, " +
      "interpreted and codegen'd") {
    def refHash(s: String): Long = {
      val M = (1L << 61) - 1
      s.getBytes("UTF-8").foldLeft(0L) { (h, b) =>
        // BigInt ground truth for (h*31 + byte) mod M
        ((BigInt(h) * 31 + (b & 0xff)) mod BigInt(M)).toLong
      }
    }
    val inputs = Seq("", "a", "hello world", "ünïcødé ツ", "x" * 10000)
    import spark.implicits._
    // through the engine (codegen path)
    val got = inputs.toDF("s")
      .select(RollingHash.rolling_hash(col("s")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == inputs.map(refHash))
    // interpreted eval path
    import org.apache.spark.sql.GraftBridge
    val interp = inputs.map(s => GraftBridge.expression(RollingHash.rolling_hash(
      GraftBridge.column(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)))))
      .eval(null).asInstanceOf[Long])
    assert(interp == inputs.map(refHash))
  }

  test("d7 minhash-LSH candidates are a high-recall subset of exact " +
      "shingle near-dups") {
    val lsh = SparkEntry.queries("d7_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // exact ground truth at the same threshold, brute force
    val tk = split(trim(lower(col("text"))), " +")
    val sh = array_distinct(transform(sequence(lit(1), size(tk) - 2),
      i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1),
        element_at(tk, i + 2))))
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .filter(size(tk) >= 3).select(col("doc_id"), sh.as("sh"))
    val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("j", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
        / size(array_distinct(concat(col("sh_a"), col("sh_b")))).cast("double"))
      .filter(col("j") >= 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(lsh.subsetOf(exact), "LSH must not emit false positives (exact-verified)")
    assert(exact.nonEmpty && lsh.size.toDouble / exact.size >= 0.9,
      s"recall ${lsh.size}/${exact.size} below 0.9")
  }

  private def recallVsExact(name: String, dir: String): Double = {
    val ann = SparkEntry.queries(name)(spark, dir)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val exact = SparkEntry.queries("e1_cosine_topk")(spark, dir)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    assert(exact.nonEmpty)
    (ann & exact).size.toDouble / exact.size
  }

  test("e2 ANN recall vs e1 brute force >= pinned floor at two scales") {
    // measured 0.458 at both sf0.001 and sf0.01 with 8 tables x 6 planes
    // (splitmix64 hyperplanes); floor set with margin so an LSH regression
    // (correlated planes, broken bucketing) fails loudly
    assert(recallVsExact("e2_ann_lsh", sf) >= 0.30)
    assert(recallVsExact("e2_ann_lsh", "/root/testdata/sf0.01") >= 0.30)
    // e2b at these corpus sizes keeps P=6 but adds Hamming-1 multiprobe
    // (7 probes/table vs e2's 1) — recall must not drop below e2's floor
    assert(recallVsExact("e2b_ann_lsh_scaled", sf) >= 0.30)
    assert(recallVsExact("e2b_ann_lsh_scaled", "/root/testdata/sf0.01") >= 0.30)
  }

  test("e15 binary-quantized ANN recall vs e1 >= pinned floor at two " +
      "scales, and every shortlist hamming is a legal 0..64 distance") {
    // measured 0.458 (sf0.001) and 0.417 (sf0.01) — 1-bit codes beat
    // the IVF tier on this uniform corpus; floor with margin so a
    // packing/popcount regression fails loudly
    assert(recallVsExact("e15_binary_ann", sf) >= 0.30)
    assert(recallVsExact("e15_binary_ann", "/root/testdata/sf0.01") >= 0.30)
    SparkEntry.queries("e15_binary_ann")(spark, sf).collect().foreach { r =>
      val h = r.getAs[Long]("hamming")
      assert(h >= 0 && h <= 64, s"impossible hamming $h")
    }
  }

  test("e3 IVF multi-probe recall vs e1 >= pinned floor at two scales") {
    // measured 0.583 (sf0.001) and 0.292 (sf0.01) with C=16, nprobe=4.
    // The corpus embeddings are ~uniform random — no cluster structure —
    // so IVF recall tends toward nprobe/C as n grows; the floors pin the
    // machinery (cell assignment + multi-probe + re-rank), not the data.
    assert(recallVsExact("e3_ann_ivf", sf) >= 0.40)
    assert(recallVsExact("e3_ann_ivf", "/root/testdata/sf0.01") >= 0.20)
  }

  test("e7 PQ/ADC recall vs exact L2 >= pinned floor at two scales") {
    // ADC approximates L2 (not cosine), so the reference here is exact
    // squared-L2 top-3 computed in-test. The codebooks are RANDOM
    // (untrained) literals on ~uniform data — the floor pins the
    // encode/serve machinery, not codebook quality.
    import org.apache.spark.sql.expressions.Window
    def recallL2(dir: String): Double = {
      val emb = graft.catalog.Tables.t(spark, dir, "embeddings")
        .withColumn("dv", transform(col("embedding"), x => x.cast("double")))
        .select("vec_id", "dv")
      val qq = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("dv").as("qv"))
      val l2 = aggregate(zip_with(col("qv"), col("dv"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (a, v) => a + v)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("d2").asc, col("vec_id").asc)
      val exact = emb.crossJoin(broadcast(qq))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("d2", l2)
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
      val adc = SparkEntry.queries("e7_pq_adc")(spark, dir)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
      assert(exact.nonEmpty)
      (adc & exact).size.toDouble / exact.size
    }
    // measured 0.458 (sf0.001) / 0.625 (sf0.01) with M=16 K=16 random
    // codebooks + 50-candidate shortlist; the floor pins the two-stage
    // machinery (single-stage ADC top-3 without re-rank measures 0.0 —
    // untrained codebooks cannot rank, only shortlist)
    assert(recallL2(sf) >= 0.30)
    assert(recallL2("/root/testdata/sf0.01") >= 0.30)
  }

  test("e17 TRAINED PQ recall vs exact integer L2 >= pinned floor at " +
      "two scales, and training beats e7's untrained codebooks") {
    // reference = exact squared-L2 top-3 over the SAME quantized integer
    // domain e17 re-ranks in (floor(x*1e6)), so the measure isolates
    // shortlist quality
    import org.apache.spark.sql.expressions.Window
    def recalls(dir: String): (Double, Double) = {
      val emb = graft.catalog.Tables.t(spark, dir, "embeddings")
        .withColumn("qv", transform(col("embedding"),
          x => floor(x.cast("double") * 1000000L)))
        .select("vec_id", "qv")
      val qq = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("qv").as("qva"))
      val l2 = aggregate(zip_with(col("qva"), col("qv"),
        (x, y) => (x - y) * (x - y)), lit(0L), (a, v) => a + v)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("d2").asc, col("vec_id").asc)
      val exact = emb.crossJoin(broadcast(qq))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("d2", l2)
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")))
        .toSet
      val trained = SparkEntry.queries("e17_pq_trained")(spark, dir)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")))
        .toSet
      val untrained = SparkEntry.queries("e7_pq_adc")(spark, dir)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")))
        .toSet
      assert(exact.nonEmpty)
      ((trained & exact).size.toDouble / exact.size,
        (untrained & exact).size.toDouble / exact.size)
    }
    // measured: e17 0.792 at BOTH scales (e7 untrained: 0.458 / 0.625)
    // — the Lloyd codebooks lift the shortlist well above the random
    // literals, and the floor leaves headroom for corpus drift
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val (tr, untr) = recalls(dir)
      assert(tr >= 0.60, s"$dir: trained-PQ recall $tr under floor")
      assert(tr >= untr, s"$dir: training must not lose to the random " +
        s"codebooks (trained $tr < untrained $untr)")
    }
  }

  test("e8 full-corpus IVF dedup: every vector assigned, reps are " +
      "minimal, and dup detection recall vs e4's exact slice >= floor") {
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val e8 = SparkEntry.queries("e8_embed_dedup_ivf")(spark, dir).collect()
      assert(e8.length == n, "one output row per corpus vector")
      assert(e8.forall(r => r.getAs[Long]("rep_id") <= r.getAs[Long]("vec_id")),
        "representative id can never exceed the member id")
      // e4 is the exact all-pairs ground truth on vec_id < 300: every
      // dup_id there has a lower-id neighbor at cos >= 0.4. e8 only sees
      // pairs sharing a probe cell, so its dup flags are a subset — pin
      // the recall. Measured 0.96 (sf0.001) / 0.88 (sf0.01) with C=16,
      // P=4 probes; single-cell assignment (P=1) measured 0.17 — the
      // floor pins the multi-probe membership machinery.
      val exactDups = SparkEntry.queries("e4_embed_dedup")(spark, dir)
        .collect().map(_.getAs[Long]("dup_id")).toSet
      val e8Dups = e8.filter(r =>
          r.getAs[Long]("rep_id") != r.getAs[Long]("vec_id"))
        .map(_.getAs[Long]("vec_id")).toSet
      assert(exactDups.nonEmpty)
      val recall = (exactDups & e8Dups).size.toDouble / exactDups.size
      assert(recall >= 0.6,
        s"$dir: in-cell dup recall $recall below floor (exact=${exactDups.size})")
    }
  }

  test("e16 semantic decontamination: no false positives vs brute-force " +
      "cosine truth, recall above floor, eval rows excluded, verdicts " +
      "consistent") {
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val rows = SparkEntry.queries("e16_semantic_decontam")(spark, dir)
        .collect()
      // eval split never appears in the audited output
      assert(rows.forall(_.getLong(0) % 50 != 0))
      rows.foreach { r =>
        assert((r.getAs[Long]("keep") == 0L)
          == (r.getAs[Long]("n_near_eval") > 0L), s"verdict mismatch: $r")
        assert((r.getAs[Long]("witness_eval") >= 0L)
          == (r.getAs[Long]("keep") == 0L), s"witness mismatch: $r")
      }
      val flagged = rows.filter(_.getAs[Long]("keep") == 0L)
        .map(_.getLong(0)).toSet
      // brute-force truth over the full eval x train cross product
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("dv", transform(col("embedding"), x => x.cast("double")))
        .select("vec_id", "dv")
      val truth = emb.filter(col("vec_id") % 50 =!= 0)
        .crossJoin(emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("e_id"), col("dv").as("edv")))
        .filter(graft.catalog.Vectors.cosine(col("dv"), col("edv")) >= 0.4)
        .select("vec_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(truth.nonEmpty, s"$dir: fixture must contain contamination")
      assert(flagged.subsetOf(truth),
        s"$dir: cosine-verified flags can never be false positives")
      // measured recall 1.0 at both scales (multi-probe); floor with
      // margin so a probe/banding regression fails loudly
      assert(flagged.size.toDouble / truth.size >= 0.8,
        s"$dir: recall ${flagged.size}/${truth.size} below floor")
    }
  }

  test("q21 HLL estimate is within 2x the default rsd of the exact count, " +
      "and the emitted verdict is load-bearing") {
    // approx_count_distinct default rsd = 0.05; measured rel err ~0.026
    // at sf0.001 and sf0.01
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val li = graft.catalog.Tables.t(spark, dir, "lineitem")
      val raw = li.groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact"))
        .collect().map(r => r.getAs[String]("l_returnflag")
          -> (r.getAs[Long]("approx"), r.getAs[Long]("exact"))).toMap
      raw.foreach { case (flag, (ap, ex)) =>
        val relErr = math.abs(ap.toDouble / ex - 1.0)
        assert(relErr <= 0.10, s"$dir flag=$flag relErr=$relErr > 0.10")
      }
      // the catalog query's verdict must be exactly that comparison,
      // and its exact counts must be the true ones
      SparkEntry.queries("q21_approx_distinct")(spark, dir)
        .collect().foreach { r =>
          val flag = r.getAs[String]("l_returnflag")
          assert(r.getAs[Long]("exact_parts") == raw(flag)._2)
          assert(r.getAs[Int]("hll_within_2rsd") == 1,
            s"$dir flag=$flag verdict must be 1 (estimate in band)")
        }
    }
  }

  test("d17/d18/d19/d20 edge semantics on a crafted corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft_docs_edge").toString
    val s2 = spark; import s2.implicits._
    Seq(
      // doc 0 is the eval split (doc_id % 50 == 0); doc 1 copies it
      (0L, "alpha beta gamma delta epsilon zeta", "en", "s0", 35L),
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s0", 35L),
      (2L, "totally different words with no shared windows here", "en", "s1", 52L),
      (3L, "spam spam spam spam spam spam spam spam spam spam", "en", "s1", 49L),
      (4L, "one", "en", "s2", 3L),
      (5L, "a1 b2 c3 d4 e5 f6 g7 h8 i9 j10 k11 l12", "en", "s2", 38L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // d17: the single-token doc has no 2-grams and is excluded; a
    // one-word doc is all top-word and all duplicate 2-grams
    val rep = SparkEntry.queries("d17_repetition_quality")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!rep.contains(4L))
    assert(rep(3L).getAs[Double]("top_word_frac") == 1.0)
    assert(!rep(3L).getAs[Boolean]("keep"))
    assert(rep(5L).getAs[Double]("dup_2gram_frac") == 0.0)
    assert(rep(5L).getAs[Boolean]("keep"))

    // d18: eval docs never appear; an exact copy of an eval doc is 100%
    // contaminated; a disjoint doc is clean; <3-token docs are excluded
    val dec = SparkEntry.queries("d18_decontaminate")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!dec.contains(0L) && !dec.contains(4L))
    assert(dec(1L).getAs[Double]("contaminated_frac") == 1.0)
    assert(!dec(1L).getAs[Boolean]("keep"))
    assert(dec(2L).getAs[Long]("n_contaminated") == 0L)
    assert(dec(2L).getAs[Boolean]("keep"))

    // d19: the synthetic footer plants exactly one email + one phone per
    // doc; redaction must count them and leave no residual match
    SparkEntry.queries("d19_pii_redact")(spark, dir).collect().foreach { r =>
      assert(r.getAs[Long]("n_emails") == 1L && r.getAs[Long]("n_phones") == 1L)
      val red = r.getAs[String]("redacted")
      assert(red.contains("<EMAIL>") && red.contains("<PHONE>"))
      assert(!red.contains("@") && !red.matches(".*\\d{3}-\\d{3}-\\d{4}.*"))
    }

    // d20: per-source doc and token totals
    val st = SparkEntry.queries("d20_source_stats")(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(st.keySet == Set("s0", "s1", "s2"))
    assert(st.values.map(_.getAs[Long]("n_docs")).sum == 6L)
    assert(st("s2").getAs[Long]("total_tokens") == 13L)
    assert(st("s0").getAs[Double]("mean_tokens") == 6.0)
  }

  test("d8 simhash: near-identical docs have small hamming distance, " +
      "and every signature is a well-formed 64-bit string") {
    val sims = SparkEntry.queries("d8_simhash")(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id")
        -> r.getAs[String]("simhash_bits")).toMap
    sims.values.foreach(s =>
      assert(s.length == 64 && s.forall(c => c == '0' || c == '1'), s))
    // use a known near-dup pair from d7 at this sf
    val pair = SparkEntry.queries("d7_minhash_lsh")(spark, sf).collect().headOption
    pair.foreach { p =>
      val (a, b) = (p.getAs[Long]("id_a"), p.getAs[Long]("id_b"))
      val dist = sims(a).zip(sims(b)).count { case (x, y) => x != y }
      assert(dist <= 16, s"near-dup pair ($a,$b) hamming $dist > 16")
    }
  }

  test("d44 simhash pair mining: banding finds EXACTLY the brute-force " +
      "Hamming<=3 pairs over d8's own signatures (pigeonhole recall)") {
    val sigs = SparkEntry.queries("d8_simhash")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("simhash_bits"))
      .toSeq
    val exact = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = sa.zip(sb).count { case (x, y) => x != y } if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got = SparkEntry.queries("d44_simhash_pairs")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("hamming"))).toSet
    assert(exact.nonEmpty, "corpus must contain Hamming<=3 near-dups")
    // 4 exact-match 16-bit bands: any two signatures differing in <=3
    // bits agree on >=1 band, so (absent mega-band drops, none at this
    // sf) the banded join is EXACT — same pairs, same distances
    assert(got == exact,
      s"banding must be exact at k=3: only-banded=${got -- exact} " +
        s"only-brute=${exact -- got}")
  }

  test("d27 corpus shuffle: each epoch is a full permutation, epochs " +
      "differ, shard = (pos-1)/64, and a re-run reproduces it exactly") {
    val rows = SparkEntry.queries("d27_corpus_shuffle")(spark, sf).collect()
    val byEpoch = rows.groupBy(_.getInt(0))
    assert(byEpoch.keySet == Set(0, 1))
    val n = byEpoch(0).length
    for ((e, rs) <- byEpoch) {
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to n).toSeq,
        s"epoch $e positions must be exactly 1..$n")
      assert(rs.forall(r => r.getLong(3) == (r.getLong(2) - 1) / 64),
        s"epoch $e shard ids must be (pos-1)/64")
    }
    val perm = (e: Int) =>
      byEpoch(e).map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(perm(0) != perm(1), "epoch reseed must yield a different order")
    val again = SparkEntry.queries("d27_corpus_shuffle")(spark, sf).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq,
      "the shuffle must be deterministic across runs (resumability)")
  }

  test("d28 temperature mix: allocations sum EXACTLY to the budget, are " +
      "monotone in token mass, and compress the source spread") {
    val rows = SparkEntry.queries("d28_temperature_mix")(spark, sf).collect()
    assert(rows.map(_.getLong(3)).sum == 100000L,
      "largest-remainder apportionment must hit the budget exactly")
    val sorted = rows.sortBy(_.getLong(1))
    sorted.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) <= b.getLong(3),
        "a source with more tokens can never receive a smaller allocation")
    }
    // temperature alpha=0.5 smooths BETWEEN proportional and uniform:
    // the max/min sampling-probability ratio must be strictly tighter
    // than the raw token-share ratio (sqrt halves the log-spread)
    val toks = rows.map(_.getLong(1).toDouble)
    val ps = rows.map(_.getDouble(2))
    val shareRatio = toks.max / toks.min
    val pRatio = ps.max / ps.min
    assert(math.abs(ps.sum - 1.0) < 1e-9, "probabilities must normalize")
    if (shareRatio > 1.000001)
      assert(pRatio < shareRatio && math.abs(pRatio - math.sqrt(shareRatio)) < 1e-9,
        s"sqrt smoothing: expected p-ratio ${math.sqrt(shareRatio)}, got $pRatio")
  }

  test("d29 perplexity filter: quantized surprisal stays within the " +
      "ln(17/16) bound of the exact bigram cross-entropy, verdict is " +
      "load-bearing, and keep matches the threshold") {
    val rows = SparkEntry.queries("d29_perplexity_filter")(spark, sf).collect()
    val kept = rows.count(_.getLong(3) == 1L)
    assert(kept > 0 && kept < rows.length,
      s"threshold must split the corpus, got $kept/${rows.length} kept")
    // exact (unquantized, full-double-ln) reference from the same corpus
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split(" +").toSeq).toMap
    val allBgs = texts.values.toSeq.flatMap(tk =>
      if (tk.length >= 2) tk.sliding(2).map(p => (p(0), p(1))).toSeq else Nil)
    val c12 = allBgs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = allBgs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val bound = math.log(17.0 / 16.0) + 1e-6
    rows.foreach { r =>
      val (id, n, nll, keep) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nll >= 0L, s"doc $id: surprisal sums can never be negative")
      assert(keep == (if (nll <= 3370000000L * n) 1L else 0L),
        s"doc $id: keep must be exactly the threshold comparison")
      val tk = texts(id)
      if (tk.length < 2) {
        assert(n == 0L && nll == 0L && keep == 1L,
          s"doc $id: bigram-free docs must be kept with zero score")
      } else {
        val exact = tk.sliding(2).map { p =>
          math.log(c1(p(0)).toDouble) - math.log(c12((p(0), p(1))).toDouble)
        }.sum
        assert(n == tk.length - 1, s"doc $id: must score every bigram")
        assert(math.abs(nll / 1e9 - exact) <= bound * n,
          s"doc $id: quantized nll ${nll / 1e9} vs exact $exact " +
            s"exceeds ${bound * n}")
      }
    }
  }

  test("q75 approx quantiles: every sketch output honors the GK " +
      "rank-error bound against the exact sorted data, and the emitted " +
      "verdicts agree") {
    // the raw-bound pin, against a driver-side recompute of the sketch
    val sk = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("v"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val data = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_returnflag", "l_extendedprice").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((flag, sorted) <- data; (q, i) <- Seq(0.5 -> 0, 0.95 -> 1, 0.99 -> 2)) {
      val v = sk(flag)(i)
      val n = sorted.length
      // GK guarantee: the returned value's rank is within n/accuracy
      // of the target rank (accuracy = 10000 in the query)
      val lo = sorted.count(_ < v) // smallest rank of v
      val hi = sorted.count(_ <= v) // largest rank of v
      val target = q * n
      val slack = n.toDouble / 10000 + 1
      assert(target >= lo - slack && target <= hi + slack,
        s"$flag p$q: value $v spans ranks [$lo,$hi], target $target " +
          s"outside ±$slack")
    }
    // the catalog query's in-frame verification must reach the same
    // verdict (1) on every (flag, probe) row, with exact counts
    val rows = SparkEntry.queries("q75_approx_quantile")(spark, sf).collect()
    assert(rows.length == data.size * 3)
    rows.foreach { r =>
      val flag = r.getAs[String]("l_returnflag")
      assert(r.getAs[Long]("n") == data(flag).length)
      assert(r.getAs[Int]("within_bound") == 1,
        s"$flag ${r.getAs[String]("probe")}: verdict must be 1")
    }
  }

  test("g1 pagerank: distributed ranks equal a driver-side reference " +
      "recurrence exactly, and rank mass behaves") {
    val got = SparkEntry.queries("g1_pagerank")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    // the same deterministic graph, derived independently
    val edges = (0L until n).flatMap { d =>
      Seq((7 * d + 1) % n, (13 * d + 5) % n, (31 * d + 11) % n)
        .distinct.filter(_ != d).map(dst => d -> dst)
    }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = (0L until n).map(_ -> 1000000L).toMap
    for (_ <- 1 to graft.catalog.Graph.Iters) {
      val inflow = edges.groupBy(_._2).view.mapValues(_.map { case (s, _) =>
        r(s) / deg(s)
      }.sum).toMap
      r = (0L until n).map(v =>
        v -> (150000L + 85L * inflow.getOrElse(v, 0L) / 100L)).toMap
    }
    assert(got.size == n, s"one rank per node, got ${got.size} for $n")
    assert(got == r, "distributed integer pagerank must equal the " +
      "driver-side reference recurrence bit-for-bit")
    assert(got.values.forall(_ >= 150000L),
      "every rank carries at least the damping base")
    assert(got.values.toSet.size > 1, "ranks must differentiate nodes")
  }

  test("q71 scd2: per customer the intervals tile the history — " +
      "contiguous, status-alternating, exactly one open interval") {
    val rows = SparkEntry.queries("q71_scd2")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the suite session returns java.time for timestamps
    def ts(r: org.apache.spark.sql.Row, i: Int): java.time.LocalDateTime =
      r.getAs[java.time.LocalDateTime](i)
    rows.groupBy(_.getLong(0)).foreach { case (cust, rs) =>
      // rows arrive ordered by (custkey, valid_from, orderkey)
      val ordered = rs.sortBy(r => (ts(r, 3).toString, r.getLong(1)))
      ordered.sliding(2).foreach {
        case Array(a, b) =>
          assert(ts(a, 4) == ts(b, 3),
            s"cust $cust: valid_to must meet the next valid_from")
          assert(a.getString(2) != b.getString(2),
            s"cust $cust: consecutive identical statuses must collapse")
        case _ =>
      }
      assert(ordered.count(_.getBoolean(5)) == 1,
        s"cust $cust: exactly one current interval")
      assert(ordered.last.isNullAt(4) && ordered.last.getBoolean(5),
        s"cust $cust: the open interval is the last one")
    }
  }

  test("d32 setsim join: prefix filtering loses NOTHING — result equals " +
      "the full-corpus brute-force all-pairs join") {
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = pairSet(SparkEntry.queries("d32_setsim_join")(spark, sf))
    val tokens = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), split(trim(col("text")), " +").as("tok"))
      .filter(size(col("tok")) >= 3)
    val d = tokens.select(col("doc_id"),
      array_distinct(transform(sequence(lit(1), size(col("tok")) - 2),
        i => concat_ws(" ", element_at(col("tok"), i),
          element_at(col("tok"), i + 1), element_at(col("tok"), i + 2))))
        .as("sh"))
    val brute = pairSet(
      d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        .join(d.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
          col("id_a") < col("id_b"))
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("uni",
          size(col("sh_a")) + size(col("sh_b")) - col("inter"))
        .filter(col("inter") * 2 >= col("uni"))
        .select(col("id_a"), col("id_b"),
          (col("inter").cast("double") / col("uni").cast("double"))
            .as("jaccard")))
    assert(got.nonEmpty, "threshold must be load-bearing at spec scale")
    assert(got == brute,
      s"prefix filter must be lossless: got ${got.size}, brute ${brute.size}")
  }

  test("d33 Misra-Gries: candidates are a superset of the true heavy " +
      "hitters under every partitioning; buffer bounded; output exact") {
    import spark.implicits._
    val tok = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(trim(col("text")), " +")).as("token"))
      .filter(col("token") =!= "").as[String]
    val n = tok.count()
    val exact = tok.groupBy("token").count()
      .filter(col("count") * 30 > n).select("token").as[String].collect().toSet
    assert(exact.nonEmpty && exact.size < 31,
      "threshold must split the vocabulary at spec scale")
    for (parts <- Seq(1, 7, 32)) {
      val mg = new graft.operators.MisraGries(30)
      val cands = tok.repartition(parts).select(mg.toColumn.name("c"))
        .collect().head.toSet
      assert(cands.size <= 29, s"parts=$parts: buffer must stay <= k-1")
      assert(exact.subsetOf(cands),
        s"parts=$parts: MG must never lose a true heavy hitter")
    }
    val got = SparkEntry.queries("d33_heavy_hitters")(spark, sf)
      .select("token").as[String].collect().toSet
    assert(got == exact, "verified output must equal the exact answer")
  }

  test("q78 winsorize: cuts are real data values bracketing the mean") {
    val rows = SparkEntry.queries("q78_winsorize")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (p10, p90, mean) = (r.getDouble(2), r.getDouble(3), r.getDouble(5))
      assert(p10 < p90, "cut points must spread")
      assert(p10 <= mean && mean <= p90,
        "clamped mean must lie inside the clamp interval")
    }
  }

  test("e11 k-means: every vector assigned to exactly one valid cell, " +
      "cells differentiate, and a rerun is bit-identical (the integer " +
      "fixed-point determinism claim)") {
    val r1 = SparkEntry.queries("e11_kmeans_train")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(r1.length == nVecs, "every vector gets exactly one cell")
    assert(r1.map(_._1).distinct.length == r1.length)
    assert(r1.forall { case (_, c) => c >= 0 && c < 8 })
    assert(r1.map(_._2).distinct.length > 1, "training must differentiate")
    // the catalog entry reads a session memo, so re-train outside it
    def train() = graft.catalog.Approx.lloyd(spark, sf, sub = 64, K = 8,
        iters = 3)._3.select("vec_id", "cell").orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (r2, r3) = (train(), train())
    assert(r1.sameElements(r2) && r2.sameElements(r3),
      "re-training must reproduce the identical codebook assignment")
  }

  test("g4 label propagation: labels collapse into communities, every " +
      "label is a real node id, and the tie-break is deterministic") {
    val r1 = SparkEntry.queries("g4_label_prop")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = r1.map(_._1).toSet
    val labels = r1.map(_._2).toSet
    assert(r1.length == nodes.size)
    assert(labels.subsetOf(nodes), "labels must be node ids")
    assert(labels.size < nodes.size,
      "propagation must merge at least some communities")
    assert(labels.size > 1, "graph must not collapse to one community")
    val r2 = SparkEntry.queries("g4_label_prop")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(r1.sameElements(r2), "synchronous LPA with the deterministic " +
      "tie-break must reproduce identical communities")
  }

  test("d34 containment: every match is a genuine non-self asymmetric " +
      "containment in (0.8, 1.0]") {
    val rows = SparkEntry.queries("d34_containment_probe")(spark, sf).collect()
    assert(rows.nonEmpty, "probe set must hit at sf0.001")
    rows.foreach { r =>
      assert(r.getLong(0) != r.getLong(1), "self-matches are excluded")
      val c = r.getDouble(2)
      assert(c >= 0.8 && c <= 1.0, s"containment out of range: $c")
    }
  }

  test("q80 null-safe join: the null key group matches itself — the row " +
      "a plain = join silently drops") {
    val rows = SparkEntry.queries("q80_nullsafe_join")(spark, sf).collect()
    assert(rows.exists(_.isNullAt(0)),
      "the null bucket must appear in the joined output")
    assert(rows.count(_.isNullAt(0)) == 1)
  }

  test("d35 BM25: rarity wins — every top-5 doc contains the rare " +
      "query term, and the ranking is strictly ordered") {
    import spark.implicits._
    val rows = SparkEntry.queries("d35_bm25")(spark, sf).collect()
    assert(rows.length == 20)
    val scores = rows.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    val dupDocs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(array_contains(split(trim(col("text")), " +"), "dup"))
      .select("doc_id").as[Long].collect().toSet
    assert(rows.take(5).forall(r => dupDocs.contains(r.getLong(0))),
      "idf must dominate: rare-term docs outrank tf-heavy common-term docs")
  }

  test("q86 skyline: the running-max formulation equals the quadratic " +
      "dominance definition exactly") {
    val got = SparkEntry.queries("q86_skyline")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val pts = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice").as("x"),
        col("o_orderdate").cast("date").cast("string").as("y"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    val brute = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, bx, by) =>
        bx >= x && by >= y && (bx > x || by > y)
      }
    }.map(_._1).toSet
    assert(got.nonEmpty && got == brute,
      s"skyline must match brute-force dominance: got ${got.size}, " +
        s"brute ${brute.size}")
  }

  test("q81 concurrency sweep: never negative, ends at exactly zero, " +
      "and genuinely overlaps") {
    val rows = SparkEntry.queries("q81_concurrency")(spark, sf).collect()
    assert(rows.nonEmpty)
    val running = rows.map(_.getLong(3))
    assert(running.forall(_ >= 0L), "a -1 must never precede its +1")
    assert(running.last == 0L, "every interval that opens must close")
    assert(running.max > 1L, "the 10-min hold must create real overlap")
  }

  test("q79 OHLC: every bar satisfies low <= open,close <= high and is " +
      "aligned to its 15-minute boundary") {
    val rows = SparkEntry.queries("q79_ohlc")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (o, h, l, c) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(l <= o && o <= h, s"open outside [low, high]: $r")
      assert(l <= c && c <= h, s"close outside [low, high]: $r")
      val wsMin = r.getAs[java.sql.Timestamp](1).toInstant
        .atZone(java.time.ZoneOffset.UTC)
      assert(wsMin.getMinute % 15 == 0 && wsMin.getSecond == 0,
        s"bar start not 15-min aligned: $wsMin")
    }
  }

  test("e13 MMR: picks come from the top-8 shortlist, rank 1 is the " +
      "plain top-1, and the diversity term genuinely reorders at least " +
      "one query (MMR != top-4 by relevance)") {
    import spark.implicits._
    val mmr = SparkEntry.queries("e13_mmr_rerank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(mmr.length == 16, "4 queries x k=4")
    // independent shortlist: brute-force top-8 by the same exact cosine
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("dv"))
    val q = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("dv").as("qv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
      .orderBy(col("rel").desc, col("c_id").asc)
    val top8 = broadcast(q)
      .join(emb.select(col("vec_id").as("c_id"), col("dv").as("cv")),
        col("q_id") =!= col("c_id"))
      .withColumn("rel", graft.catalog.Vectors.cosine(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 8)
      .select("q_id", "c_id", "rk").as[(Long, Long, Int)].collect()
    val shortlist = top8.groupBy(_._1).view
      .mapValues(_.map(t => t._3 -> t._2).toMap).toMap
    mmr.foreach { case (qid, rk, cid) =>
      assert(shortlist(qid).values.exists(_ == cid),
        s"q=$qid rank=$rk pick $cid not in the top-8 shortlist")
      if (rk == 1L) assert(cid == shortlist(qid)(1),
        s"q=$qid: MMR rank 1 must be the plain relevance top-1")
    }
    // the diversity penalty must matter somewhere: for at least one
    // query the MMR set differs from plain top-4-by-relevance
    val diverged = (0L until 4L).exists { qid =>
      val mmrSet = mmr.filter(_._1 == qid).map(_._3).toSet
      val rel4 = (1 to 4).map(shortlist(qid)).toSet
      mmrSet != rel4
    }
    assert(diverged, "MMR equals plain top-4 for every query — the " +
      "diversity term is vacuous on this corpus")
  }

  test("d38 fuzzy resolve: symmetric-delete blocking + verify loses " +
      "NOTHING — verified candidates equal the brute-force ED<=1 " +
      "probe x catalog relation, and the verify is load-bearing " +
      "(blocking alone overshoots)") {
    import spark.implicits._
    val names = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_name")).distinct().as[String].collect()
    val probes = spark.read.parquet(s"$sf/part.parquet")
      .filter(col("p_partkey") % 7 === 0)
      .select(col("p_partkey"), col("p_name")).as[(Long, String)].collect()
      .map { case (pk, n) =>
        val i = (pk % n.length).toInt
        (pk, n.substring(0, i) + n.substring(i + 1))
      }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for ((pid, pn) <- probes; n <- names if lev(pn, n) <= 1)
      yield (pid, n)).toSet
    def nbhd(sv: String): Set[String] =
      (sv.indices.map(i => sv.substring(0, i) + sv.substring(i + 1)) :+ sv).toSet
    val blocked = (for ((pid, pn) <- probes; n <- names
      if (nbhd(pn) & nbhd(n)).nonEmpty) yield (pid, n)).toSet
    val verified = blocked.filter { case (pid, n) =>
      lev(probes.find(_._1 == pid).get._2, n) <= 1 }
    assert(verified == brute,
      "symmetric-delete blocking missed a true ED<=1 pair")
    assert(blocked.size > verified.size,
      "blocking never overshot ED 1 on this corpus — the verify step " +
        "is untested; shrink the corpus assumption")
    // and the catalog query's per-probe n_cand agrees with brute force
    val q = SparkEntry.queries("d38_fuzzy_resolve")(spark, sf).collect()
    val bruteCnt = brute.groupBy(_._1).view.mapValues(_.size).toMap
    q.foreach { r =>
      assert(r.getLong(4) == bruteCnt(r.getLong(0)).toLong,
        s"probe ${r.getLong(0)}: n_cand != brute-force candidate count")
    }
  }

  test("q94 Poisson bootstrap: replica means bracket the true mean " +
      "within bootstrap error, n_eff is Poisson(n)-plausible, and the " +
      "weights genuinely vary (not all 1)") {
    import org.apache.spark.sql.functions._
    val reps = SparkEntry.queries("q94_poisson_bootstrap")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(reps.length == 20)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val n = orders.count().toDouble
    val Array(mu, sd) = orders
      .agg(avg("o_totalprice"), stddev("o_totalprice"))
      .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
    val se = sd / math.sqrt(n)
    val means = reps.map(_._2)
    means.foreach(m => assert(math.abs(m - mu) < 6 * se,
      s"replica mean $m implausibly far from $mu (se=$se)"))
    // spread must be real: a degenerate all-weights-1 draw gives sd 0
    val bootSd = {
      val mb = means.sum / means.length
      math.sqrt(means.map(m => (m - mb) * (m - mb)).sum / (means.length - 1))
    }
    assert(bootSd > se / 4 && bootSd < se * 4,
      s"bootstrap sd $bootSd should estimate the true se $se")
    reps.foreach { case (nEff, _) =>
      assert(math.abs(nEff - n) < 6 * math.sqrt(n),
        s"n_eff $nEff implausible for Poisson(${n.toLong})")
      assert(nEff != n.toLong,
        "every replica hitting n exactly would mean weights never vary")
    }
  }

  test("q96 k-anonymity: every released class has >= k members, " +
      "suppression is real, pseudonyms stay distinct") {
    // sf0.01: classes average 12 members, so both the release and the
    // suppression paths are populated (sf0.001's classes are all < k)
    val sf = "/root/testdata/sf0.01"
    val rel = SparkEntry.queries("q96_k_anonymity")(spark, sf).cache()
    val n = rel.count()
    val total = spark.read.parquet(s"$sf/customer.parquet").count()
    assert(n > 0 && n < total, s"suppression must drop rows ($n of $total)")
    // k-anonymity invariant: observed class sizes in the RELEASE match
    // the claimed class_n and never fall below k
    val classes = rel.groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("obs"), min("class_n").as("lo"),
        max("class_n").as("hi")).collect()
    classes.foreach { r =>
      val obs = r.getAs[Long]("obs")
      assert(obs >= 10, s"released class below k: $r")
      assert(r.getAs[Long]("lo") == obs && r.getAs[Long]("hi") == obs,
        s"class_n must equal the released class size: $r")
    }
    // pseudonymization preserves row identity (no collisions)
    assert(rel.select("pseudo_id").distinct().count() == n)
    rel.unpersist()
  }

  test("q97 bloom prefilter: no false negatives, false positives exist " +
      "and are a small fraction") {
    // sf0.01: 395 members fill m=2048 to ~44% per hash — the FP path
    // is guaranteed populated (sf0.001's fill is too sparse)
    val sf = "/root/testdata/sf0.01"
    val v = SparkEntry.queries("q97_bloom_prefilter")(spark, sf)
      .groupBy("member", "bloom_maybe").count().collect()
      .map(r => (r.getAs[Long]("member"), r.getAs[Long]("bloom_maybe")) ->
        r.getAs[Long]("count")).toMap
    assert(!v.contains((1L, 0L)),
      "a Bloom filter can never reject a true member")
    val fp = v.getOrElse((0L, 1L), 0L)
    val tn = v.getOrElse((0L, 0L), 0L)
    assert(fp > 0, "this fill level must produce false positives " +
      "(otherwise the FP accounting is vacuous)")
    assert(fp.toDouble / (fp + tn) < 0.25,
      s"FP rate ${fp.toDouble / (fp + tn)} implausibly high for m=2048/k=3")
  }

  test("q98 stratified sample: realized rates track the nominal " +
      "thresholds per stratum") {
    val kept = SparkEntry.queries("q98_strat_sample")(spark, sf)
      .groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    val totals = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getAs[Long]("count")).toMap
    val nominal = Map("P" -> 0.5, "O" -> 0.1, "F" -> 0.02)
    nominal.foreach { case (st, p) =>
      val n = totals(st).toDouble
      val rate = kept.getOrElse(st, 0L) / n
      // binomial 4-sigma band around the nominal rate
      val tol = 4 * math.sqrt(p * (1 - p) / n)
      assert(math.abs(rate - p) < tol,
        s"stratum $st: realized $rate vs nominal $p (tol $tol)")
    }
  }

  test("g5 weighted SSSP: distances bracket the BFS levels and " +
      "hop-order genuinely decouples from weight-order") {
    val bfs = SparkEntry.queries("g3_bfs_levels")(spark, sf).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    val sssp = SparkEntry.queries("g5_sssp")(spark, sf).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    val reached = bfs.filter(_._2 < graft.catalog.Graph.Unreached).keySet
    reached.foreach { v =>
      val lvl = bfs(v); val d = sssp(v)
      assert(d < graft.catalog.Graph.SsspUnreached,
        s"node $v BFS-reached but SSSP-unreached")
      // every h-hop path weighs >= h (weights >= 1): dist >= level;
      // and the min-hop path itself weighs <= 9 per hop: dist <= 9*level
      assert(d >= lvl && (lvl == 0 || d <= 9 * lvl),
        s"node $v: sssp $d outside [$lvl, ${9 * lvl}]")
    }
    // decoupling: some pair is ordered differently by hops and weight —
    // the weighted argmin is not just BFS in disguise
    val pairs = reached.toSeq.sortBy(v => (bfs(v), v))
    val inversion = pairs.combinations(2).exists { case Seq(u, v) =>
      (bfs(u) < bfs(v) && sssp(u) > sssp(v)) ||
        (bfs(u) > bfs(v) && sssp(u) < sssp(v))
    }
    assert(inversion, "hop order and weight order never disagree — " +
      "the weights would be vacuous")
  }

  test("q101 checksum: invariant under physical layout — 1 and 32 " +
      "partitions fingerprint identically, and one flipped row moves it") {
    import org.apache.spark.sql.functions._
    val base = SparkEntry.queries("q101_checksum")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"),
        r.getAs[Long]("checksum"))).toMap
    // same computation over a repartitioned scan must not move the sum
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    def sums(df: org.apache.spark.sql.DataFrame) = {
      val h = df.select(col("l_returnflag").as("grp"),
        md5(concat_ws(":", col("l_orderkey"), col("l_linenumber"),
          (col("l_quantity")
            .cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
            .cast("long"))).as("h"))
      h.withColumn("d", expr("CAST(" + (1 to 6).map(i =>
          s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1) * ${1L << (4 * (6 - i))}")
          .mkString(" + ") + " AS BIGINT)"))
        .groupBy("grp").agg(sum("d").as("c")).collect()
        .map(r => r.getString(0) -> r.getAs[Long]("c")).toMap
    }
    val one = sums(li.coalesce(1))
    val many = sums(li.repartition(32))
    assert(one == many, "fingerprint must be order/partitioning-free")
    base.foreach { case (g, (_, c)) => assert(one(g) == c) }
    // sensitivity: perturb one EXISTING row's quantity -> its group's
    // sum moves
    val probe = li.select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber").head()
    val flipped = sums(li.withColumn("l_quantity",
      when(col("l_orderkey") === probe.get(0).toString.toLong &&
        col("l_linenumber") === probe.get(1).toString.toLong,
        col("l_quantity") + 1).otherwise(col("l_quantity"))))
    assert(flipped != one, "a flipped row must move the fingerprint")
  }

  test("q100 TWAP: each group's weighted level lies inside its value " +
      "range and differs from the plain mean somewhere") {
    import org.apache.spark.sql.functions._
    val twap = SparkEntry.queries("q100_twap")(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Date]("day").toString) ->
        r.getAs[Double]("twap")).toMap
    val ev = graft.catalog.Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).cast("string").as("day"),
        col("value"))
      .groupBy("event_type", "day")
      .agg(min("value").as("lo"), max("value").as("hi"),
        avg("value").as("mean"), count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))))
      .toMap
    var somewhereDifferent = false
    twap.foreach { case (k, v) =>
      val (lo, hi, mean, _) = ev(k)
      assert(v >= lo - 1e-9 && v <= hi + 1e-9,
        s"$k: twap $v outside [$lo, $hi]")
      if (math.abs(v - mean) > 1e-6) somewhereDifferent = true
    }
    assert(somewhereDifferent,
      "time weighting must actually differ from the unweighted mean")
  }

  test("g6 k-core: the core is exactly the planted clique, one extra " +
      "peel is a no-op, and an un-cliqued graph peels to empty") {
    val rows01 = SparkEntry.queries("g6_kcore")(spark,
      "/root/testdata/sf0.01").collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("in_core"),
        r.getAs[Long]("core_deg")))
    val core = rows01.filter(_._2 == 1L).map(_._1).toSet
    assert(core == (0L until 500L by 25L).toSet,
      s"core must be the planted 20-clique, got ${core.toSeq.sorted}")
    // fixpoint: every core member keeps intra-core degree >= k (here
    // exactly the 19 other clique members), so peel round R+1 = round R
    rows01.filter(_._2 == 1L).foreach { case (n, _, d) =>
      assert(d >= graft.catalog.Graph.KCoreK && d >= 19,
        s"core node $n has core_deg $d")
    }
    rows01.filter(_._2 == 0L).foreach { case (n, _, d) =>
      assert(d == 0L, s"non-core node $n must report core_deg 0, got $d")
    }
    // without the clique the near-regular base graph (degrees 5-6)
    // cascades to an EMPTY 6-core — a driver-side peel over the same
    // formula edges proves the clique is what survival hinges on
    val n = 500L
    var edges = Set.empty[(Long, Long)]
    for (d <- 0L until n; (a, b) <- Seq((7L, 1L), (13L, 5L), (31L, 11L))) {
      val dst = (a * d + b) % n
      if (dst != d) edges += ((math.min(d, dst), math.max(d, dst)))
    }
    var alive = (0L until n).toSet
    for (_ <- 1 to graft.catalog.Graph.KCoreRounds) {
      val deg = scala.collection.mutable.Map.empty[Long, Int]
      edges.foreach { case (a, b) =>
        if (alive(a) && alive(b)) {
          deg(a) = deg.getOrElse(a, 0) + 1; deg(b) = deg.getOrElse(b, 0) + 1
        }
      }
      alive = alive.filter(v =>
        deg.getOrElse(v, 0) >= graft.catalog.Graph.KCoreK)
    }
    assert(alive.isEmpty,
      "the base graph alone must peel to empty — otherwise the planted " +
        "clique isn't load-bearing")
  }

  test("d42 BPE training: the distributed merges match an independent " +
      "driver-side BPE recurrence bit-for-bit") {
    val got = SparkEntry.queries("d42_bpe_train")(spark, sf).collect()
      .map(r => (r.getAs[Long]("step"), r.getString(1), r.getString(2),
        r.getAs[Long]("cnt"))).toSeq
    // reference implementation: plain Scala over the same corpus
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().iterator
      .flatMap(_.getString(0).trim.split(" +"))
      .map(_.toLowerCase.filter(c => c >= 'a' && c <= 'z'))
      .filter(_.nonEmpty).toSeq
    val wf = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    var dict = wf.map { case (w, f) => w.mkString(" ") -> f }
    val expect = (0 until 5).map { step =>
      val pc = scala.collection.mutable.Map.empty[String, Long]
      dict.foreach { case (ws, f) =>
        val sp = ws.split(" ")
        (0 until sp.length - 1).foreach { i =>
          val p = sp(i) + " " + sp(i + 1)
          pc(p) = pc.getOrElse(p, 0L) + f
        }
      }
      val (pair, cnt) = pc.toSeq.minBy { case (p, c) => (-c, p) }
      val merged = pair.replace(" ", "")
      val Array(pa, pb) = pair.split(" ")
      // TRUE BPE merge: greedy left-to-right over the SYMBOL ARRAY —
      // a plain string replace would also match across symbol
      // boundaries (symbols [xa, b] contain the substring "a b"),
      // which is not an adjacent-symbol merge. Keeping the reference
      // honest is what makes this spec able to catch that bug.
      def applyMerge(ws: String): String = {
        val sp = ws.split(" ")
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < sp.length) {
          if (i + 1 < sp.length && sp(i) == pa && sp(i + 1) == pb) {
            out += merged; i += 2
          } else { out += sp(i); i += 1 }
        }
        out.mkString(" ")
      }
      dict = dict.groupBy { case (ws, _) => applyMerge(ws) }
        .view.mapValues(_.values.sum).toMap
      (step.toLong, pair, merged, cnt)
    }
    assert(got == expect, s"merges diverged:\n got   $got\n expect $expect")
  }

  test("d42 BPE merge is boundary-anchored: a learned multi-char symbol " +
      "ending in 'a' never fuses its tail with a following 'b'") {
    // Crafted so merge 0 learns "x a"->"xa" and merge 2 learns "a b":
    // at that point the word 'xab' is the symbol string "xa b", which
    // CONTAINS the substring "a b" — a plain replace would produce the
    // illegal "xab" fusion; true adjacent-symbol BPE must leave it
    // untouched (only 'zab' = "z a b" carries a real (a, b) pair).
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_edge").toString
    val s2 = spark; import s2.implicits._
    val text = (Seq.fill(3)("xab") ++ Seq.fill(9)("xay")
      ++ Seq.fill(5)("zab")).mkString(" ")
    Seq((0L, text, "en", "s0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("d42_bpe_train")(spark, dir).collect()
      .map(r => (r.getAs[Long]("step"), r.getString(1), r.getString(2),
        r.getAs[Long]("cnt"))).toSeq
    assert(got == Seq(
      (0L, "x a", "xa", 12L),
      (1L, "xa y", "xay", 9L),
      (2L, "a b", "ab", 5L), // fires ONLY inside "z a b", not "xa b"
      (3L, "z ab", "zab", 5L),
      (4L, "xa b", "xab", 3L)),
      s"boundary-anchored merge order diverged: $got")
  }

  test("Staging.once: concurrent entrants for one slot write once") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val marker = java.nio.file.Files.createTempDirectory("graft_stage")
      .resolve("_SUCCESS")
    val writes = new AtomicInteger()
    // each write waits (bounded) for a second writer, so two unserialized
    // entrants are sure to overlap inside the write
    val bothWriting = new CountDownLatch(2)
    val threads = (1 to 2).map { _ =>
      val th = new Thread(() =>
        graft.catalog.Staging.once(spark, "once-race", "dir", marker.toString) {
          writes.incrementAndGet()
          bothWriting.countDown()
          bothWriting.await(2, TimeUnit.SECONDS)
          java.nio.file.Files.write(marker, Array.emptyByteArray)
        })
      th.start(); th
    }
    threads.foreach(_.join())
    assert(writes.get == 1, s"${writes.get} writes for one staged slot")
  }

  test("Staging.memo: concurrent entrants for one key compute once, " +
      "while another key computes alongside them") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val s2 = spark.newSession()
    val builds = new AtomicInteger()
    // a build of key "a" holds until key "b" has built: if one lock
    // covered both keys, "b" would wait out the latch's bound
    val bBuilt = new CountDownLatch(1)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = Seq("a", "a", "a", "b").map { key =>
      val th = new Thread(() => seen.add(
        graft.catalog.Staging.memo(s2, key)((_: String) => true) {
          builds.incrementAndGet()
          if (key == "a") assert(bBuilt.await(20, TimeUnit.SECONDS))
          else bBuilt.countDown()
          key
        }))
      th.start(); th
    }
    threads.foreach(_.join())
    assert(builds.get == 2, s"${builds.get} builds for two keys")
    assert(seen.toArray.toSeq.sortBy(_.toString) == Seq("a", "a", "a", "b"))
  }

  test("bb_e2e sink: concurrent entrants in one session write the CSVs once") {
    import org.apache.spark.sql.execution.QueryExecution
    val s2 = spark.newSession()
    val funcs = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      // the sink's one action collects the tasks' tophits candidates
      // from the frame that renders the CSV lines
      private def record(f: String, qe: QueryExecution) =
        funcs.put(if (qe.logical.toString.contains("graft_marker")) "marker"
          else if (qe.analyzed.toString.contains("to_csv")) s"$f sink"
          else f)
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(f, qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(f, qe)
    }
    s2.listenerManager.register(listener)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = Seq("bb_e2e_sink_combined", "bb_e2e_sink_rrpm").map { n =>
        val th = new Thread(() =>
          try { start.await(); SparkEntry.queries(n)(s2, sf).collect() }
          catch { case e: Throwable => errors.add(e) })
        th.start(); th
      }
      start.countDown()
      threads.foreach(_.join())
      assert(errors.isEmpty, errors.toArray.mkString("\n"))
      // listener events arrive in order: the marker comes after both
      // entrants' executions
      s2.sql("SELECT 'graft_marker'").collect()
      val ran = Iterator.continually(
          funcs.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(f => f != null && f != "marker").toList
      // BigBugData.write writes all three CSVs with one sink action
      assert(ran.count(_ == "collect sink") == 1, ran)
    } finally s2.listenerManager.unregister(listener)
  }

  test("session memos rebuild an entry whose marker file was deleted or " +
      "whose cached frame was unpersisted, and hold one LSH frame") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val marker = java.nio.file.Files.createTempDirectory("graft_stage")
      .resolve("_SUCCESS")
    var writes = 0
    def stage(): Unit =
      graft.catalog.Staging.once(spark, "rebuild", "dir", marker.toString) {
        writes += 1
        java.nio.file.Files.write(marker, Array.emptyByteArray)
      }
    stage(); stage()
    assert(writes == 1)
    java.nio.file.Files.delete(marker)
    stage()
    assert(writes == 2, "a deleted marker must restage")

    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def run(in: org.apache.spark.sql.DataFrame) = {
      val out = graft.catalog.Approx.lshScaledTop3(in)
      val rows = out.collect().toSeq
      (rows, out.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r.cacheBuilder }.distinct)
    }
    val (rowsA, a) = run(emb)
    val (rowsB, b) = run(emb)
    assert(a.length == 1 && a == b, "a repeated call reuses the live frame")
    spark.catalog.clearCache()
    val (rowsC, c) = run(emb)
    assert(c.length == 1 && c != a, "an unpersisted frame must be rebuilt")
    assert(rowsA == rowsB && rowsA == rowsC)
    assert(c.head.isCachedColumnBuffersLoaded)
    run(emb.filter(col("vec_id") < 300))
    assert(!c.head.isCachedColumnBuffersLoaded,
      "a call on another input releases the session's previous frame")
  }

  test("lshScaledTop3 called from two sessions on one corpus answers in " +
      "each caller's own session") {
    val s2 = spark.newSession()
    for (s <- Seq(spark, s2, spark, s2)) {
      val out = graft.catalog.Approx.lshScaledTop3(
        s.read.parquet(s"$sf/embeddings.parquet"))
      assert(out.sparkSession eq s)
      assert(out.count() > 0)
    }
  }

  test("memo frames survive Bench's between-query hygiene: e11, e12, e17 " +
      "and d32 answer again") {
    val names = Seq("e11_kmeans_train", "e12_ivf_trained", "e17_pq_trained",
      "d32_setsim_join")
    def runAll() = names.map(n => SparkEntry.queries(n)(spark, sf).collect().toSeq)
    val before = runAll()
    // graft.Bench's hygiene between two queries
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !graft.catalog.PinnedCheckpoints.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    assert(runAll() == before)
  }

  test("Staging.tag: hashCode-colliding dirs get distinct roots") {
    val (a, b) = ("/data/sf/Aa", "/data/sf/BB")
    assert(a.hashCode == b.hashCode)
    assert(graft.catalog.Staging.tag(a) != graft.catalog.Staging.tag(b))
    assert(graft.catalog.Staging.tag(a).matches("[0-9a-f]{16}"))
  }
}
