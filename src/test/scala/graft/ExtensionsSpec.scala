package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions
import graft.operators.SaltedAgg

class ExtensionsSpec extends SparkSuite {

  /** a kernel builder's expression evaluated on the interpreted path */
  private def interpreted(c: org.apache.spark.sql.Column): Any =
    org.apache.spark.sql.GraftBridge.expression(c).eval(null)
  private def column(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftBridge.column(e)

  test("SQL callers can use rolling_hash / min_hash_sig / sim_hash_sig " +
      "after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT rolling_hash('hello') AS h,
                min_hash_sig(array('a','b','c'), 8) AS sig,
                sim_hash_sig(array('a','b','c')) AS sh""").collect().head
    val direct = graft.functions.RollingHash.hashBytes("hello".getBytes("UTF-8"))
    assert(r.getAs[Long]("h") == direct)
    assert(r.getAs[scala.collection.Seq[Long]]("sig").length == 8)
    val viaCol = spark.sql("SELECT array('a','b','c') AS t")
      .select(graft.functions.SimHashSig.sim_hash_sig(col("t")))
      .collect().head.getLong(0)
    assert(r.getAs[Long]("sh") == viaCol)
  }

  test("dot_product / cosine_sim: codegen and interpreted paths agree on " +
      "values AND null edges (length mismatch, null element)") {
    val s2 = spark; import s2.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val cases: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(1.0, 2.0), Seq(4.0, 5.0, 6.0)),          // length mismatch -> null
      (Seq(1.0, null, 3.0), Seq(4.0, 5.0, 6.0)),    // null element -> null
      (Seq.empty, Seq.empty),                        // 0/0 -> NaN cosine
      (Seq(0.0, 0.0), Seq(1.0, 2.0)))                // 0-norm -> NaN cosine
    val df = cases.toDF("a", "b")
    val codegen = df.select(
        graft.functions.DotProduct.dot_product(col("a"), col("b")).as("d"),
        graft.functions.CosineSim.cosine_sim(col("a"), col("b")).as("c"))
      .collect()
      .map(r => (Option(r.get(0)), Option(r.get(1))))
    def lit(xs: Seq[java.lang.Double]) = Literal(
      ArrayData.toArrayData(xs.map(x =>
        if (x == null) null else x.doubleValue()).toArray[Any]),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    val interp = cases.map { case (a, b) =>
      (Option(interpreted(graft.functions.DotProduct.dot_product(column(lit(a)), column(lit(b))))),
        Option(interpreted(graft.functions.CosineSim.cosine_sim(column(lit(a)), column(lit(b))))))
    }
    // NaN == NaN for this comparison (both paths must produce it)
    def same(x: Option[Any], y: Option[Any]) = (x, y) match {
      case (Some(a: Double), Some(b: Double)) =>
        (a.isNaN && b.isNaN) || a == b
      case _ => x == y
    }
    codegen.zip(interp).foreach { case ((cd, cc), (id, ic)) =>
      assert(same(cd, id) && same(cc, ic),
        s"codegen=($cd,$cc) interpreted=($id,$ic)")
    }
  }

  test("min_hash_sig / sim_hash_sig: codegen and interpreted paths agree " +
      "on values AND edges (null element, empty array)") {
    val s2 = spark; import s2.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val cases: Seq[Seq[String]] = Seq(
      Seq("a", "b", "c"),
      Seq("a", null, "c"),   // null element: minhash skips, simhash votes seed
      Seq.empty,             // empty: all-MaxValue minhash, all-negative votes
      Seq("solo"))
    val df = cases.toDF("tk")
    val codegen = df.select(
        graft.functions.MinHashSig.min_hash_sig(col("tk"), 8).as("mh"),
        graft.functions.SimHashSig.sim_hash_sig(col("tk")).as("sh"))
      .collect()
      .map(r => (r.getAs[scala.collection.Seq[Long]]("mh").toSeq,
        r.getAs[Long]("sh")))
    def lit(xs: Seq[String]) = Literal(
      ArrayData.toArrayData(xs.map(x =>
        if (x == null) null else UTF8String.fromString(x)).toArray[Any]),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType))
    val interp = cases.map { xs =>
      val mh = interpreted(graft.functions.MinHashSig.min_hash_sig(column(lit(xs)), 8))
        .asInstanceOf[ArrayData].toLongArray().toSeq
      val sh = interpreted(graft.functions.SimHashSig.sim_hash_sig(column(lit(xs))))
        .asInstanceOf[Long]
      (mh, sh)
    }
    assert(codegen.toSeq == interp,
      s"codegen=${codegen.toSeq} interpreted=$interp")
  }

  test("Md5Sketch kernels match an independent digest-level reference " +
      "(KM minhash lanes, simhash vote words) and run in codegen") {
    val s2 = spark; import s2.implicits._
    // independent reference: raw MessageDigest + explicit BE word
    // decode + the same arithmetic, written from the definitions
    def halvesRef(s: String): (Long, Long) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      def be(from: Int) = (0 until 4).foldLeft(0L)((a, i) =>
        (a << 8) | (d(from + i) & 0xffL))
      (be(0), be(4))
    }
    def kmRef(xs: Seq[String], k: Int): Seq[Long] =
      (0 until k).map { j =>
        xs.map { x =>
          val (h1, h2) = halvesRef(x)
          (h1 + j * h2) & 0xffffffffL
        }.min
      }
    def wordsRef(xs: Seq[String]): (Long, Long) = {
      val votes = Array.fill(64)(0)
      xs.foreach { x =>
        val (h1, h2) = halvesRef(x)
        (0 until 32).foreach { j =>
          votes(j) += (if (((h2 >>> j) & 1L) == 1L) 1 else -1)
          votes(j + 32) += (if (((h1 >>> j) & 1L) == 1L) 1 else -1)
        }
      }
      def word(off: Int) = (0 until 32).foldLeft(0L)((a, j) =>
        if (votes(off + j) > 0) a | (1L << j) else a)
      (word(32), word(0))
    }
    val cases = Seq(
      Seq("alpha", "beta", "gamma", "alpha beta"),
      Seq(""),            // md5 of the empty string is well-defined
      Seq("ünïcødé ツ"),  // digest runs over UTF-8 bytes
      (1 to 100).map(i => s"w$i"))
    val df = cases.toDF("tk")
    val got = df.select(
        graft.functions.Md5Sketch.md5_minhash_km(col("tk"), 32).as("mh"),
        graft.functions.Md5Sketch.md5_simhash_words(col("tk")).as("w"))
      .collect()
      .map(r => (r.getAs[scala.collection.Seq[Long]]("mh").toSeq,
        r.getAs[scala.collection.Seq[Long]]("w").toSeq))
    cases.zip(got).foreach { case (xs, (mh, w)) =>
      assert(mh == kmRef(xs, 32), s"minhash diverged on $xs")
      val (hi, lo) = wordsRef(xs)
      assert(w == Seq(hi, lo), s"simhash words diverged on $xs")
    }
    // the interpreted eval path must agree with the codegen path above
    // (same-kernel discipline as MinHashSig/SimHashSig)
    locally {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.util.ArrayData
      import org.apache.spark.unsafe.types.UTF8String
      def lit0(xs: Seq[String]) = Literal(
        ArrayData.toArrayData(xs.map(UTF8String.fromString).toArray[Any]),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType))
      val interp = cases.map { xs =>
        (interpreted(graft.functions.Md5Sketch.md5_minhash_km(column(lit0(xs)), 32))
          .asInstanceOf[ArrayData].toLongArray().toSeq,
          interpreted(graft.functions.Md5Sketch.md5_simhash_words(column(lit0(xs))))
            .asInstanceOf[ArrayData].toLongArray().toSeq)
      }
      assert(interp == got.toSeq,
        s"interpreted != codegen: $interp vs ${got.toSeq}")
    }
    // and the kernels must sit inside WholeStageCodegen (non-literal
    // input so nothing constant-folds)
    val arrs = spark.range(8).select(
      transform(sequence(lit(0L), col("id") + 2),
        x => concat(lit("w"), x.cast("string"))).as("tk"))
    val p = arrs.select(
        graft.functions.Md5Sketch.md5_minhash_km(col("tk"), 8).as("a"),
        graft.functions.Md5Sketch.md5_simhash_words(col("tk")).as("b"))
      .queryExecution.executedPlan.toString
    val projLine = p.linesIterator
      .find(l => l.contains("md5_minhash_km") || l.contains("md5_simhash_words"))
      .getOrElse(fail(s"expressions not found in plan:\n$p"))
    assert(projLine.trim.startsWith("*"),
      s"kernels must run inside WholeStageCodegen:\n$p")
  }

  test("PqKernels: encode/ADC match a from-definitions reference, " +
      "interpreted == codegen, and sit inside WholeStageCodegen") {
    val s2 = spark; import s2.implicits._
    val M = 4; val K = 3; val sub = 2
    val cb: Array[Double] =
      (0 until M * K * sub).map(i => math.sin(i + 1.0)).toArray
    // reference written from the definitions: sequential j-fold per
    // (m, k) from 0.0, FIRST index of the minimum, sse in m order
    def encRef(dv: Seq[Double]): (Seq[Long], Double) = {
      var sse = 0.0
      val codes = (0 until M).map { m =>
        val dists = (0 until K).map { k =>
          var acc = 0.0
          (0 until sub).foreach { j =>
            val d = dv(m * sub + j) - cb(m * K * sub + k * sub + j)
            acc += d * d
          }
          acc
        }
        val mn = dists.min
        sse += mn
        (dists.indexWhere(_ == mn) + 1).toLong
      }
      (codes, sse)
    }
    def adcRef(qv: Seq[Double], codes: Seq[Long]): Double = {
      var adc = 0.0
      (0 until M).foreach { m =>
        val k = codes(m).toInt - 1
        var acc = 0.0
        (0 until sub).foreach { j =>
          val d = qv(m * sub + j) - cb(m * K * sub + k * sub + j)
          acc += d * d
        }
        adc += acc
      }
      adc
    }
    val cases: Seq[Seq[Double]] =
      (0 until 24).map(i => (0 until M * sub).map(j => math.cos(i * 31.0 + j)))
    val q = cases.head
    val df = cases.map(Tuple1(_)).toDF("dv")
    val enc = graft.functions.PqKernels.pq_encode(col("dv"), cb, M, K, sub)
    val got = df.select(enc.as("es"))
      .select(col("es.codes").as("c"), col("es.sse").as("s"),
        graft.functions.PqKernels.pq_adc(
          typedlit(q), col("es.codes"), cb, M, K, sub).as("adc"))
      .collect()
      .map(r => (r.getAs[scala.collection.Seq[Long]]("c").toSeq,
        r.getAs[Double]("s"), r.getAs[Double]("adc")))
    cases.zip(got).foreach { case (dv, (codes, sse, adc)) =>
      val (rc, rs) = encRef(dv)
      assert(codes == rc && sse == rs, s"encode diverged on $dv")
      assert(adc == adcRef(q, rc), s"adc diverged on $dv")
    }
    // interpreted eval must agree with the codegen path above
    locally {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.util.ArrayData
      import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
      def litD(xs: Seq[Double]) = Literal(
        ArrayData.toArrayData(xs.toArray), ArrayType(DoubleType))
      val interp = cases.map { dv =>
        val row = interpreted(graft.functions.PqKernels.pq_encode(column(litD(dv)), cb, M, K, sub)).asInstanceOf[InternalRow]
        val codes = row.getArray(0).toLongArray().toSeq
        val adc = interpreted(graft.functions.PqKernels.pq_adc(column(litD(q)),
          column(Literal(ArrayData.toArrayData(codes.toArray),
            ArrayType(LongType))), cb, M, K, sub))
          .asInstanceOf[Double]
        (codes, row.getDouble(1), adc)
      }
      assert(interp == got.toSeq, s"interpreted != codegen")
    }
    // codegen placement on a non-literal input
    val arrs = spark.range(8).select(
      transform(sequence(lit(1L), lit(M * sub.toLong)),
        x => x.cast("double") + col("id")).as("dv"))
    // dv referenced twice so CollapseProject keeps the kernel Project
    // separate from the (codegen-fallback) HOF input Project — same
    // two-reference shape the Md5Sketch placement pin uses
    val p = arrs.select(
        graft.functions.PqKernels.pq_encode(col("dv"), cb, M, K, sub).as("e"),
        graft.functions.PqKernels.pq_adc(col("dv"),
          typedlit((1 to M).map(_.toLong)), cb, M, K, sub).as("a"))
      .queryExecution.executedPlan.toString
    val projLine = p.linesIterator.find(_.contains("pq_encode"))
      .getOrElse(fail(s"pq_encode not found in plan:\n$p"))
    assert(projLine.trim.startsWith("*"),
      s"pq_encode must run inside WholeStageCodegen:\n$p")
  }

  test("SimHashSig matches the per-bit HOF reference formulation exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        array_distinct(split(trim(lower(col("text"))), " +")).as("tk"))
      .withColumn("hashes", transform(col("tk"), w => xxhash64(w)))
      .cache()
    val hofSim = (0 until 64).map { j =>
      val bitSum = aggregate(col("hashes"), lit(0L), (cnt, h) =>
        cnt + (shiftrightunsigned(h, j).bitwiseAND(lit(1L)) * 2 - 1))
      when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    val both = docs.select(col("doc_id"),
      hofSim.as("ref"),
      graft.functions.SimHashSig.sim_hash_sig(col("tk")).as("got"))
      .collect()
    docs.unpersist()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"doc ${r.getLong(0)}: ref=${r.getLong(1)} got=${r.getLong(2)}"))
  }

  test("CosineSim is bit-identical to the composed dot/(norm*norm) form, " +
      "including null/length edges") {
    val s2 = spark; import s2.implicits._
    import graft.catalog.Vectors
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("dv"))
      .limit(50).cache()
    val a = emb.select(col("vec_id").as("ia"), col("dv").as("va"))
    val b = emb.select(col("vec_id").as("ib"), col("dv").as("vb"))
    val both = a.join(b, col("ia") < col("ib"))
      .select(
        graft.functions.CosineSim.cosine_sim(col("va"), col("vb")).as("fused"),
        (Vectors.dot(col("va"), col("vb"))
          / (Vectors.norm(col("va")) * Vectors.norm(col("vb")))).as("composed"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
    }
    // null element and unequal length both yield NULL, like the HOF idiom
    val edges = Seq(
      (Array[java.lang.Double](1.0, null), Array[java.lang.Double](1.0, 2.0)),
      (Array[java.lang.Double](1.0), Array[java.lang.Double](1.0, 2.0)))
      .toDF("x", "y")
      .select(graft.functions.CosineSim.cosine_sim(col("x"), col("y")).as("c"))
      .collect()
    assert(edges.forall(_.isNullAt(0)))
  }

  test("IvfSims kernel: bit-identical to the literal dot_product sims " +
      "array on real vectors; interpreted == codegen incl. null edges; " +
      "scaledC ladder; e8-shape parity kernel vs literal") {
    import graft.catalog.Approx
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val C = 16; val dims = 64
    val cb = Approx.ivfFlatCentroids(C, dims)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("dv", transform(col("embedding"), x => x.cast("double")))
    // 1) kernel sims == C separate literal dot_product expressions,
    //    bit-for-bit (same fold order by construction)
    def centroidLit(c: Int) = array((0 until dims).map(d =>
      lit(cb(c * dims + d))): _*)
    val litSims = array((0 until C).map(c =>
      graft.functions.DotProduct.dot_product(col("dv"), centroidLit(c))): _*)
    val both = emb.select(col("vec_id"),
        graft.functions.IvfKernels.ivf_sims(col("dv"), cb, dims).as("k"),
        litSims.as("l"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val k = r.getAs[scala.collection.Seq[Double]]("k")
      val l = r.getAs[scala.collection.Seq[Double]]("l")
      assert(k.length == C && l.length == C)
      k.zip(l).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToRawLongBits(a) ==
          java.lang.Double.doubleToRawLongBits(b),
          s"vec ${r.getLong(0)}: kernel=$a literal=$b")
      }
    }
    // 2) interpreted eval == codegen, and the null edges both yield null
    //    (ragged length, null element — mirrors the PqEncode contract)
    def litArr(xs: Seq[java.lang.Double]) = Literal(
      ArrayData.toArrayData(xs.map(x =>
        if (x == null) null else x.doubleValue()).toArray[Any]),
      ArrayType(DoubleType))
    val goodDv = (0 until dims).map(d => java.lang.Double.valueOf(d * 0.01))
    val interp = interpreted(graft.functions.IvfKernels.ivf_sims(column(litArr(goodDv)), cb, dims))
      .asInstanceOf[ArrayData].toDoubleArray().toSeq
    val viaDf = emb.limit(1)
      .select(graft.functions.IvfKernels.ivf_sims(
        transform(sequence(lit(0), lit(dims - 1)),
          i => i.cast("double") * lit(0.01)), cb, dims))
      .collect().head.getAs[scala.collection.Seq[Double]](0).toSeq
    assert(interp == viaDf, "interpreted != codegen")
    assert(interpreted(graft.functions.IvfKernels.ivf_sims(
      column(litArr(goodDv.take(dims - 1))), cb, dims)) == null)
    assert(interpreted(graft.functions.IvfKernels.ivf_sims(
      column(litArr(goodDv.updated(3, null: java.lang.Double))), cb, dims)) == null)
    // 2b) IvfProbes == the declarative zip_with→array_sort probe tail
    //     (and its element 1 == the array_position cell argmax) on real
    //     vectors, plus the same null edges
    val litSimsRanked = zip_with(litSims,
      transform(sequence(lit(1), lit(C)), i => i.cast("long")),
      (sim, idx) => struct((-sim).as("neg"), idx.as("cell")))
    val probePairs = emb.select(col("vec_id"),
        graft.functions.IvfKernels.ivf_probes(col("dv"), cb, dims, 4).as("k"),
        transform(slice(array_sort(litSimsRanked), 1, 4),
          x => x.getField("cell")).as("l"),
        array_position(litSims, array_max(litSims)).as("cellRef"))
      .collect()
    probePairs.foreach { r =>
      val k = r.getAs[scala.collection.Seq[Long]]("k").toSeq
      assert(k == r.getAs[scala.collection.Seq[Long]]("l").toSeq,
        s"vec ${r.getLong(0)} probes")
      assert(k.head == r.getLong(3), s"vec ${r.getLong(0)} cell argmax")
    }
    val interpProbes = interpreted(graft.functions.IvfKernels.ivf_probes(column(litArr(goodDv)), cb, dims, 4)).asInstanceOf[ArrayData].toLongArray().toSeq
    val codegenProbes = emb.limit(1)
      .select(graft.functions.IvfKernels.ivf_probes(
        transform(sequence(lit(0), lit(dims - 1)),
          i => i.cast("double") * lit(0.01)), cb, dims, 4))
      .collect().head.getAs[scala.collection.Seq[Long]](0).toSeq
    assert(interpProbes == codegenProbes, "probes interpreted != codegen")
    assert(interpreted(graft.functions.IvfKernels.ivf_probes(
      column(litArr(goodDv.take(dims - 1))), cb, dims, 4)) == null)
    assert(interpreted(graft.functions.IvfKernels.ivf_probes(
      column(litArr(goodDv.updated(3, null: java.lang.Double))), cb, dims, 4)) == null)
    // 2c) NaN-sim guard: a NaN element makes every dot product NaN —
    //     the two formulations rank NaN at opposite ends (array_sort
    //     puts -NaN last, Double.compare first), so BOTH kernels
    //     declare the row out of contract and return null, in the
    //     interpreted AND codegen paths alike
    val nanDv = goodDv.updated(3, java.lang.Double.valueOf(Double.NaN))
    assert(interpreted(graft.functions.IvfKernels.ivf_sims(column(litArr(nanDv)), cb, dims)) == null, "interpreted IvfSims on NaN dv")
    assert(interpreted(graft.functions.IvfKernels.ivf_probes(column(litArr(nanDv)), cb, dims, 4)) == null, "interpreted IvfProbes on NaN dv")
    val nanDvCol = transform(sequence(lit(0), lit(dims - 1)),
      i => when(i === 3, lit(Double.NaN)).otherwise(i.cast("double") * lit(0.01)))
    val codegenNaN = emb.limit(1).select(
        graft.functions.IvfKernels.ivf_sims(nanDvCol, cb, dims).as("s"),
        graft.functions.IvfKernels.ivf_probes(nanDvCol, cb, dims, 4).as("p"))
      .collect().head
    assert(codegenNaN.isNullAt(0), "codegen IvfSims on NaN dv")
    assert(codegenNaN.isNullAt(1), "codegen IvfProbes on NaN dv")
    // 3) the power-of-two ladder both engines derive C from
    assert(Approx.scaledCAt(1L, 4096) == 8)
    assert(Approx.scaledCAt(256L, 4096) == 8)   // ceil(256/32) = 8 = floor
    assert(Approx.scaledCAt(257L, 4096) == 16)  // ceil(257/32) = 9 > 8
    assert(Approx.scaledCAt(500L, 4096) == 16)
    assert(Approx.scaledCAt(512L, 4096) == 16)  // ceil(512/32) = 16 exactly
    assert(Approx.scaledCAt(513L, 4096) == 32)  // ceiling division, not floor
    assert(Approx.scaledCAt(2000L, 4096) == 64)
    assert(Approx.scaledCAt(25000L, 4096) == 1024)
    // 3b) the cluster-escape ladders (SPARK_GRAFT_IVF_CMAX lockstep
    //     helpers): identical at the default cap; a raised cap keeps
    //     the C ladder climbing and S tracks sqrt(C) via smaxFor
    assert(Approx.scaledCAt(250000L, 4096) == 4096)   // default clamp binds at sf5
    assert(Approx.scaledCAt(250000L, 16384) == 8192)  // escape: ceil(250k/32)=7813
    assert(Approx.scaledCAt(10000000L, 16384) == 16384) // raised clamp still binds
    assert(Approx.smaxFor(4096) == 64)   // the historical constant
    assert(Approx.smaxFor(8192) == 128)
    assert(Approx.smaxFor(16384) == 128)
    assert(Approx.smaxFor(65536) == 256)
    assert(Approx.scaledSuperCAt(8192, 128) == 128) // s*s >= C reachable again
    assert(Approx.scaledSuperCAt(8192, 64) == 64)   // old cap would have pinned it
    // default-cap pins are env-coupled BY DESIGN (ivfCmax reads the
    // process environment once per JVM): under an exported
    // SPARK_GRAFT_IVF_CMAX the cap-PARAMETERIZED ladder pins above still
    // hold, so skip only these env-reading assertions rather than
    // failing a suite that is deliberately running at a raised cap
    // (ADVICE round 14 — e.g. the cluster-escape gate exports it)
    if (!sys.env.contains("SPARK_GRAFT_IVF_CMAX")) {
      // default clamp binds
      assert(Approx.scaledCAt(10000000L, Approx.ivfCmax) == 4096)
      assert(Approx.ivfCmax == 4096, "suite must run at the default cap")
      assert(Approx.ivfSmax == 64)
    }
    // the clamp diagnostic (round-15: the silently-binding cap now
    // speaks): pure function of (n, cmax), message names the escape
    // env var, the sharded operator, and strict mode
    assert(Approx.clampDiagnostic(131072L, 4096).isEmpty) // 4096*32 exactly
    assert(Approx.clampDiagnostic(131073L, 4096).isDefined)
    val diag = Approx.clampDiagnostic(250000L, 4096).get
    assert(diag.contains("SPARK_GRAFT_IVF_CMAX") &&
      diag.contains("e8c_embed_dedup_sharded") &&
      diag.contains("SPARK_GRAFT_IVF_STRICT") &&
      diag.contains("4.1x"),
      s"clamp diagnostic must name the three escapes and the price: $diag")
    assert(Approx.clampDiagnostic(250000L, 8192).isEmpty) // escaped cap
    // strict mode fails instead of degrading; non-binding strict is a
    // no-op either way
    val strictErr = intercept[RuntimeException] {
      Approx.clampEnforce(250000L, 4096, strict = true)
    }
    assert(strictErr.getMessage.contains("CLAMPED"))
    Approx.clampEnforce(131072L, 4096, strict = true) // not binding: no-op
    Approx.clampEnforce(250000L, 4096, strict = false) // warn path: no throw
    // env-int parse guard (ADVICE round 14 A1): non-numeric, empty, and
    // out-of-range values ALL surface the descriptive require message —
    // never a raw NumberFormatException (the pure parse arm is split
    // from the sys.env read exactly so this is testable)
    def parse(raw: Option[String], pow2: Boolean = true): Int =
      Approx.envIntParse("SPARK_GRAFT_IVF_CMAX", raw, 4096, 8, 65536, pow2)
    assert(parse(None) == 4096)
    assert(parse(Some(" 8192 ")) == 8192)
    for (bad <- Seq("abc", "", "  ", "3.5", "12.0", "100000", "4", "3000")) {
      val e = intercept[IllegalArgumentException] { parse(Some(bad)) }
      assert(e.getMessage.contains("SPARK_GRAFT_IVF_CMAX") &&
        e.getMessage.contains("power of two"),
        s"'$bad' must die in the descriptive message, got: ${e.getMessage}")
    }
    assert(parse(Some("3000"), pow2 = false) == 3000) // non-pow2 shape
    // 4) the count-scaled tiers score through the TWO-LEVEL kernel
    //    (IvfProbes2) — its parity pins live in the dedicated IvfProbes2
    //    test below (degenerate sProbes=S == this flat kernel
    //    bit-for-bit, and the production sProbes=2 path == a driver-side
    //    reference).
  }

  test("IvfProbes2 two-level kernel: degenerate sProbes=S equals the " +
      "flat kernel bit-for-bit; production sProbes=2 matches an " +
      "independent driver-side reference; interpreted == codegen; " +
      "null/NaN edges; scaledSuperC ladder; ivfChildren compaction") {
    import graft.catalog.Approx
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val dims = 64
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("dv", transform(col("embedding"), x => x.cast("double")))
    // independent reference: plain Scala, explicit Double.compare
    // tie-breaks (sim DESC, index ASC) — deliberately a different style
    // (sort over materialized candidate lists) from the kernel's
    // insertion scan
    def dotAt(v: Array[Double], flat: Array[Double], i: Int): Double = {
      var acc = 0.0; var d = 0
      while (d < dims) { acc += v(d) * flat(i * dims + d); d += 1 }
      acc
    }
    def rankDesc(xs: Seq[(Long, Double)]): Seq[(Long, Double)] =
      xs.sortWith { case ((i1, s1), (i2, s2)) =>
        val c = java.lang.Double.compare(s1, s2)
        c > 0 || (c == 0 && i1 < i2)
      }
    for (c <- Seq(16, 64)) {
      val s = Approx.scaledSuperC(c)
      val (superCb, childStart, childIds) = Approx.ivfChildren(c, s, dims)
      val cb = Approx.ivfFlatCentroids(c, dims)
      val nSup = childStart.length - 1
      // compaction invariants: every cell exactly once, offsets closed
      assert(childIds.sorted.toSeq == (0 until c),
        s"C=$c: child index must cover every cell exactly once")
      assert(childStart.head == 0 && childStart.last == c)
      assert(nSup >= 1 && nSup <= s)
      // (a) degenerate equivalence: probing ALL (non-empty) supers sees
      //     every cell, so probes2 == the flat kernel bit-for-bit —
      //     transitively == the literal dot_product formulation pinned
      //     in the IvfSims test above
      val degen = emb.select(col("vec_id"),
          graft.functions.IvfKernels.ivf_probes2(col("dv"), superCb, cb,
            childStart, childIds, dims, 4, nSup).as("two"),
          graft.functions.IvfKernels.ivf_probes(col("dv"), cb, dims, 4)
            .as("flat"))
        .collect()
      assert(degen.nonEmpty)
      degen.foreach { r =>
        assert(r.getAs[scala.collection.Seq[Long]]("two").toSeq ==
          r.getAs[scala.collection.Seq[Long]]("flat").toSeq,
          s"C=$c vec ${r.getLong(0)}: sProbes=nSup must equal flat")
      }
      // (b) the production path (sProbes=2) vs the reference
      val got = emb.select(col("vec_id"),
          graft.functions.IvfKernels.ivf_probes2(col("dv"), superCb, cb,
            childStart, childIds, dims, 4, 2).as("p"))
        .collect().map(r => r.getLong(0) ->
          r.getAs[scala.collection.Seq[Long]]("p").toSeq).toMap
      val dvs = emb.select("vec_id", "dv").collect().map(r =>
        r.getLong(0) -> r.getAs[scala.collection.Seq[Double]]("dv").toArray)
      assert(dvs.nonEmpty)
      dvs.foreach { case (id, v) =>
        val ssims = (0 until nSup).map(i => (i.toLong, dotAt(v, superCb, i)))
        val top2 = rankDesc(ssims).take(2).map(_._1.toInt)
        val cand = top2.flatMap(si =>
          (childStart(si) until childStart(si + 1)).map(childIds))
        val ranked = rankDesc(cand.map(cell =>
          (cell + 1L, dotAt(v, cb, cell))))
        val expect = ranked.take(4).map(_._1)
        assert(got(id) == expect, s"C=$c vec $id: kernel=${got(id)} ref=$expect")
        assert(got(id).nonEmpty, s"C=$c vec $id: probes must never be empty")
      }
    }
    // interpreted == codegen + null/NaN edges (C=16 config)
    val c16 = 16
    val s16 = Approx.scaledSuperC(c16)
    val (supCb, cs16, ci16) = Approx.ivfChildren(c16, s16, dims)
    val cb16 = Approx.ivfFlatCentroids(c16, dims)
    def litArr(xs: Seq[java.lang.Double]) = Literal(
      ArrayData.toArrayData(xs.map(x =>
        if (x == null) null else x.doubleValue()).toArray[Any]),
      ArrayType(DoubleType))
    val goodDv = (0 until dims).map(d => java.lang.Double.valueOf(d * 0.01))
    val interp = interpreted(graft.functions.IvfKernels.ivf_probes2(column(litArr(goodDv)), supCb, cb16,
        cs16, ci16, dims, 4, 2)).asInstanceOf[ArrayData].toLongArray().toSeq
    val viaCodegen = emb.limit(1)
      .select(graft.functions.IvfKernels.ivf_probes2(
        transform(sequence(lit(0), lit(dims - 1)),
          i => i.cast("double") * lit(0.01)), supCb, cb16, cs16, ci16,
        dims, 4, 2))
      .collect().head.getAs[scala.collection.Seq[Long]](0).toSeq
    assert(interp == viaCodegen, "probes2 interpreted != codegen")
    assert(interpreted(graft.functions.IvfKernels.ivf_probes2(column(litArr(goodDv.take(dims - 1))),
      supCb, cb16, cs16, ci16, dims, 4, 2)) == null)
    assert(interpreted(graft.functions.IvfKernels.ivf_probes2(
      column(litArr(goodDv.updated(3, null: java.lang.Double))),
      supCb, cb16, cs16, ci16, dims, 4, 2)) == null)
    assert(interpreted(graft.functions.IvfKernels.ivf_probes2(
      column(litArr(goodDv.updated(3, java.lang.Double.valueOf(Double.NaN)))),
      supCb, cb16, cs16, ci16, dims, 4, 2)) == null,
      "NaN dv must null the row (rank-consistency contract)")
    // the integer-square ladder both engines derive S from: smallest
    // power of two s with s*s >= C, C ∈ [8, 4096] → s ∈ [4, 64]
    assert(Approx.scaledSuperC(8) == 4)
    assert(Approx.scaledSuperC(16) == 4)
    assert(Approx.scaledSuperC(32) == 8)
    assert(Approx.scaledSuperC(64) == 8)
    assert(Approx.scaledSuperC(128) == 16)
    assert(Approx.scaledSuperC(256) == 16)
    assert(Approx.scaledSuperC(512) == 32)
    assert(Approx.scaledSuperC(1024) == 32)
    assert(Approx.scaledSuperC(2048) == 64)
    assert(Approx.scaledSuperC(4096) == 64)
  }

  test("IvfProbes2B broadcast-codebook kernel: bit-identical to inline " +
      "IvfProbes2 at C=4096 (the BcastCMin rung); broadcast content == " +
      "driver codebook verbatim; one broadcast per (context, C) via the " +
      "memo; interpreted == codegen; ragged/null-hole input nulls") {
    import graft.catalog.Approx
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val dims = 64
    val c = Approx.BcastCMin // 4096 — the first broadcast-eligible rung
    val s = Approx.scaledSuperC(c)
    val (superCb, cs, ci) = Approx.ivfChildren(c, s, dims)
    val cb = Approx.ivfFlatCentroids(c, dims)
    // memo identity + content: the broadcast IS the driver codebook
    val b = Approx.cbBcast(spark, c, dims)
    assert(b eq Approx.cbBcast(spark, c, dims),
      "cbBcast must memoize one broadcast per (context, C)")
    assert(java.util.Arrays.equals(b.value, cb),
      "broadcast content must equal ivfFlatCentroids(C) verbatim")
    // probes2Col switches transport at the threshold: broadcast at
    // BcastCMin, inline below it — asserted on the kernel name so
    // a silent fallback to the 4-MiB-task-binary path can't reappear
    def exprOf(col: org.apache.spark.sql.Column) =
      org.apache.spark.sql.GraftBridge.expression(col)
    assert(exprOf(Approx.probes2Col(spark, c, Approx.ivfSmax, dims, 4))
      .prettyName == "ivf_probes2b")
    assert(exprOf(Approx.probes2Col(spark, c / 2, Approx.ivfSmax, dims, 4))
      .prettyName == "ivf_probes2")
    // bit-identical outputs, both in ONE codegen'd projection
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumn("dv", transform(col("embedding"), x => x.cast("double")))
    val rows = emb.select(col("vec_id"),
        graft.functions.IvfKernels.ivf_probes2(col("dv"), superCb, cb,
          cs, ci, dims, 4, 2).as("inl"),
        graft.functions.IvfKernels.ivf_probes2b(col("dv"), superCb, b,
          cs, ci, dims, 4, 2).as("bc"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("inl").toSeq ==
        r.getAs[scala.collection.Seq[Long]]("bc").toSeq,
        s"vec ${r.getLong(0)}: broadcast kernel must equal inline")
    }
    // interpreted == codegen + ragged/null-hole edges
    def litArr(xs: Seq[java.lang.Double]) = Literal(
      ArrayData.toArrayData(xs.map(x =>
        if (x == null) null else x.doubleValue()).toArray[Any]),
      ArrayType(DoubleType))
    val goodDv = (0 until dims).map(d => java.lang.Double.valueOf(d * 0.01))
    val interp = interpreted(graft.functions.IvfKernels.ivf_probes2b(column(litArr(goodDv)), superCb, b,
        cs, ci, dims, 4, 2)).asInstanceOf[ArrayData].toLongArray().toSeq
    val viaCodegen = emb.limit(1)
      .select(graft.functions.IvfKernels.ivf_probes2b(
        transform(sequence(lit(0), lit(dims - 1)),
          i => i.cast("double") * lit(0.01)), superCb, b, cs, ci,
        dims, 4, 2))
      .collect().head.getAs[scala.collection.Seq[Long]](0).toSeq
    assert(interp == viaCodegen, "probes2b interpreted != codegen")
    assert(interpreted(graft.functions.IvfKernels.ivf_probes2b(column(litArr(goodDv.take(dims - 1))),
      superCb, b, cs, ci, dims, 4, 2)) == null,
      "ragged input must null")
    assert(interpreted(graft.functions.IvfKernels.ivf_probes2b(
      column(litArr(goodDv.updated(3, null: java.lang.Double))),
      superCb, b, cs, ci, dims, 4, 2)) == null,
      "null-holed input must null")
  }

  test("salted aggregation equals plain aggregation on skewed data") {
    val s2 = spark; import s2.implicits._
    // 90% of rows share one hot key
    val df = ((1 to 9000).map(i => ("hot", i.toLong)) ++
      (1 to 1000).map(i => (s"k${i % 37}", i.toLong))).toDF("k", "v")
    val salted = SaltedAgg.saltedSum(df, Seq("k"), "v", "total", nSalts = 8)
      .collect().map(r => r.getAs[String]("k") -> r.getAs[Long]("total")).toMap
    val plain = df.groupBy("k").agg(sum("v").as("total"))
      .collect().map(r => r.getAs[String]("k") -> r.getAs[Long]("total")).toMap
    assert(salted == plain)
    val counts = SaltedAgg.saltedCount(df, Seq("k"), "n", nSalts = 8)
      .collect().map(r => r.getAs[String]("k") -> r.getAs[Long]("n")).toMap
    assert(counts("hot") == 9000L)
  }

  test("shard tier (e8c): shardCountAt ladder pins; a forced-small cap " +
      "makes sharding bind and the sharded output equals the K=1 " +
      "count-scaled tier run on each modulo slice at that slice's cap") {
    import graft.catalog.Approx
    import graft.catalog.Approx.ScaledC
    // ladder: smallest power of two K with ceil(n/K) <= cmax*32,
    // clamped at IvfShardMax — mirrors the oracle's kparam VALUES
    assert(Approx.IvfShardMax == 4096)
    assert(Approx.shardCountAt(500L, 4096) == 1)       // default: unbound
    assert(Approx.shardCountAt(131072L, 4096) == 1)    // 4096*32 exactly
    assert(Approx.shardCountAt(131073L, 4096) == 2)    // first binding point
    assert(Approx.shardCountAt(250000L, 4096) == 2)    // sf5 at the default cap
    assert(Approx.shardCountAt(262145L, 4096) == 4)
    assert(Approx.shardCountAt(500L, 8) == 2)          // forced cap: 8*32=256
    assert(Approx.shardCountAt(256L, 8) == 1)
    assert(Approx.shardCountAt(257L, 8) == 2)
    assert(Approx.shardCountAt(Long.MaxValue / 4, 8) == 4096) // shmax clamp
    // semantic parity: at cmax=8 the sf0.001 corpus (n=50) stays K=1,
    // so force binding with cmax=8 over sf0.01 (n=500 -> K=2, per-shard
    // 250 -> C=8 exactly at the cap, unclamped)
    val emb = graft.catalog.Tables.t(spark, "/root/testdata/sf0.01",
      "embeddings")
    val n = emb.count()
    val k = Approx.shardCountAt(n, 8)
    assert(k == 2, s"n=$n at cmax=8 must shard (got K=$k)")
    val got = Approx.ivfDedupShardedAt(emb, P = 4, tau = 0.4,
        ScaledC(8, sharded = true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    // reference: the one-shard count-scaled tier on each modulo slice
    // at the same cap — "each shard runs its own C <= CMAX index" is
    // literally this
    val expect = (0L until k.toLong).flatMap { s =>
      Approx.ivfDedupShardedAt(emb.filter(col("vec_id") % k === s), P = 4,
          tau = 0.4, ScaledC(8, sharded = false))
        .collect().map(r => (r.getLong(0), s, r.getLong(2), r.getLong(3),
          k.toLong, r.getLong(5)))
    }.sortBy(_._1)
    assert(got.toSeq == expect,
      s"sharded output must equal the per-shard K=1 tier (got " +
        s"${got.length} rows vs ${expect.length})")
    // shards must actually differ in membership (binding, not vacuous)
    assert(got.map(_._2).distinct.sorted.toSeq == Seq(0L, 1L))
  }

  test("shard tier (e16c): a forced-small cap makes sharding bind and " +
      "the sharded decontam equals the K=1 count-scaled tier run per " +
      "shard with the FULL eval suite replicated in") {
    import graft.catalog.Approx
    import graft.catalog.Approx.ScaledC
    val emb = graft.catalog.Tables.t(spark, "/root/testdata/sf0.01",
      "embeddings")
    val n = emb.count()
    val k = Approx.shardCountAt(n, 8)
    assert(k == 2, s"n=$n at cmax=8 must shard (got K=$k)")
    val got = Approx.ivfDecontamShardedAt(emb, P = 4, tau = 0.4,
        ScaledC(8, sharded = true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7)))
    assert(got.nonEmpty)
    // reference per shard: that shard's members PLUS the full eval
    // suite through the one-shard count-scaled tier at the same cap —
    // "the eval suite probes every shard" is literally this. The slice
    // keeps the shard's own eval members once (set union), and the
    // decontam emits only train rows, all of which are the shard's. At
    // cap 8 the slice's C is 8 whether counted with or without the
    // other shard's eval vectors, as the shard's own C is.
    val expect = (0L until k.toLong).flatMap { s =>
      val slice = emb.filter(col("vec_id") % k === s ||
        col("vec_id") % 50 === 0)
      Approx.ivfDecontamShardedAt(slice, P = 4, tau = 0.4,
          ScaledC(8, sharded = false))
        .collect().map(r => (r.getLong(0), s, r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), k.toLong, r.getLong(7)))
    }.sortBy(_._1)
    assert(got.toSeq == expect,
      s"sharded decontam must equal the per-shard K=1 tier with the " +
        s"replicated eval suite (got ${got.length} rows vs " +
        s"${expect.length})")
    // shards must actually differ in membership (binding, not vacuous)
    assert(got.map(_._2).distinct.sorted.toSeq == Seq(0L, 1L))
    // and contamination must actually cross the shard boundary
    // somewhere, or the replication claim is untested: some train
    // vector must be flagged by an eval vector of the OTHER shard
    val crossed = got.exists { case (vid, shard, _, nNear, witness, _, _, _) =>
      nNear > 0 && witness >= 0 && witness % k != shard
    }
    assert(crossed,
      "no contamination crossed a shard boundary - the corpus does not " +
        "exercise eval replication; pick a different forced cap")
  }

  test("shard tier (e18c): at a forced-small cap the composed pipeline " +
      "equals the staged composition of per-shard dedup drops + e16c " +
      "decontam drops + the doc gate + the temperature mix") {
    import graft.catalog.{Approx, Tables, TextDocs}
    import graft.catalog.Approx.ScaledC
    val dir = "/root/testdata/sf0.01"
    val emb = Tables.t(spark, dir, "embeddings")
    val docs = Tables.t(spark, dir, "documents")
    def mixRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).sortBy(_._1).toSeq
    // binding regime at cmax=8 (K=2): staged reference — dedup drops
    // from the one-shard tier over each shard's TRAIN members at the
    // same cap (C=8 with or without the shard's eval members), decontam
    // drops from e16c itself, then the gate + mix on the survivor set
    val n = emb.count()
    val k = Approx.shardCountAt(n, 8)
    assert(k == 2)
    val ddrops = (0L until k.toLong).flatMap { s =>
      Approx.ivfDedupShardedAt(emb.filter(col("vec_id") % k === s &&
          col("vec_id") % 50 =!= 0), P = 4, tau = 0.4,
          ScaledC(8, sharded = false))
        .filter(col("rep_id") < col("vec_id"))
        .collect().map(_.getLong(0))
    }.toSet
    val cdrops = Approx.ivfDecontamShardedAt(emb, P = 4, tau = 0.4,
        ScaledC(8, sharded = true))
      .filter(col("keep") === 0)
      .collect().map(_.getLong(0)).toSet
    assert(ddrops.nonEmpty && cdrops.nonEmpty,
      "both drop surfaces must fire or the composition is vacuous")
    val droppedIds = (ddrops ++ cdrops).toSeq
    val clean = emb.select("vec_id")
      .filter(col("vec_id") % 50 =!= 0)
      .filter(!col("vec_id").isin(droppedIds: _*))
    val gated = docs.join(clean, col("doc_id") === col("vec_id"))
      .filter(col("lang").isin("en", "de", "fr", "es") &&
        size(split(trim(col("text")), " +")).cast("long") >= 20)
    val expect = mixRows(TextDocs.temperatureMix(
      gated.groupBy("source").agg(sum(col("n_chars")).as("tokens")),
      100000L))
    val got = mixRows(Approx.e2eShardedAt(emb, docs,
      ScaledC(8, sharded = true)))
    assert(got == expect,
      "bound sharded pipeline must equal the staged composition")
    // and the bound result must differ from the unsharded e18
    // somewhere, or the forced cap never actually changed a drop
    // decision
    val unbound = mixRows(
      graft.SparkEntry.queries("e18_e2e_vector_pipeline")(spark, dir))
    assert(got != unbound,
      "forcing the cap changed no allocation - the gate is vacuous")
  }
}
