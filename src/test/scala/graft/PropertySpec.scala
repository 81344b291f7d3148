package graft

import java.nio.file.Files
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.pipeline.BigBugData

/** Property-based invariants (SURVEY §5.3) over generated report batches.
  * Uses raw ScalaCheck generators with deterministic seeds (the
  * scalatest-scalacheck bridge isn't in the offline dependency cache). */
class PropertySpec extends SparkSuite {

  private def forSamples[T](gen: Gen[T], n: Int)(f: T => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(fail(s"generator failed for seed $i")))
    }

  private def writeReports(samples: Seq[(String, Seq[(Long, Long)])]): Seq[String] = {
    // each sample: (name, rows of (taxID >= 10, reads >= 1))
    val dir = Files.createTempDirectory("graft_prop")
    samples.map { case (name, rows) =>
      val body = rows.map { case (taxId, reads) =>
        s"0.1\t$reads\t$reads\t${reads * 10}\t1.0\t0.5\t$taxId\tspecies\tT$taxId"
      }
      val total = math.max(rows.map(_._2).sum * 3, 1)
      val p = dir.resolve(s"${name}_report.tsv")
      Files.writeString(p, (Seq(
        "# synthetic", "# prop",
        "%\treads\ttaxReads\tkmers\tdup\tcov\ttaxID\trank\ttaxName",
        s"50.0\t$total\t$total\t0\t0\t0\t0\tunclassified\tunclassified",
        s"50.0\t$total\t$total\t10\t0\t0\t1\troot\troot") ++ body)
        .mkString("", "\n", "\n"))
      p.toString
    }
  }

  private val batchGen: Gen[Seq[(String, Seq[(Long, Long)])]] = for {
    nSamples <- Gen.choose(1, 4)
    samples <- Gen.sequence[Seq[(String, Seq[(Long, Long)])], (String, Seq[(Long, Long)])](
      (0 until nSamples).map { i =>
        for {
          nRows <- Gen.choose(1, 6)
          rows <- Gen.listOfN(nRows, for {
            taxId <- Gen.choose(10L, 15L)
            reads <- Gen.choose(1L, 50L)
          } yield (taxId, reads))
        } yield (s"S${i}_x", rows)
      })
  } yield samples

  test("invariants: organism totals = row sums; rpm round-trips; top-K bounds") {
    forSamples(batchGen, 8) { batch =>
      val out = BigBugData.build(spark, BigBugData.Params(
        writeReports(batch), Files.createTempDirectory("graft_prop_out").toString,
        nTophits = 3))
      val grid = out.rrpm.collect()

      // 1. per-organism grand total equals the sum of its dense row
      grid.groupBy(_.getAs[Long]("taxID")).foreach { case (_, rows) =>
        assert(rows.map(_.getAs[Long]("reads")).sum ==
          rows.head.getAs[Long]("total_reads_organism"))
      }
      // 2. rpm * (total/1e6) round-trips to reads
      grid.foreach { r =>
        val back = r.getAs[Double]("rpm") * (r.getAs[Long]("total_reads") / 1e6)
        assert(math.abs(back - r.getAs[Long]("reads")) < 1e-6)
      }
      // 3. z-scores per organism: mean ≈ 0, or NaN when stddev = 0
      grid.groupBy(_.getAs[Long]("taxID")).foreach { case (_, rows) =>
        val zs = rows.map(_.getAs[Double]("z_score"))
        if (zs.exists(_.isNaN)) assert(zs.forall(_.isNaN))
        else assert(math.abs(zs.sum / zs.size) < 1e-9)
      }
      // 4. tophits: ≤ K rows per sample, ranks strictly increasing, ≤ K
      val tops = out.tophits.collect().groupBy(_.getAs[String]("sampleName"))
      tops.values.foreach { rows =>
        val ranks = rows.map(_.getAs[Int]("rank")).sorted
        assert(ranks.length <= 3 && ranks.forall(_ <= 3))
        assert(ranks.distinct.length == ranks.length)
      }
    }
  }

  test("tophits heaps equal the window form over generated grids: rrpm " +
      "ties across partitions, null/NaN/0.0/-0.0 rrpm, K = 0 and K > T, a " +
      "sample with no report rows, null stats in the top K, 1/3/8 partitions") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.ops.TopHits
    val statsType = StructType(Seq(StructField("kmers", LongType),
      StructField("dup", DoubleType), StructField("reads", LongType),
      StructField("cov", DoubleType), StructField("e_val", DoubleType)))
    val gridType = StructType(Seq(StructField("taxID", LongType),
      StructField("taxName", StringType), StructField("rrpm", ArrayType(DoubleType)),
      StructField("z_score", ArrayType(DoubleType)), StructField("stats", ArrayType(statsType))))
    // few distinct values, so rrpm ties span organisms and partitions
    val rrpmGen = Gen.oneOf[java.lang.Double](null, Double.NaN, 0.0, -0.0, 1.0, 2.5, 7.0)
    val zGen = Gen.oneOf[java.lang.Double](null, Double.NaN, -1.5, 0.0, 2.0)
    val statsGen: Gen[Row] = Gen.frequency(1 -> Gen.const(null: Row), 2 -> (for {
      kmers <- Gen.choose(0L, 99L)
      reads <- Gen.choose(1L, 9L)
      dup <- Gen.oneOf(0.5, 1.0)
    } yield Row(kmers, dup, reads, 0.25, kmers.toDouble / reads * 0.25)))
    // organism rows over `nSlots` report samples plus one last sample
    // with no report rows (every stats cell null)
    val gridGen = for {
      nSlots <- Gen.choose(1, 4)
      nTaxa <- Gen.choose(0, 12)
      taxIds <- Gen.pick(nTaxa, 10L to 60L)
      rows <- Gen.sequence[Seq[Row], Row](taxIds.map(t => for {
        rrpm <- Gen.listOfN(nSlots + 1, rrpmGen)
        z <- Gen.listOfN(nSlots + 1, zGen)
        stats <- Gen.listOfN(nSlots, statsGen)
      } yield Row(t, s"T$t", rrpm, z, stats :+ null)))
    } yield (nSlots + 1, rows)
    // the window form TopHits ran before the heaps, over exploded cells
    def window(grid: DataFrame, samples: Seq[String], k: Int): DataFrame = {
      val cells = grid.select(col("taxID"), col("taxName"),
          posexplode(arrays_zip(col("rrpm"), col("z_score"), col("stats"))).as(Seq("_slot", "_c")))
        .select(col("taxID"), col("taxName"), col("_c.*"),
          element_at(array(samples.map(lit): _*), col("_slot") + 1).as("sample"))
      val w = Window.partitionBy(col("sample")).orderBy(col("rrpm").desc, col("taxID").asc)
      cells.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .filter(col("stats").isNotNull)
        .select(col("sample").as("sampleName"), col("taxID"), col("taxName"),
          col("rank"), col("rrpm").as("rRPM"),
          col("stats.kmers"), col("stats.dup"), col("stats.reads"),
          col("stats.cov"), col("stats.e_val"), col("z_score"))
    }
    var gaps = 0
    forSamples(gridGen, 10) { case (nSlots, rows) =>
      val samples = (0 until nSlots).map(i => s"S$i")
      for (k <- Seq(0, 1, 3, rows.size + 2)) {
        val want = window(spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), gridType), samples, k)
        val wantSeq = want.collect().toSeq
          .sortBy(r => (samples.indexOf(r.getString(0)), r.getInt(3)))
        gaps += wantSeq.groupBy(_.getString(0)).values
          .count(rs => rs.map(_.getInt(3)) != (1 to rs.size))
        // rows compare by their rendering, which tells -0.0 from 0.0
        val wantRows = wantSeq.map(_.toString)
        for (parts <- Seq(1, 3, 8)) {
          val grid = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), gridType)
          val got = TopHits.tophits(grid, samples, samples.indices, k)
          assert(got.schema.map(f => f.name -> f.dataType) ==
            want.schema.map(f => f.name -> f.dataType))
          assert(got.collect().toSeq.map(_.toString) == wantRows,
            s"k=$k, $parts partitions, grid ${rows.mkString("; ")}")
        }
      }
    }
    assert(gaps > 0, "no generated grid put a null-stats cell inside the top K")
  }

  test("asof join with carried value: tied right rows yield the " +
      "lexicographically-greatest value, deterministically") {
    val rowsGen = Gen.zip(Gen.listOfN(8, Gen.choose(0L, 20L)),
      Gen.listOfN(16, Gen.zip(Gen.choose(0L, 20L), Gen.choose(0, 5))))
    forSamples(rowsGen, 10) { case (leftTs, rightRows) =>
      val s2 = spark; import s2.implicits._
      val left = leftTs.zipWithIndex
        .map { case (t, i) => (i.toLong, 1L, t) }.toDF("id", "k", "lt")
      val right = rightRows.map { case (t, v) => (1L, t, s"v$v") }
        .toDF("k", "rt", "v").repartition(4)
      val got = graft.operators.AsOfJoin
        .asofBackward(left, right, Seq("k"), "lt", "rt", Seq("v"))
        .collect()
        .map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("asof_v")))
        .toMap
      leftTs.zipWithIndex.foreach { case (t, i) =>
        val eligible = rightRows.filter(_._1 <= t)
        val expect =
          if (eligible.isEmpty) None
          else {
            val tMax = eligible.map(_._1).max
            // deterministic tie resolution: greatest carried value wins
            Some(eligible.filter(_._1 == tMax).map(r => s"v${r._2}").max)
          }
        assert(got(i.toLong) == expect, s"left ts $t: got ${got(i.toLong)}")
      }
    }
  }

  test("forward asof join: attached time is the min right time >= left time") {
    val tsGen = Gen.zip(Gen.listOfN(12, Gen.choose(0L, 1000L)),
      Gen.listOfN(12, Gen.choose(0L, 1000L)))
    forSamples(tsGen, 10) { case (leftTs, rightTs) =>
      val s2 = spark; import s2.implicits._
      val left = leftTs.zipWithIndex
        .map { case (t, i) => (i.toLong, 1L, new java.sql.Timestamp(t)) }
        .toDF("id", "k", "ts")
      val right = rightTs.map(t => (1L, new java.sql.Timestamp(t)))
        .toDF("k", "ts")
      val got = graft.operators.AsOfJoin
        .asofForward(left, right, Seq("k"), "ts", "ts", Seq("ts"))
        .collect()
        .map(r => r.getAs[Long]("id") ->
          Option(r.getAs[java.sql.Timestamp]("asof_ts")).map(_.getTime))
        .toMap
      leftTs.zipWithIndex.foreach { case (t, i) =>
        val expect = rightTs.filter(_ >= t) match {
          case Nil => None
          case xs => Some(xs.min)
        }
        assert(got(i.toLong) == expect, s"left ts $t")
      }
    }
  }

  test("asof join: attached time is the max right time <= left time") {
    val tsGen = Gen.zip(Gen.listOfN(12, Gen.choose(0L, 1000L)),
      Gen.listOfN(12, Gen.choose(0L, 1000L)))
    forSamples(tsGen, 10) { case (leftTs, rightTs) =>
      val s2 = spark; import s2.implicits._
      val left = leftTs.zipWithIndex
        .map { case (t, i) => (i.toLong, 1L, new java.sql.Timestamp(t)) }
        .toDF("id", "k", "ts")
      val right = rightTs.map(t => (1L, new java.sql.Timestamp(t)))
        .toDF("k", "ts")
      val got = graft.operators.AsOfJoin
        .asofBackward(left, right, Seq("k"), "ts", "ts", Seq("ts"))
        .collect()
        .map(r => r.getAs[Long]("id") ->
          Option(r.getAs[java.sql.Timestamp]("asof_ts")).map(_.getTime))
        .toMap
      leftTs.zipWithIndex.foreach { case (t, i) =>
        val expect = rightTs.filter(_ <= t) match {
          case Nil => None
          case xs => Some(xs.max)
        }
        assert(got(i.toLong) == expect, s"left ts $t")
      }
    }
  }

  test("nearest asof join: attached time minimizes |Δt|, exact ties " +
      "resolve backward, keys with no right rows get null dir") {
    // small time range so equidistant ties and empty keys actually occur
    val tsGen = Gen.zip(Gen.listOfN(10, Gen.choose(0L, 30L)),
      Gen.listOfN(6, Gen.choose(0L, 30L)))
    forSamples(tsGen, 10) { case (leftTs, rightTs) =>
      val s2 = spark; import s2.implicits._
      val left = leftTs.zipWithIndex
        .map { case (t, i) => (i.toLong, if (i % 2 == 0) 1L else 2L, t) }
        .toDF("id", "k", "lt")
      // key 2 has NO right rows: the null-dir path is always exercised
      val right = rightTs.map(t => (1L, t)).toDF("k", "rt").repartition(3)
      val got = graft.operators.AsOfJoin
        .asofNearest(left, right, Seq("k"), "lt", "rt", Nil)
        .collect()
        .map(r => r.getAs[Long]("id") ->
          ((Option(r.getAs[java.lang.Long]("asof_rt")).map(_.toLong),
            Option(r.getAs[String]("asof_dir")))))
        .toMap
      leftTs.zipWithIndex.foreach { case (t, i) =>
        if (i % 2 == 1) {
          assert(got(i.toLong) == ((None, None)), s"empty key at id $i")
        } else {
          val back = rightTs.filter(_ <= t) match {
            case Nil => None; case xs => Some(xs.max)
          }
          val fwd = rightTs.filter(_ >= t) match {
            case Nil => None; case xs => Some(xs.min)
          }
          val expect = (back, fwd) match {
            case (None, None) => (None, None)
            case (Some(b), None) => (Some(b), Some("b"))
            case (None, Some(f)) => (Some(f), Some("f"))
            case (Some(b), Some(f)) =>
              if (t - b <= f - t) (Some(b), Some("b"))
              else (Some(f), Some("f"))
          }
          assert(got(i.toLong) == expect,
            s"left ts $t: got ${got(i.toLong)} want $expect")
        }
      }
    }
  }

  test("Md5Sketch kernel properties over random corpora: reference " +
      "equality, minhash lane MERGEABILITY, order independence") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.Md5Sketch
    def arr(xs: Seq[String]) = ArrayData.toArrayData(
      xs.map(UTF8String.fromString).toArray[Any])
    def km(xs: Seq[String]): Seq[Long] =
      Md5Sketch.minhashKM(arr(xs), 16).toLongArray().toSeq
    def words(xs: Seq[String]): Seq[Long] =
      Md5Sketch.simhashWords(arr(xs)).toLongArray().toSeq
    // independent digest-level reference (distinct from the kernel's
    // packed-halves code path)
    def kmRef(xs: Seq[String]): Seq[Long] = (0 until 16).map { j =>
      if (xs.isEmpty) Long.MaxValue
      else xs.map { x =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(x.getBytes("UTF-8"))
        def be(f: Int) = (0 until 4).foldLeft(0L)((a, i) =>
          (a << 8) | (d(f + i) & 0xffL))
        (be(0) + j * be(4)) & 0xffffffffL
      }.min
    }
    val strGen = Gen.oneOf(
      Gen.alphaNumStr, Gen.identifier, Gen.const(""),
      Gen.const("ünïcødé ツ"), Gen.asciiPrintableStr)
    val pairGen = for {
      a <- Gen.listOf(strGen); b <- Gen.listOf(strGen)
    } yield (a, b)
    forSamples(pairGen, 60) { case (a, b) =>
      // reference equality on arbitrary strings (UTF-8, empties, ASCII)
      assert(km(a) == kmRef(a), s"kernel diverged from reference on $a")
      // MERGEABILITY — the property that makes minhash signatures
      // map-side combinable at 100 TB: sig(A ++ B) is the elementwise
      // min of sig(A) and sig(B) (empty sides are the MaxValue unit)
      val merged = km(a).zip(km(b)).map { case (x, y) => math.min(x, y) }
      assert(km(a ++ b) == merged,
        s"minhash lanes must merge by elementwise min: $a ++ $b")
      // order independence: both kernels are folds over multisets
      assert(km(a.reverse) == km(a))
      assert(words((a ++ b).reverse) == words(a ++ b))
    }
  }
}
