package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.catalog.Approx
import graft.functions._

/** Every kernel builder of `graft.functions`, one table: each call runs
  * inside WholeStageCodegen under its own name, its interpreted and
  * generated evaluations agree bit for bit on the same rows (null-child
  * and null-result rows included), and its output's nullability is the
  * one the catalog's parquet schemas carry: always nullable for a helper
  * that returns null on out-of-contract input, otherwise nullable
  * exactly when an input is. */
class KernelSpec extends SparkSuite {

  private val dims = 64
  private val (pqM, pqK, pqSub) = (4, 4, 16)
  private val pqCb = {
    val r = new scala.util.Random(7)
    Array.fill(pqM * pqK * pqSub)(r.nextDouble())
  }
  private val c = 16
  private val ivfCb = Approx.ivfFlatCentroids(c, dims)
  private val (superCb, childStart, childIds) =
    Approx.ivfChildren(c, Approx.scaledSuperC(c), dims)

  /** (name, whether the helper may return null on non-null input, the
    * call over the input columns) */
  private val kernels: Seq[(String, Boolean, () => Column)] = {
    val (dv, tk, s, codes) = (col("dv"), col("tk"), col("s"), col("codes"))
    Seq(
      ("dot_product", true, () => DotProduct.dot_product(dv, col("dv2"))),
      ("cosine_sim", true, () => CosineSim.cosine_sim(dv, col("dv2"))),
      ("min_hash_sig", false, () => MinHashSig.min_hash_sig(tk, 8)),
      ("sim_hash_sig", false, () => SimHashSig.sim_hash_sig(tk)),
      ("md5_minhash_km", false, () => Md5Sketch.md5_minhash_km(tk, 8)),
      ("md5_simhash_words", false, () => Md5Sketch.md5_simhash_words(tk)),
      ("rolling_hash", false, () => RollingHash.rolling_hash(s)),
      ("ivf_sims", true, () => IvfKernels.ivf_sims(dv, ivfCb, dims)),
      ("ivf_probes", true, () => IvfKernels.ivf_probes(dv, ivfCb, dims, 4)),
      ("ivf_probes2", true, () => IvfKernels.ivf_probes2(dv, superCb, ivfCb,
        childStart, childIds, dims, 4, 2)),
      ("ivf_probes2b", true, () => IvfKernels.ivf_probes2b(dv, superCb,
        Approx.cbBcast(spark, c, dims), childStart, childIds, dims, 4, 2)),
      ("pq_encode", true, () => PqKernels.pq_encode(dv, pqCb, pqM, pqK, pqSub)),
      ("pq_adc", true, () => PqKernels.pq_adc(dv, codes, pqCb, pqM, pqK, pqSub)))
  }

  /** six rows of inputs; row 3's vector is ragged and its PQ codes hold
    * an out-of-range code, row 4's vector has a null element and row 2's
    * a NaN, row 1's token array is empty and row 2's holds a null; with
    * `nulls` row 5's inputs are null and the columns nullable. Built
    * once and checkpointed: the higher-order functions that build them
    * would otherwise collapse into the kernel's projection and take it
    * out of codegen. */
  private def inputs(nulls: Boolean): DataFrame = {
    val id = col("id")
    def orNull(e: Column) = if (nulls) when(id =!= 5, e) else e
    val vec = transform(
      sequence(lit(0L), when(id === 3, lit(dims - 2L)).otherwise(lit(dims - 1L))),
      i => when(id === 4 && i === 3, lit(null))
        .when(id === 2 && i === 7, lit(Double.NaN))
        .otherwise((i + id + 1) * 0.01))
    val vec2 = transform(sequence(lit(0L), lit(dims - 1L)), i => i * 0.5 - id)
    val tokens = transform(sequence(lit(0L), id * 3 - 1),
      i => when(id === 2 && i === 1, lit(null)).otherwise(concat(lit("w"), (i % 4).cast("string"))))
    spark.range(6).select(
      orNull(vec).as("dv"),
      orNull(vec2).as("dv2"),
      orNull(when(id === 1, array().cast("array<string>")).otherwise(tokens)).as("tk"),
      orNull(repeat(concat(lit("ab"), id.cast("string")), id.cast("int"))).as("s"),
      orNull(transform(sequence(lit(0L), lit(pqM - 1L)),
        m => when(id === 3 && m === 2, lit(0L)).otherwise((m + id) % pqK + 1))).as("codes"))
      .localCheckpoint()
  }
  private lazy val withNulls = inputs(nulls = true)
  private lazy val noNulls = inputs(nulls = false)

  /** doubles by their bits, so NaN and -0.0 compare exactly */
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case r: Row => r.toSeq.map(bits)
    case s: scala.collection.Seq[_] => s.map(bits)
    case o => o
  }

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for ((name, mayReturnNull, call) <- kernels) {
    test(s"kernel $name: in WholeStageCodegen, interpreted == codegen bit " +
        "for bit, nullability as declared") {
      def run(in: DataFrame): (DataFrame, Seq[Any]) = {
        val df = in.select(call().as("out"))
        (df, df.collect().toSeq.map(r => bits(r.get(0))))
      }
      val (df, codegen) = run(withNulls)
      val stages = df.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w.child.treeString
      }
      assert(stages.exists(_.contains(s"$name(")),
        s"$name must sit in a WholeStageCodegen stage:\n${df.queryExecution.executedPlan}")
      val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        run(withNulls)._2
      }
      assert(interpreted == codegen, s"$name: interpreted != codegen")
      assert(codegen(5) == null, s"$name: a null input must give null")
      if (mayReturnNull)
        assert(codegen.take(5).contains(null), s"$name: no null-result row exercised")
      assert(df.schema("out").nullable)
      assert(run(noNulls)._1.schema("out").nullable == mayReturnNull,
        s"$name: nullability over non-null inputs")
    }
  }
}
