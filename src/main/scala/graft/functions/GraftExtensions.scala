package graft.functions

import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL names for the engine's native expressions —
  *
  *   spark.sql("SELECT rolling_hash(text), min_hash_sig(tokens, 32) …")
  *
  * works once [[GraftExtensions.register]] has run on the session. Each
  * name builds its Column builder's [[KernelCall]].
  */
object GraftExtensions {

  /** runtime registration for an existing session (tests, notebooks) */
  def register(spark: SparkSession): Unit = {
    def function(name: String)(build: Seq[Expression] => Column): Unit =
      spark.sessionState.functionRegistry.registerFunction(FunctionIdentifier(name),
        new ExpressionInfo(classOf[KernelCall].getName, name),
        (exprs: Seq[Expression]) => GraftBridge.expression(build(exprs)))
    def col(e: Expression): Column = GraftBridge.column(e)

    function("rolling_hash")(es => RollingHash.rolling_hash(col(es.head)))
    function("min_hash_sig") { exprs =>
      if (exprs.length != 2)
        throw new IllegalArgumentException(
          s"min_hash_sig(tokens, k) takes 2 arguments, got ${exprs.length}")
      val k = exprs(1) match {
        case Literal(v: Int, _) => v
        case Literal(v: Long, _) => v.toInt
        case other => throw new IllegalArgumentException(
          s"min_hash_sig k must be an integer literal, got: ${other.sql}")
      }
      MinHashSig.min_hash_sig(col(exprs.head), k)
    }
    function("sim_hash_sig")(es => SimHashSig.sim_hash_sig(col(es.head)))
    function("cosine_sim")(es => CosineSim.cosine_sim(col(es(0)), col(es(1))))
  }
}
