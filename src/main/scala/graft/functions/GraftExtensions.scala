package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL names for the engine's native expressions —
  *
  *   spark.sql("SELECT rolling_hash(text), min_hash_sig(tokens, 32) …")
  *
  * works once [[GraftExtensions.register]] has run on the session.
  */
object GraftExtensions {

  val rollingHashDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("rolling_hash"),
    new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
    (exprs: Seq[Expression]) => RollingHash(exprs.head))

  val minHashSigDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("min_hash_sig"),
    new ExpressionInfo(classOf[MinHashSig].getName, "min_hash_sig"),
    (exprs: Seq[Expression]) => {
      if (exprs.length != 2)
        throw new IllegalArgumentException(
          s"min_hash_sig(tokens, k) takes 2 arguments, got ${exprs.length}")
      val k = exprs(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
        case other => throw new IllegalArgumentException(
          s"min_hash_sig k must be an integer literal, got: ${other.sql}")
      }
      MinHashSig(exprs.head, k)
    })

  val simHashSigDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("sim_hash_sig"),
    new ExpressionInfo(classOf[SimHashSig].getName, "sim_hash_sig"),
    (exprs: Seq[Expression]) => SimHashSig(exprs.head))

  val cosineSimDesc: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
    (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1)))

  /** runtime registration for an existing session (tests, notebooks) */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    Seq(rollingHashDesc, minHashSigDesc, simHashSigDesc, cosineSimDesc).foreach {
      case (id, info, builder) => reg.registerFunction(id, info, builder)
    }
  }
}
