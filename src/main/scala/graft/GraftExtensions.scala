package graft

import graft.functions.{RollingHash, ZOrder2}
import graft.gdl.expr.JsonDuplicateKeys
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point registering the engine's custom
  * Catalyst expressions as SQL functions, so a plain
  * `spark.sql("SELECT rolling_hash(text, 31, 1000000007) ...")` works in
  * any session built with
  * `.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinKeyPushdown)
  }
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Literal int/long of either width — SQL literals type per value
    * (31 is INT, 3000000007 is BIGINT), so a fixed-width match would
    * reject valid mixed-width calls. */
  private object IntegralLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Long, _) => Some(v)
      case Literal(v: Int, _) => Some(v.toLong)
      case _ => None
    }
  }

  val functions: Seq[FunctionDescription] = Seq(
    (new FunctionIdentifier("json_duplicate_keys"),
      new ExpressionInfo(classOf[JsonDuplicateKeys].getName, "json_duplicate_keys"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(j) => JsonDuplicateKeys(j)
        case other => throw new IllegalArgumentException(
          s"json_duplicate_keys(json_str) takes 1 argument — got ${other.size}")
      }),
    (new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => RollingHash(c, 31L, 1000000007L)
        case Seq(c, IntegralLit(base), IntegralLit(mod)) =>
          RollingHash(c, base, mod)
        case other => throw new IllegalArgumentException(
          "rolling_hash(str[, base, mod]) needs literal integer base/mod — " +
          s"got ${other.size} args (${other.drop(1).map(_.dataType.catalogString).mkString(", ")})")
      }),
    (new FunctionIdentifier("z_order"),
      new ExpressionInfo(classOf[ZOrder2].getName, "z_order"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(x, y) => ZOrder2(x, y, 16)
        // isValidInt guard: an out-of-int-range BIGINT literal must
        // error, not truncate to a nonsense bit width
        case Seq(x, y, IntegralLit(bits)) if bits.isValidInt =>
          ZOrder2(x, y, bits.toInt)
        case other => throw new IllegalArgumentException(
          s"z_order(x, y[, bits]) needs a literal int-range bit width — got ${other.size} args")
      }),
    (new FunctionIdentifier("min_k_longs"),
      new ExpressionInfo(classOf[graft.functions.MinKLongs].getName, "min_k_longs"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c, IntegralLit(k)) if k.isValidInt =>
          graft.functions.MinKLongs(c, k.toInt).toAggregateExpression()
        case other => throw new IllegalArgumentException(
          s"min_k_longs(packed_long, k) needs a literal int-range k — got ${other.size} args")
      }))

  /** Register into an already-built session (tests, REPLs). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    registerPlanner(spark)
  }

  /** Add the as-of join planner strategy and its key-pushdown optimizer
    * rule to an already-built session; idempotent. */
  def registerPlanner(spark: org.apache.spark.sql.SparkSession): Unit = {
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    if (!spark.experimental.extraOptimizations.contains(graft.plans.AsOfJoinKeyPushdown))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.AsOfJoinKeyPushdown
  }
}
