package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.KernelCall
import graft.functions.VectorExpressions.{dotl, dotp, norm2, Zvalue}

/** Optimizer rule: a self-dot-product is a squared norm — rewrite
  * `graft_dot(x, x)` to the cheaper single-pass `graft_norm2(x)`.
  * A small but genuine Catalyst `Rule[LogicalPlan]` demonstrating the
  * engine's optimizer extension point (SURVEY §4.2). */
object SelfDotToNorm extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case KernelCall(k, Seq(a, b)) if k == dotp && a.semanticEquals(b) => KernelCall(norm2, Seq(a))
  }
}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so `spark.sql("... graft_dot(a, b) ...")`
  * works next to the Column API. Enable with
  * `spark.sql.extensions=graft.GraftExtensions` (or call
  * [[GraftExtensions.register]] on a live session). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, clazz, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz, name), builder))
    }
    ext.injectOptimizerRule(_ => SelfDotToNorm)
    ext.injectPlannerStrategy(s => graft.plans.RangeJoinStrategy(s))
  }
}

object GraftExtensions {

  private def arity(name: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n arguments, got ${args.length}")

  /** ONE builder table shared by the extension path and the imperative
    * path — the two registration routes cannot drift on the function
    * set (they did once: register() silently lacked the planner
    * strategy). Arity and argument rules (e.g. graft_zvalue's literal
    * bits) are checked, so a misuse is a clean analysis-time error, not
    * an IndexOutOfBounds/NPE. */
  private val builders: Seq[(String, String, Seq[Expression] => Expression)] =
    Seq(dotp, norm2, dotl, Zvalue).map(k => (k.name, classOf[KernelCall].getName,
      (args: Seq[Expression]) => KernelCall(k, args))) ++ Seq(
    ("graft_bloom_agg", classOf[BloomFilterAggregate].getName, args => {
      arity("graft_bloom_agg", args, 1); new BloomFilterAggregate(args.head)
    }),
    ("graft_bloom_contains", classOf[BloomFilterMightContain].getName, args => {
      arity("graft_bloom_contains", args, 2)
      new BloomFilterMightContain(args(0), args(1))
    }))

  /** Imperative registration for sessions built without the extension
    * config (e.g. the shared test session). Registers the SAME
    * surface as the extension path: functions, the optimizer rule, AND
    * the range-join planner strategy. A no-op on a session that already
    * has every function (a registered or an extension session), so a
    * query builder may call it on every build. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!builders.forall(b => registry.functionExists(FunctionIdentifier(b._1)))) {
      builders.foreach { case (name, _, builder) =>
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
      }
      if (!spark.experimental.extraOptimizations.contains(SelfDotToNorm))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ SelfDotToNorm
      val strat = graft.plans.RangeJoinStrategy(spark)
      if (!spark.experimental.extraStrategies.contains(strat))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ strat
    }
  }
}
