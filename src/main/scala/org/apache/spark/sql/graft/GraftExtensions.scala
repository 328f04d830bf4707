package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** The one list of graft's engine extensions, and its two ways in:
  *
  * {{{
  *   spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions
  * }}}
  *
  * injects them at session build, the conventional way a deployed cluster
  * loads an extension library; [[GraftExtensions.install]] adds the same
  * list to a session built without the config (tests, notebooks, the
  * driver's own session). `SparkEntry.queries` installs before every
  * query, so callers that hand it a bare session get the same plans.
  *
  * Child sessions (`graft.GraftSession.child`) start from a fresh session
  * state, so a child of an installed session has none of these until it
  * is installed itself.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.foreach(ext.injectFunction)
    rules.foreach(r => ext.injectOptimizerRule(_ => r))
    strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {

  type FunctionSpec = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression): FunctionSpec =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** SQL functions: the codegen'd dot product, plus Spark's own runtime
    * bloom-filter pair, which Spark keeps out of the public registry;
    * exposing it lets declared queries build the same broadcast-bloom
    * prefilter plan the optimizer injects. */
  val functions: Seq[FunctionSpec] = Seq(
    fn("graft_dot", classOf[DotProduct])(e => DotProduct(e.head, e(1))),
    fn("graft_bloom_agg", classOf[BloomFilterAggregate])(e =>
      new BloomFilterAggregate(e.head, e(1), e(2)).toAggregateExpression()),
    fn("graft_might_contain", classOf[BloomFilterMightContain])(e =>
      BloomFilterMightContain(e.head, e(1))))

  /** Optimizer rules. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(BandedLevenshteinRule, FirstRowPerKeyRule)

  /** Planner strategies ([[FirstRowPerKeyRule]]'s target node needs this). */
  val strategies: Seq[SparkStrategy] = Seq(TopKPerKeyStrategy)

  /** Add every extension `spark` lacks. Idempotent: a function is
    * registered only if it does not exist yet, so a repeat call never
    * logs the registry's "replaced a previously registered function"
    * WARN, and a rule or strategy is appended only if absent. Serialised,
    * so concurrent first queries on one session cannot both append. */
  def install(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
    val exp = spark.experimental
    val newRules = rules.filterNot(exp.extraOptimizations.contains)
    if (newRules.nonEmpty) exp.extraOptimizations = exp.extraOptimizations ++ newRules
    val newStrategies = strategies.filterNot(exp.extraStrategies.contains)
    if (newStrategies.nonEmpty) exp.extraStrategies = exp.extraStrategies ++ newStrategies
  }
}
