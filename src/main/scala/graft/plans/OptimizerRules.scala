package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.{BooleanSimplification, InferFiltersFromConstraints, PushDownPredicates, SimplifyConditionals}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The one place graft adds rules to a session's optimizer and planner.
  *
  * [[engine]] is what every [[graft.Engine]] needs, in this order, all in
  * Spark's last optimizer batch ("User Provided Optimizers", run to a fixed
  * point):
  *
  *  1. the two sargability rewrites, [[SargableTimestamps]] and
  *     [[SargableIris]], which turn a comparison of a lifted term against a
  *     constant into a comparison of the raw column;
  *  1. Catalyst's conditional simplifiers. The rewritten comparison sits
  *     inside the SPARQL error guard `CASE WHEN isnotnull(shadow) THEN cmp
  *     ELSE false`, which they collapse to a conjunction whose comparison
  *     conjunct the datasource strategy can then translate into a pushed
  *     filter;
  *  1. Catalyst's `InferFiltersFromConstraints` and `PushDownPredicates`,
  *     again. Spark runs them in its own "Infer Filters" batch, before this
  *     one, when a bound IRI is still a string comparison that constrains
  *     no key. Once the rewrites above have made it `k <=> 7`, inference
  *     carries the constant across every raw-key equi-join (`k = k'` yields
  *     `k' <=> 7`) and pushdown moves it below the other side's projections
  *     and scan widen into its parquet scan. For an outer join Spark infers
  *     only on the null-supplying side, so an OPTIONAL's required side is
  *     never filtered by its optional side.
  *
  * A second pass of these rules over their own output changes nothing, so
  * the batch converges. Every call also installs the planning strategy
  * [[ParameterizeScanFilters]].
  */
object OptimizerRules {
  val engine: Seq[Rule[LogicalPlan]] =
    Seq(SargableTimestamps, SargableIris, SimplifyConditionals, BooleanSimplification,
      InferFiltersFromConstraints, PushDownPredicates)

  /** Append to the session's `extraOptimizations` each rule it does not
    * already hold, and to its `extraStrategies` [[ParameterizeScanFilters]].
    * Idempotent, and atomic per session: the reads and the writes happen
    * under one lock, so engines and catalogs built concurrently on one
    * session register each rule exactly once.
    */
  def setup(spark: SparkSession, rules: Seq[Rule[LogicalPlan]] = engine): Unit = {
    val exp = spark.experimental
    exp.synchronized {
      val have = exp.extraOptimizations
      val missing = rules.filterNot(have.contains)
      if (missing.nonEmpty) exp.extraOptimizations = have ++ missing
      if (!exp.extraStrategies.contains(ParameterizeScanFilters))
        exp.extraStrategies = exp.extraStrategies :+ ParameterizeScanFilters
    }
  }
}
