package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.{BooleanSimplification, SimplifyConditionals}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The one place graft adds rules to a session's optimizer and planner.
  *
  * [[engine]] is what every [[graft.Engine]] needs: the two sargability
  * rewrites plus Catalyst's conditional simplifiers. The simplifiers join
  * the user batch because the rewritten comparison sits inside the SPARQL
  * error guard `CASE WHEN isnotnull(shadow) THEN cmp ELSE false`, which they
  * collapse to a conjunction whose comparison conjunct the datasource
  * strategy can then translate into a pushed filter. Every call also
  * installs the planning strategy [[ParameterizeScanFilters]].
  */
object OptimizerRules {
  val engine: Seq[Rule[LogicalPlan]] =
    Seq(SargableTimestamps, SargableIris, SimplifyConditionals, BooleanSimplification)

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
