package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, TimestampNTZType, TimestampType}

/** Custom Catalyst rule (r13): make dateTime-shadow comparisons SARGABLE.
  *
  * The quad lift stores a dateTime literal's numeric shadow as
  * `cast(unix_micros(cast(ts as timestamp)) as double)` and SPARQL FILTER
  * comparisons evaluate on that shadow — after Catalyst's struct-field
  * simplification a range filter looks like
  * `cast(unix_micros(cast(o_orderdate as timestamp)) as double) >= 7.57e14`,
  * which the Parquet source CANNOT push (no bare attribute), so at 100 TB a
  * date-range query would scan every row of a fact table. `unix_micros` and
  * the UTC NTZ→TZ cast are strictly monotone AND exactly invertible on
  * whole-micro literals, so the comparison rewrites losslessly onto the raw
  * column — `o_orderdate >= TIMESTAMP_NTZ(757382400000000)` — which reaches
  * the scan as a PushedFilter (footer min/max pruning, dictionary skip).
  *
  * Guards: the literal's micros must satisfy |m| < 2^53. That bound makes
  * the rewrite lossless for ALL column values, not just the literal: a
  * column value inside 2^53 has an exact double shadow (agreement is
  * trivial), and a column value at or beyond 2^53 rounds to a shadow that
  * is still at or beyond 2^53 — strictly past every in-guard literal — so
  * shadow and raw comparisons order it identically. (Without the bound, a
  * year-2255+ column value could round ONTO a 2^53-scale literal and flip
  * an equality or >= near the boundary.) The NTZ unwrap applies only under
  * a UTC session zone (where the NTZ→TZ cast is the identity on the micros
  * line; the engine pins UTC at every entry point). Registered on
  * `spark.experimental.extraOptimizations` by [[OptimizerRules.setup]].
  */
object SargableTimestamps extends Rule[LogicalPlan] {

  /** `cast(unix_micros(x) as double)` or bare `unix_micros(x)` → x. */
  private def unixShadow(e: Expression): Option[Expression] = e match {
    case Cast(UnixMicros(inner), DoubleType, _, _) => Some(inner)
    case UnixMicros(inner) => Some(inner)
    case _ => None
  }

  /** The raw (pushable) column under the shadow: a TimestampType column
    * as-is, or an NTZ column behind a session-zone cast when the session
    * zone is UTC (identity on micros).
    */
  private def rawColumn(e: Expression): Option[Expression] = e match {
    case Cast(a, TimestampType, _, _)
      if a.dataType == TimestampNTZType &&
        conf.sessionLocalTimeZone == "UTC" => Some(a)
    case a if a.dataType == TimestampType => Some(a)
    case _ => None
  }

  /** Micro-exact literal of the raw column's type, bounded to |m| < 2^53
    * (see the class doc: the bound is what guarantees agreement for column
    * values whose OWN double shadow rounds).
    */
  private val MicroBound = 1L << 53
  private def microLit(v: Any, raw: Expression): Option[Literal] = {
    val micros: Option[Long] = v match {
      case d: java.lang.Double =>
        val l = d.toLong
        if (l.toDouble == d.doubleValue()) Some(l) else None
      case l: java.lang.Long => Some(l)
      case _ => None
    }
    micros.filter(m => m > -MicroBound && m < MicroBound).map(m => Literal(m,
      if (raw.dataType == TimestampNTZType) TimestampNTZType else TimestampType))
  }

  private def rewrite(shadow: Expression, lit: Literal,
      mk: (Expression, Expression) => Expression): Option[Expression] =
    for {
      inner <- unixShadow(shadow)
      raw <- rawColumn(inner)
      l <- microLit(lit.value, raw)
    } yield mk(raw, l)

  private def rewriteComparisons(plan: LogicalPlan): LogicalPlan =
    plan transformAllExpressions {
      case c @ GreaterThanOrEqual(a, l: Literal) =>
        rewrite(a, l, GreaterThanOrEqual(_, _)).getOrElse(c)
      case c @ GreaterThan(a, l: Literal) =>
        rewrite(a, l, GreaterThan(_, _)).getOrElse(c)
      case c @ LessThanOrEqual(a, l: Literal) =>
        rewrite(a, l, LessThanOrEqual(_, _)).getOrElse(c)
      case c @ LessThan(a, l: Literal) =>
        rewrite(a, l, LessThan(_, _)).getOrElse(c)
      case c @ EqualTo(a, l: Literal) =>
        rewrite(a, l, EqualTo(_, _)).getOrElse(c)
      case c @ GreaterThanOrEqual(l: Literal, a) =>
        rewrite(a, l, LessThanOrEqual(_, _)).getOrElse(c)
      case c @ GreaterThan(l: Literal, a) =>
        rewrite(a, l, LessThan(_, _)).getOrElse(c)
      case c @ LessThanOrEqual(l: Literal, a) =>
        rewrite(a, l, GreaterThanOrEqual(_, _)).getOrElse(c)
      case c @ LessThan(l: Literal, a) =>
        rewrite(a, l, GreaterThan(_, _)).getOrElse(c)
      case c @ EqualTo(l: Literal, a) =>
        rewrite(a, l, EqualTo(_, _)).getOrElse(c)
    }

  /** `CASE WHEN c THEN p ELSE false` ≡ `c AND p` whenever `c` cannot be
    * NULL (our guards are IsNotNull — never null), in ANY position: the
    * two sides agree on every 3-valued outcome once c ∈ {true, false}.
    * This is the SPARQL error-guard shape wrapping every rewritten
    * comparison; the collapse frees the comparison conjunct for
    * datasource translation. (Spark ≤3.x shipped
    * SimplifyConditionalsInPredicate; 4.x folds it in the main batch,
    * which has already run before user rules.)
    */
  private val FalseLit = Literal(false, org.apache.spark.sql.types.BooleanType)
  private val TrueLit = Literal(true, org.apache.spark.sql.types.BooleanType)
  private def predSimplify(e: Expression): Expression = e transformUp {
    // shapes: CASE WHEN c THEN p ELSE false  |  CASE WHEN c THEN p WHEN
    // true THEN false [ELSE false] — every non-first outcome is false and
    // some catch-all exists, so the CASE is exactly c AND p.
    case CaseWhen((c, v) +: tail, elseOpt)
      if !c.nullable &&
        v.dataType == org.apache.spark.sql.types.BooleanType &&
        tail.forall(_._2 == FalseLit) &&
        (tail.exists(_._1 == TrueLit) || elseOpt.contains(FalseLit)) =>
      And(c, v)
  }

  def apply(plan: LogicalPlan): LogicalPlan =
    rewriteComparisons(plan) transform {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.copy(condition = predSimplify(f.condition))
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.isDefined =>
        j.copy(condition = j.condition.map(predSimplify))
    }
}
