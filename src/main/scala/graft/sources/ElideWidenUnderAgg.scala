package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** r19 optimization (guide §2.1/§2.4/§2.5): drop the catalog's
  * scan-widening `RepartitionByExpression` when the ONLY work between it
  * and an Aggregate is cheap row-local projection/filtering over a bare
  * scan.
  *
  * [[GraphCatalog.testdata]] registers big tables hash-repartitioned on
  * their key so the compiled-SPARQL quad lift (IRI string construction
  * fused into an unsplittable single-row-group scan) runs at session
  * parallelism — a measured −3.6 s across the r18 SPARQL subset. But a
  * PURE aggregate over such a table never needed the exchange: partial
  * aggregation collapses the rows before any shuffle, so the widen only
  * adds a full-row exchange ahead of a near-free 1-task partial agg
  * (r18: a1_count_all +119%, a2_group_count +119%, a3_stats +66%,
  * ≈ +0.9 s combined — the documented "widen tax").
  *
  * This rule removes exactly that tax: under an [[Aggregate]] whose own
  * expressions are cheap, descend through cheap [[Project]]/[[Filter]]
  * nodes; on finding a [[RepartitionByExpression]] whose OWN subtree is
  * also only cheap Project/Filter over a leaf relation, splice it out.
  * Eliding a repartition never changes query results — it is partitioning
  * only, and an aggregate is partitioning-insensitive.
  *
  * Deliberately narrow, so every other widen stays:
  *  - "cheap" admits only attribute/literal/struct/cast/arithmetic/
  *    comparison shapes — the IRI lift's `concat` (the per-row kernel the
  *    widen exists for) is NOT cheap, so lift-heavy aggregates keep their
  *    parallelism;
  *  - any node between the aggregate and the repartition other than
  *    Project/Filter (a join, a union, a generate, a window) blocks the
  *    match — join-heavy consumers (q5, gx_pathsearch_pattern, …) keep
  *    the widen;
  *  - the repartition's child must itself be cheap-Project/Filter over a
  *    leaf — a deliberate pipeline repartition over computed frames (e.g.
  *    the edge-index `repartition(src).dropDuplicates()`, whose output
  *    partitioning downstream point-lookups rely on) never matches;
  *  - the repartition must carry the widen's signature: exactly the
  *    session's default parallelism, hashed on one attribute of that leaf.
  *    A user's explicit `repartition(n, e)` with any other count or
  *    expression is kept;
  *  - an aggregate with a `FILTER (WHERE …)` clause is cheap only when
  *    that filter is: it runs per input row, like the function's inputs;
  *  - the call-site widens of [[graft.SparkEntry]] `tblW` hash on the
  *    table's key (r19), so they are `RepartitionByExpression` nodes and
  *    elide under the same conditions; only a keyless round-robin widen
  *    (a `Repartition` node) is never touched.
  *
  * Scale posture: the catalog widen is already the identity for any input
  * with ≥ parallelism planned partitions (every real multi-row-group
  * layout), so at scale there is no node to elide and this rule is a
  * no-op; it exists to stop small unsplittable inputs from paying an
  * exchange on their cheapest queries.
  */
object ElideWidenUnderAgg extends Rule[LogicalPlan] {

  private def cheap(e: Expression): Boolean = e match {
    case _: AttributeReference | _: Literal => true
    case a: Alias => cheap(a.child)
    case c: Cast => cheap(c.child)
    case s: CreateNamedStruct => s.children.forall(cheap)
    case g: GetStructField => cheap(g.child)
    case b: BinaryArithmetic => b.children.forall(cheap)
    case b: BinaryComparison => b.children.forall(cheap)
    case i: In => i.children.forall(cheap)
    case i: InSet => cheap(i.child)
    case a: And => a.children.forall(cheap)
    case o: Or => o.children.forall(cheap)
    case n: Not => cheap(n.child)
    case n: IsNull => cheap(n.child)
    case n: IsNotNull => cheap(n.child)
    case c: Coalesce => c.children.forall(cheap)
    case i: If => i.children.forall(cheap)
    case c: CaseWhen => c.children.forall(cheap)
    case u: UnaryMinus => cheap(u.child)
    case a: Abs => cheap(a.child)
    // planner-inserted float-normalization wrappers around group keys
    case k: KnownFloatingPointNormalized => cheap(k.child)
    case n: NormalizeNaNAndZero => cheap(n.child)
    case k: KnownNotNull => cheap(k.child)
    case _ => false
  }

  /** Aggregate whose per-row (partial-stage) work is cheap: grouping keys,
    * aggregate-function inputs and aggregate filters, with the functions
    * themselves from the plain partial-aggregable, order-insensitive set
    * (First/Last excluded — eliding a repartition changes row order). Expressions OUTSIDE the
    * aggregate functions in `aggregateExpressions` are evaluated once per
    * output group in the final stage, not per input row, so they don't
    * gate the decision.
    */
  private def cheapAgg(agg: Aggregate): Boolean = {
    val fnsOk = agg.aggregateExpressions.forall(_.collect {
      case ae: AggregateExpression => ae
    }.forall { ae =>
      val f = ae.aggregateFunction
      val known = f match {
        case _: Count | _: Sum | _: Average | _: Min | _: Max => true
        case _ => false
      }
      known && f.children.forall(cheap) && ae.filter.forall(cheap)
    })
    fnsOk && agg.groupingExpressions.forall(cheap)
  }

  /** Only cheap Project/Filter down to a leaf relation. */
  private def cheapScanChain(p: LogicalPlan): Boolean = p match {
    case Project(exprs, child) => exprs.forall(cheap) && cheapScanChain(child)
    case Filter(cond, child)   => cheap(cond) && cheapScanChain(child)
    case _: LeafNode           => true
    case _                     => false
  }

  /** The widen's own signature, so that a user's explicit repartition is
    * never touched: hashed into exactly the session's default parallelism,
    * on one attribute of the relation at the bottom of a cheap scan chain.
    */
  private def isWiden(r: RepartitionByExpression): Boolean =
    cheapScanChain(r.child) &&
      r.optNumPartitions.contains(SparkSession.active.sparkContext.defaultParallelism) &&
      (r.partitionExpressions match {
        case Seq(a: AttributeReference) => r.child.collectLeaves().head.outputSet.contains(a)
        case _ => false
      })

  /** Descend through cheap Project/Filter; splice out the first widen. */
  private def strip(p: LogicalPlan): Option[LogicalPlan] = p match {
    case pr @ Project(exprs, child) if exprs.forall(cheap) =>
      strip(child).map(c => pr.copy(child = c))
    case f @ Filter(cond, child) if cheap(cond) =>
      strip(child).map(c => f.copy(child = c))
    case r: RepartitionByExpression if isWiden(r) => Some(r.child)
    case _ => None
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate if cheapAgg(agg) =>
      strip(agg.child).map(c => agg.copy(child = c)).getOrElse(agg)
  }
}
