package graft.inference

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a store keeps its closed (query) view — the one maintenance rule
  * behind every store write: a repository load or update
  * ([[graft.sources.Repositories]]) and a streaming merge
  * ([[graft.streaming.StreamIngest.merge]]).
  *
  *   - `close(asserted)`: the full closure of an asserted set. A store's
  *     first write and every removal take it — a removed statement's
  *     entailments may lose their last support.
  *   - `extend(closed, added)`: the closure of `closed ∪ added` where
  *     `closed` is already closed; `added` is a distinct quad set that may
  *     overlap `closed`. Additive changes take it: for any monotone ruleset
  *     closure(closure(A) ∪ D) = closure(A ∪ D), so the store is never
  *     re-closed from scratch.
  *
  * Either function may return a [[graft.exec.Generations]] cut, which the
  * caller then owns.
  */
final case class Closure(close: DataFrame => DataFrame,
    extend: (DataFrame, DataFrame) => DataFrame) {
  /** True for [[Closure.none]]: the closed view IS the asserted set, so a
    * caller keeps one frame, not two.
    */
  def isIdentity: Boolean = this eq Closure.none
}

object Closure {
  private val keys = Seq("graph", "s", "p", "o")

  /** No inference: identity, and an additive change is a set insert. */
  val none: Closure = Closure(df => df, insert)

  /** Set insert of a distinct `added` into `closed`: only `added` is
    * anti-joined, `closed` is never re-distincted.
    */
  def insert(closed: DataFrame, added: DataFrame): DataFrame =
    closed.unionByName(added.join(closed, keys, "left_anti"))

  /** The built-in RDFS-Plus closure ([[Inference]]). An extension whose
    * set union fits under the local threshold closes on the driver, as a
    * full close of that store would; a larger one re-runs the fixpoint
    * over the set union.
    */
  def rdfsPlus(spark: SparkSession): Closure =
    Closure(Inference.materialize(spark, _), (closed, added) =>
      Inference.closeOnDriver(spark, Seq(closed, added)).getOrElse(
        Inference.materialize(spark, insert(closed, added))))

  /** A custom ruleset: its axioms join the full closure; an extension is
    * semi-naive with the added quads as the delta.
    */
  def ruleset(spark: SparkSession, rs: CustomRules.Ruleset): Closure =
    Closure(CustomRules.materializeRuleset(spark, _, rs),
      CustomRules.materializeIncremental(spark, _, _, rs.rules))

  /** A stream's own batch-local extender: `inferDelta` closes the added
    * quads alone (cost ∝ the batch) against a vocabulary it fixes itself,
    * so it can never join them to stored facts. `close` re-closes on a
    * retraction; the identity default takes the initial store as closed.
    */
  def batchLocal(inferDelta: DataFrame => DataFrame,
      close: DataFrame => DataFrame = df => df): Closure =
    Closure(close, (closed, added) => insert(closed, inferDelta(added)))

  /** A repository's closure, from its configuration: a custom ruleset with
    * rules or axioms, else the built-in RDFS-Plus when `inference` is on,
    * else none.
    */
  def of(spark: SparkSession, inference: Boolean,
      rs: CustomRules.Ruleset): Closure =
    if (rs.rules.nonEmpty || rs.axioms.nonEmpty) ruleset(spark, rs)
    else if (inference) rdfsPlus(spark)
    else none
}
