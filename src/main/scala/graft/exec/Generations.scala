package graft.exec

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Statistics}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.storage.StorageLevel

/** The one way the engine materializes an intermediate: the rounds of
  * every iterative loop (path search, graph analytics, property-path
  * closure, the inference fixpoints, streaming merge, SPARQL Update) and
  * the frames a query reads more than once (pipeline signatures and
  * candidate sets, bnode-stamped solutions). Pregelix-style: each
  * superstep is one materialized generation, and the join plan against it
  * is chosen from that generation's size.
  *
  * A cut keeps the frame's internal (Unsafe) rows MEMORY_AND_DISK and
  * wraps them in a LogicalRDD leaf, so the next round plans over rows
  * instead of every earlier round's plan. The leaf carries statistics:
  * [[Generations#cut]] sums the exact row count and byte size in the one
  * job that materializes the rows, [[Generations#cutLazy]] takes the
  * optimizer's estimate of the frame's plan. Spark and AQE therefore
  * choose broadcast or shuffle for a join against a generation as they do
  * for a file scan; no loop keeps its own row bound. A cut of a
  * nondeterministic plan (e.g. `monotonically_increasing_id` stamps) is
  * locally checkpointed, so it is never recomputed with new values.
  *
  * Release contract of [[Generations.scope]]: when the body returns, every
  * generation it made is released except those the returned frame reads —
  * they stay pinned until the caller drops the frame (Spark's
  * ContextCleaner then unpersists them); when the body throws, every
  * generation it made is released.
  */
final class Generations private {
  private val live = mutable.LinkedHashSet[RDD[_]]()
  private val caches = mutable.ArrayBuffer[DataFrame]()

  /** Materialize `df` as a generation of this scope, with its row count. */
  def cut(df: DataFrame): (DataFrame, Long) = {
    val rows = materialize(df)
    val (n, bytes) = rows.aggregate((0L, 0L))(
      (a, r) => (a._1 + 1, a._2 + r.getSizeInBytes),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    (Generations.leaf(df, rows, Statistics(bytes, Some(BigInt(n)))), n)
  }

  /** A cut without the count job: the rows materialize in the first job
    * that reads them, and the leaf is sized by the optimizer's estimate.
    */
  def cutLazy(df: DataFrame): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats
    Generations.leaf(df, materialize(df), Statistics(est.sizeInBytes, est.rowCount))
  }

  private def materialize(df: DataFrame): RDD[UnsafeRow] = {
    val schema = df.schema
    val rows = df.queryExecution.toRdd.mapPartitions { it =>
      lazy val toUnsafe = UnsafeProjection.create(schema)
      it.map {
        case u: UnsafeRow => u.copy()
        case r => toUnsafe(r).copy()
      }
    }.setName(Generations.Name)
    if (df.queryExecution.optimizedPlan.deterministic)
      rows.persist(StorageLevel.MEMORY_AND_DISK)
    else rows.localCheckpoint()
    synchronized(live += rows)
    rows
  }

  /** Columnar cache of a STATIC input the loop re-reads every round: keeps
    * whole-stage codegen and per-batch min/max stats. Released when the
    * scope ends.
    */
  def cache(df: DataFrame): DataFrame = {
    synchronized(caches += df.persist(StorageLevel.MEMORY_AND_DISK))
    df.count()
    df
  }

  /** Take ownership of the generations `df` reads — the result of a nested
    * loop, which that loop's own scope left pinned.
    */
  def adopt(df: DataFrame): DataFrame = {
    synchronized(live ++= Generations.read(df))
    df
  }

  /** Hand the generations `df` reads to the caller: the scope no longer
    * releases them, on a return or a later throw.
    */
  def keep(df: DataFrame): DataFrame = {
    synchronized(live --= Generations.read(df))
    df
  }

  /** `df` as a generation of this scope: adopted when its rows are already
    * materialized (a cut, or driver-local rows), cut otherwise.
    */
  def own(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case _: LogicalRDD | _: LocalRelation => adopt(df)
    case _ => cut(df)._1
  }

  /** Release the generations of this scope that `df` reads: call it on a
    * superseded generation once its successor is materialized.
    */
  def release(df: DataFrame): Unit = synchronized {
    Generations.read(df).filter(live.remove).foreach(_.unpersist(blocking = false))
  }

  /** One loop round: cut `next`, then release what the `superseded` frames
    * read.
    */
  def advance(next: DataFrame, superseded: DataFrame*): DataFrame = {
    val out = cut(next)._1
    superseded.foreach(release)
    out
  }

  private def end(result: Option[DataFrame]): Unit = synchronized {
    val kept = result.fold(Set.empty[RDD[_]])(Generations.read(_).toSet)
    live.filterNot(kept).foreach(_.unpersist(blocking = false))
    caches.foreach(_.unpersist(blocking = false))
  }
}

object Generations {

  /** The RDD name that marks a generation's rows. */
  private val Name = "graft.exec.Generations"

  /** Run one loop; see the class doc for what stays pinned. */
  def scope(body: Generations => DataFrame): DataFrame = {
    val g = new Generations
    var out: Option[DataFrame] = None
    try { out = Some(body(g)); out.get } finally g.end(out)
  }

  /** A one-off cut outside any loop; the caller owns the generation. */
  def cut(df: DataFrame): DataFrame = scope(_.cut(df)._1)

  /** Release the generations `df` reads — a one-off [[cut]] whose
    * successor is materialized.
    */
  def release(df: DataFrame): Unit =
    read(df).foreach(_.unpersist(blocking = false))

  /** A DataFrame over a generation's rows: a LogicalRDD leaf with fresh
    * attributes of `df`'s columns and the given statistics.
    */
  private def leaf(df: DataFrame, rows: RDD[UnsafeRow],
      stats: Statistics): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val output = df.queryExecution.analyzed.output.map(_.newInstance())
    ColumnBridge.ofRows(spark, LogicalRDD(output,
      rows.asInstanceOf[RDD[InternalRow]])(spark, Some(stats), None))
  }

  /** The generations (still materialized) under the leaves `df` reads. */
  private def read(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collectWithSubqueries {
      case l: LogicalRDD if l.rdd.name == Name => l.rdd
    }.filter(_.getStorageLevel != StorageLevel.NONE)
}
