package graft.exec

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The generations one iterative loop materializes — the single owner of
  * every lineage cut in path search, graph analytics, property-path
  * closure, the inference fixpoints, streaming merge and SPARQL Update
  * (Pregelix-style: each superstep is one materialized dataflow generation).
  *
  * A cut persists a frame MEMORY_AND_DISK, counts it in the same job and
  * re-wraps the rows as a LogicalRDD leaf, so the next round plans over
  * rows instead of every earlier round's plan (a persist-only loop blows up
  * the analyzer at depth; DataFrame `localCheckpoint` makes the same cut but
  * trips an AQE attribute-resolution bug, "key not found: …#N", on
  * multi-partition plans). An RDD-backed frame carries no Catalyst stats,
  * so callers size broadcast and lookup choices from the returned count.
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
    val (out, rows) = persist(df)
    (out, rows.count())
  }

  /** A cut without the count job: the rows materialize in the first job
    * that reads them.
    */
  def cutLazy(df: DataFrame): DataFrame = persist(df)._1

  private def persist(df: DataFrame): (DataFrame, RDD[Row]) = {
    val rows = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    synchronized(live += rows)
    (df.sparkSession.createDataFrame(rows, df.schema), rows)
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

  /** Run one loop; see the class doc for what stays pinned. */
  def scope(body: Generations => DataFrame): DataFrame = {
    val g = new Generations
    var out: Option[DataFrame] = None
    try { out = Some(body(g)); out.get } finally g.end(out)
  }

  /** A one-off cut outside any loop; the caller owns the generation. */
  def cut(df: DataFrame): DataFrame = scope(_.cut(df)._1)

  /** The persisted rows under the cut leaves `df` reads (`createDataFrame`
    * wraps each in one converting map).
    */
  private def read(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collectWithSubqueries {
      case l: LogicalRDD => l.rdd.dependencies.map(_.rdd)
    }.flatten.filter(_.getStorageLevel != StorageLevel.NONE)
}
