package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.scalatest.{BeforeAndAfterAll, Suite}
import graft.algebra.{Compiler, Prepared, ShapeCache, Sol}

/** Plan parity of prepared query shapes over a suite's whole corpus: while
  * the suite runs, every query answered from a cached shape is compiled
  * again directly from its text. The two analyzed plans must be equal
  * modulo expression ids, and so must the two optimized plans. Some
  * optimizer rules order their output by expression ids (the Expand of
  * several DISTINCT aggregates, for one), so two direct compiles of one
  * text can differ there too: where the optimized plans differ, the two
  * answers must be equal instead. A mismatch fails the query, and so its
  * test. Queries whose compile, optimization or run throws are left to
  * their own test.
  */
trait ShapeParity extends BeforeAndAfterAll { this: Suite =>
  /** Cached answers checked so far. */
  protected val parityChecked = new AtomicInteger

  private def check(comp: Compiler, p: Prepared, sol: Sol): Unit =
    Try(comp.compile(p.op).df).foreach { direct =>
      def same(plan: QueryExecution => LogicalPlan) =
        plan(sol.df.queryExecution).canonicalized ==
          plan(direct.queryExecution).canonicalized
      def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
      if (!same(_.analyzed) || !Try(same(_.optimizedPlan)).getOrElse(true) &&
          !Try(rows(sol.df) == rows(direct)).getOrElse(true))
        throw new AssertionError(s"prepared shape ${p.shape} unlike a " +
          s"direct compile:\n${sol.df.queryExecution.analyzed}\nvs\n" +
          direct.queryExecution.analyzed)
      parityChecked.incrementAndGet()
    }

  override def beforeAll(): Unit = {
    super.beforeAll()
    ShapeCache.onCachedAnswer = check
  }

  override def afterAll(): Unit =
    try ShapeCache.onCachedAnswer = (_, _, _) => ()
    finally super.afterAll()
}

object ShapeParity {
  /** [[ShapeCache.counters]] deltas over `body`. */
  def counted[T](body: => T): (T, Map[String, Long]) = {
    val before = ShapeCache.counters.toMap
    val out = body
    (out, ShapeCache.counters.toMap.map { case (k, v) => k -> (v - before(k)) })
  }
}
