package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.exec.Generations
import graft.graph.{GraphAnalytics, PathSearch}
import graft.inference.{CustomRules, Inference}
import graft.model.{Quad, Rdf, RdfTerm}
import graft.paths.PropertyPaths

/** The engine's one materialization primitive ([[graft.exec.Generations]]):
  * a cut is a sized leaf that Spark plans joins against, a nondeterministic
  * frame is drawn once, a loop that throws leaves nothing pinned, and a
  * fixpoint keeps at most the generation it returns.
  */
class GenerationsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def pinned(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // an edge's `dst` that throws when evaluated on an edge leaving `m`
  private val boom = udf { (src: String, dst: String) =>
    if (src == "m") throw new IllegalStateException("marker vertex") else dst
  }
  private def markedEdges(es: (String, String)*): DataFrame =
    es.toDF("src", "dst0").repartition(2)
      .select(col("src"), lit("p").as("p"), boom(col("src"), col("dst0")).as("dst"))

  // closure materializes its whole edge input as its first generation, so
  // no input can throw later; instead planning throws at the first round
  // that reads three generations (edges, frontier, accumulator): hop 2
  private object FailAtHop2 extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = {
      if (plan.collect { case l: LogicalRDD => l.rdd.id }.distinct.size >= 3)
        throw new IllegalStateException("planning hop 2")
      plan
    }
  }
  private def withRule[T](rule: Rule[LogicalPlan])(body: => T): T = {
    val old = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = old :+ rule
    try body finally spark.experimental.extraOptimizations = old
  }

  test("a loop that throws mid-search releases every generation it made") {
    // path search reads its edges per hop, only those leaving the
    // frontier: a is expanded at hop 1, m at hop 2
    val pathEdges = markedEdges(("a", "m"), ("m", "b"), ("b", "z"))
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    // 1 → 2 costs 1; relaxing 2 → 3 at hop 2 overflows the BIGINT distance
    val ssspEdges = Seq((1L, 2L, 1L), (2L, 3L, Long.MaxValue))
      .toDF("src", "dst", "w")
    // one hop never reaches the marker: the search throws at hop 2
    assert(PathSearch.allPaths(pathEdges, "a", "m", maxLen = 1,
      assumeSet = true).count() == 1)
    val loops: Seq[(String, String, () => DataFrame)] = Seq(
      ("PathSearch.allPaths", "marker vertex", () =>
        PathSearch.allPaths(pathEdges, "a", "z", maxLen = 4, assumeSet = true)),
      ("PropertyPaths.closure", "planning hop 2", () =>
        withRule(FailAtHop2)(PropertyPaths.closure(spark, chain))),
      ("GraphAnalytics.ssspWeighted", "overflow", () =>
        GraphAnalytics.ssspWeighted(ssspEdges, 1L, Long.MaxValue)))
    val leaked = withConf("spark.sql.ansi.enabled", "true") {
      loops.flatMap { case (name, cause, run) =>
        val before = pinned()
        val e = intercept[Exception](run().collect())
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains(cause)), e)
        val left = pinned() -- before
        if (left.isEmpty) None else Some(s"$name left ${left.size}")
      }
    }
    assert(leaked.isEmpty)
  }

  test("fixpoints keep at most the generation they return") {
    val onto = Seq(
      Quad(Rdf.DefaultGraph, "p:part", Rdf.RdfType, RdfTerm.iri(Rdf.OwlTransitive)),
      Quad(Rdf.DefaultGraph, "c:A", Rdf.RdfsSubClassOf, RdfTerm.iri("c:B")),
      Quad(Rdf.DefaultGraph, "c:B", Rdf.RdfsSubClassOf, RdfTerm.iri("c:C")),
      Quad(Rdf.DefaultGraph, "e:x", Rdf.RdfType, RdfTerm.iri("c:A"))) ++
      (1 to 4).map(i => Quad(Rdf.DefaultGraph, s"e:$i", "p:part",
        RdfTerm.iri(s"e:${i + 1}")))
    val before = pinned()
    val closed = withConf("spark.graft.inference.localThreshold", "0") {
      Inference.materialize(spark, onto.toDS().toDF())
    }
    val got = closed.select("s", "p", "o.value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got.contains(("e:x", Rdf.RdfType, "c:C")))
    assert(got.contains(("e:1", "p:part", "e:5")))
    val leftByInference = (pinned() -- before).size

    val chain = (1 to 6).map(i => Quad(Rdf.DefaultGraph, s"urn:v$i",
      "urn:next", RdfTerm.iri(s"urn:v${i + 1}")))
    val rules = CustomRules.parse(
      """Rules {
        |  Id: trans
        |    a <urn:next> b
        |    b <urn:next> c
        |    ---
        |    a <urn:next> c
        |}""".stripMargin)
    val before2 = pinned()
    val out = CustomRules.materialize(spark, chain.toDS().toDF(), rules)
    assert(out.count() == 21)
    val leftByRules = (pinned() -- before2).size
    assert(leftByInference <= 1 && leftByRules <= 1,
      s"Inference.materialize left $leftByInference, " +
        s"CustomRules.materialize left $leftByRules")
  }

  private def rowCount(df: DataFrame): Option[BigInt] =
    df.queryExecution.optimizedPlan.stats.rowCount

  test("a cut's leaf carries its exact row count") {
    val cut = Generations.cut(
      spark.range(0, 1000, 1, 4).filter(col("id") % 3 === 0).toDF())
    assert(rowCount(cut) == Some(BigInt(334)))
    assert(cut.queryExecution.optimizedPlan.stats.sizeInBytes > 0)
  }

  test("an un-hinted join against a small cut broadcasts the cut") {
    // an RDD-backed frame has no size estimate: only the cut's own
    // statistics can make this join a broadcast
    val big = spark.createDataFrame(
      spark.sparkContext.parallelize(0L until 100000L, 4).map(Row(_)),
      StructType(Seq(StructField("k", LongType))))
    val small = Generations.cut(Seq(1L, 2L, 3L).toDF("k"))
    val joined = big.join(small, "k")
    val plan = joined.queryExecution.sparkPlan
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.nonEmpty, plan)
    assert(joined.count() == 3)
  }

  test("a cut of a nondeterministic frame is drawn once") {
    val stamped = spark.range(0, 200, 1, 4).toDF()
      .repartition(3).withColumn("stamp", monotonically_increasing_id())
    val cut = Generations.cut(stamped)
    val rdds = cut.queryExecution.logical.collect { case l: LogicalRDD => l.rdd }
    assert(rdds.size == 1 && rdds.head.isCheckpointed)
    def ids() = cut.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ids() == ids())
  }

  test("a lazy cut of a union of two cuts is sized within their sum") {
    val a = Generations.cut(spark.range(0, 500).toDF())
    val b = Generations.cut(spark.range(500, 800).toDF())
    def size(df: DataFrame) = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val u = Generations.scope(_.cutLazy(a.unionAll(b)))
    assert(size(u) <= size(a) + size(b))
    assert(u.count() == 800)
  }
}
