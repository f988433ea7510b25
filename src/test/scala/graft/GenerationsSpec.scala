package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{GraphAnalytics, PathSearch}
import graft.inference.{CustomRules, Inference}
import graft.model.{Quad, Rdf, RdfTerm}
import graft.paths.PropertyPaths

/** Release contract of the iterative loops' lineage cuts
  * ([[graft.exec.Generations]]): a loop that throws leaves nothing pinned,
  * and a fixpoint keeps at most the generation it returns.
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
}
