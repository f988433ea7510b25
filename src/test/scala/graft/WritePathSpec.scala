package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.scalatest.funsuite.AnyFunSuite
import graft.inference.{CustomRules, Inference}
import graft.model.{Quad, Rdf, RdfTerm}
import graft.parser.SparqlParser
import graft.sources.{GraphUpdate, RepoConfig, Repositories, TurtleReader}

/** The repository write path: every load and update keeps the query view
  * equal to the full closure of the asserted set, whichever way the view
  * was maintained (extended on additive changes, re-closed on removals).
  */
class WritePathSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val L = "urn:l:"
  private val G1 = s"${L}g1"
  private val G2 = s"${L}g2"

  private def facts(df: DataFrame): Set[Quad] = df.as[Quad].collect().toSet

  private def ttlFile(doc: String): String = {
    val f = java.nio.file.Files.createTempFile("graft_wp", ".ttl")
    java.nio.file.Files.writeString(f, doc)
    f.toString
  }

  private val shapesTtl =
    s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
       |<${L}FlagShape> a sh:NodeShape ; sh:targetClass <${L}Flag> ;
       |  sh:property [ sh:path <${L}ok> ; sh:minCount 1 ] .
       |""".stripMargin

  /** One configuration of the law: the repository config, the triple pool
    * writes draw from, the full closure of a driver-side asserted set, and
    * the local-close threshold it runs under (None: the default).
    */
  private final case class Law(name: String, config: RepoConfig,
      pool: Seq[String], closure: Set[Quad] => Set[Quad],
      threshold: Option[String] = None)

  private def iri(s: String) = s"<$L$s>"
  private def nodes(rnd: scala.util.Random) = iri(s"i${rnd.nextInt(5)}")
  private val rdfType = s"<${Rdf.RdfType}>"

  private val rdfsPool = Seq(
    s"${iri("C0")} <${Rdf.RdfsSubClassOf}> ${iri("C1")}",
    s"${iri("C1")} <${Rdf.RdfsSubClassOf}> ${iri("C2")}",
    s"${iri("p0")} <${Rdf.RdfsDomain}> ${iri("C0")}",
    s"${iri("part")} $rdfType <${Rdf.OwlTransitive}>",
    s"${iri("Flagged")} <${Rdf.RdfsSubClassOf}> ${iri("Flag")}")

  private val ruleset =
    s"""Axioms { <${L}i0> <${L}part> <${L}i1> }
       |Rules {
       |  Id: chain
       |    a <${L}part> b
       |    b <${L}part> c
       |    ---
       |    a <${L}part> c
       |}""".stripMargin

  private val laws = Seq(
    Law("RDFS-Plus", RepoConfig(inference = true, shapesTtl = Some(shapesTtl)),
      rdfsPool, a => Inference.materializeLocal(a.toSeq).toSet),
    Law("custom ruleset", RepoConfig(rulesetPie = Some(ruleset),
      shapesTtl = Some(shapesTtl)), Nil,
      a => facts(CustomRules.materializeRuleset(spark,
        GraphUpdate.quadsDf(spark, a.toSeq),
        CustomRules.parseRuleset(ruleset)))),
    Law("no inference", RepoConfig(shapesTtl = Some(shapesTtl)), Nil,
      a => a),
    // threshold 0: every close and extension takes the distributed path
    Law("RDFS-Plus, distributed", RepoConfig(inference = true,
      shapesTtl = Some(shapesTtl)), rdfsPool,
      a => Inference.materializeLocal(a.toSeq).toSet, threshold = Some("0")))

  /** A random triple: vocabulary from the law's pool, or instance data —
    * now and then a `Flag` type that no `ok` ever backs (SHACL rejects it).
    */
  private def triple(rnd: scala.util.Random, law: Law): String =
    rnd.nextInt(12) match {
      case k if k < 2 && law.pool.nonEmpty => law.pool(rnd.nextInt(law.pool.size))
      case 2 => s"${nodes(rnd)} ${iri("part")} ${nodes(rnd)}"
      case 3 => s"${nodes(rnd)} ${iri("p0")} ${nodes(rnd)}"
      case 4 => s"${nodes(rnd)} $rdfType ${iri(s"C${rnd.nextInt(2)}")}"
      case 5 if law.pool.nonEmpty => s"${nodes(rnd)} <${Rdf.OwlSameAs}> ${nodes(rnd)}"
      case 6 => s"""${nodes(rnd)} ${iri("name")} "n${rnd.nextInt(3)}""""
      case 7 => s"${nodes(rnd)} $rdfType ${iri("Flag")}"
      case 8 if law.pool.nonEmpty => s"${nodes(rnd)} $rdfType ${iri("Flagged")}"
      case _ => s"${nodes(rnd)} ${iri("part")} ${nodes(rnd)}"
    }

  private def triples(rnd: scala.util.Random, law: Law) =
    Seq.fill(1 + rnd.nextInt(4))(triple(rnd, law)).map(_ + " .")

  private def defaultFacts(view: Set[Quad]) =
    view.filter(_.graph == Rdf.DefaultGraph)

  private def violates(view: Set[Quad]) = view.exists(q =>
    q.p == Rdf.RdfType && q.o.value == s"${L}Flag")

  test("write-path law: after each load or update the query view equals " +
      "the full closure of a driver-side model of the asserted set; a " +
      "write SHACL rejects changes neither the epoch count nor the view") {
    val rnd = new scala.util.Random(20261020)
    val drawn = collection.mutable.Set[Int]()
    var rejected = 0
    laws.foreach { law =>
      law.threshold.foreach(spark.conf.set("spark.graft.inference.localThreshold", _))
      try (0 until 4).foreach { seq =>
        val repos = new Repositories(spark)
        val id = s"law$seq"
        repos.create(id, law.config)
        var asserted = Set.empty[Quad]
        var view = law.closure(asserted)
        val writes = 1 + rnd.nextInt(8)
        (0 until writes).foreach { w =>
          val graph = if (rnd.nextInt(3) == 0) G1 else Rdf.DefaultGraph
          // (description, engine call, the model's asserted set after it)
          val (what, run, next): (String, () => Any, Set[Quad]) =
            { val k = rnd.nextInt(7); drawn += k; k } match {
              case 0 =>
                val doc = triples(rnd, law).mkString("\n")
                val path = ttlFile(doc)
                (s"load into $graph: $doc", () => repos.load(id, path, graph),
                  asserted ++ TurtleReader.parse(doc, graph))
              case 1 =>
                val body = triples(rnd, law).mkString(" ")
                val text =
                  if (graph == G1) s"INSERT DATA { GRAPH <$G1> { $body } }"
                  else s"INSERT DATA { $body }"
                val SparqlParser.InsertDataU(qs) =
                  SparqlParser.parseUpdate(text).head
                (text, () => repos.update(id, text), asserted ++ qs)
              case 2 =>
                val picked = rnd.shuffle(asserted.toSeq.sortBy(_.toString))
                  .take(1 + rnd.nextInt(3))
                def term(t: RdfTerm) =
                  if (t.isIri) s"<${t.value}>" else s""""${t.value}""""
                val body = picked.map { q =>
                  val t = s"<${q.s}> <${q.p}> ${term(q.o)} ."
                  if (q.graph == Rdf.DefaultGraph) t
                  else s"GRAPH <${q.graph}> { $t }"
                }.mkString(" ")
                val text = s"DELETE DATA { $body }"
                (text, () => repos.update(id, text), asserted -- picked)
              case 3 =>
                // WHERE matches the closed view: inferred types and
                // transitive edges feed the template
                if (rnd.nextBoolean()) {
                  val text = s"INSERT { ?x ${iri("tag")} ${iri("yes")} } " +
                    s"WHERE { ?x $rdfType ${iri("C1")} }"
                  (text, () => repos.update(id, text), asserted ++
                    defaultFacts(view).collect { case q if q.p ==
                        Rdf.RdfType && q.o.value == s"${L}C1" =>
                      Quad(Rdf.DefaultGraph, q.s, s"${L}tag",
                        RdfTerm.iri(s"${L}yes"))
                    })
                } else {
                  val text = s"INSERT { ?x ${iri("p0")} ?y } " +
                    s"WHERE { ?x ${iri("part")} ?y }"
                  (text, () => repos.update(id, text), asserted ++
                    defaultFacts(view).collect { case q if q.p ==
                        s"${L}part" => q.copy(p = s"${L}p0")
                    })
                }
              case 4 =>
                val o = nodes(rnd)
                val text = s"DELETE WHERE { ?x ?p $o }"
                val gone = defaultFacts(view).filter(q =>
                  q.o.isIri && s"<${q.o.value}>" == o)
                (text, () => repos.update(id, text), asserted -- gone)
              case 5 =>
                val text = s"CLEAR GRAPH <$G1>"
                (text, () => repos.update(id, text),
                  asserted.filterNot(_.graph == G1))
              case _ =>
                val (from, src) =
                  if (rnd.nextBoolean()) (s"<$G1>", G1)
                  else ("DEFAULT", Rdf.DefaultGraph)
                val text = s"ADD $from TO <$G2>"
                (text, () => repos.update(id, text), asserted ++
                  asserted.filter(_.graph == src).map(_.copy(graph = G2)))
            }
          val expected = law.closure(next)
          val ctx = s"${law.name}, sequence $seq, write $w: $what"
          val epochs = repos.epochCount(id)
          if (violates(expected)) {
            intercept[graft.shacl.ShaclViolationException](run())
            assert(repos.epochCount(id) == epochs, ctx)
            rejected += 1
          } else {
            run()
            assert(repos.epochCount(id) == epochs + 1, ctx)
            asserted = next
            view = expected
          }
          if (repos.epochCount(id) > 0) {
            assert(facts(repos.quads(id)) == view, ctx)
            assert(facts(repos.statements(id, infer = false)) == asserted,
              ctx)
          }
        }
      } finally spark.conf.unset("spark.graft.inference.localThreshold")
    }
    // the seed draws every write kind and some rejected writes
    assert(drawn.size == 7 && rejected > 0, s"kinds $drawn, rejected $rejected")
  }

  test("a loaded document that brings new vocabulary over existing types " +
      "equals a full re-close, on the driver and through the distributed " +
      "fixpoint fallback; a fresh custom-ruleset repository's first load " +
      "holds its axioms") {
    val data = ttlFile(
      s"""<${L}a> a <${L}Park> . <${L}b> a <${L}Pool> .
         |<${L}a> <${L}near> <${L}b> .""".stripMargin)
    val vocab = ttlFile(
      s"""@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
         |<${L}Park> rdfs:subClassOf <${L}Facility> .
         |<${L}Pool> rdfs:subClassOf <${L}Facility> .
         |<${L}Facility> rdfs:subClassOf <${L}Place> .""".stripMargin)
    Seq(None, Some("0")).foreach { threshold =>
      threshold.foreach(spark.conf.set("spark.graft.inference.localThreshold", _))
      try {
        val repos = new Repositories(spark)
        repos.create("voc", RepoConfig(inference = true))
        repos.load("voc", data)
        repos.load("voc", vocab)
        val got = facts(repos.quads("voc"))
        val full = facts(Inference.materialize(spark,
          repos.statements("voc", infer = false)))
        assert(got == full, s"threshold $threshold")
        assert(got.contains(Quad(Rdf.DefaultGraph, s"${L}a", Rdf.RdfType,
          RdfTerm.iri(s"${L}Place"))), s"threshold $threshold")
      } finally spark.conf.unset("spark.graft.inference.localThreshold")
    }
    val repos = new Repositories(spark)
    repos.create("axioms", RepoConfig(rulesetPie = Some(ruleset)))
    repos.load("axioms", ttlFile(s"<${L}i1> <${L}part> <${L}i2> ."))
    val got = facts(repos.quads("axioms"))
    assert(got.contains(Quad(Rdf.DefaultGraph, s"${L}i0", s"${L}part",
      RdfTerm.iri(s"${L}i1")))) // the axiom
    assert(got.contains(Quad(Rdf.DefaultGraph, s"${L}i0", s"${L}part",
      RdfTerm.iri(s"${L}i2")))) // derived from axiom and loaded fact
  }

  test("an RDFS-Plus extension whose set union fits under the local " +
      "threshold closes on the driver, though the closed view and the new " +
      "asserted set together count more rows") {
    val repos = new Repositories(spark)
    repos.create("local", RepoConfig(inference = true))
    repos.load("local", ttlFile(
      s"""@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
         |<${L}p0> rdfs:domain <${L}C0> .
         |<${L}a> <${L}p0> <${L}b> . <${L}b> <${L}p0> <${L}c> .
         |<${L}c> <${L}p0> <${L}d> .""".stripMargin))
    val closed = repos.quads("local").count()
    val asserted = repos.statements("local", infer = false).count()
    // |closed ∪ A'| = closed + 1 ≤ threshold < closed + |A'| = closed + asserted + 1
    spark.conf.set("spark.graft.inference.localThreshold", (closed + 1).toString)
    try repos.update("local", s"INSERT DATA { <${L}d> <${L}name> \"d\" }")
    finally spark.conf.unset("spark.graft.inference.localThreshold")
    assert(asserted > 1)
    val view = repos.quads("local")
    assert(view.queryExecution.logical.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      view.queryExecution.logical.treeString)
    assert(facts(view) == facts(Inference.materialize(spark,
      repos.statements("local", infer = false))))
    assert(facts(view).size == closed + 1)
  }

  test("the asserted set of an in-memory inference repository stays one " +
      "cut deep: after 20 INSERT DATA requests its analyzed plan holds at " +
      "most one Union and its answers are unchanged") {
    val repos = new Repositories(spark)
    repos.create("deep", RepoConfig(inference = true))
    (1 to 20).foreach(i =>
      repos.update("deep", s"INSERT DATA { <${L}n$i> <${L}next> <${L}n${i + 1}> }"))
    val explicit = repos.catalog("deep").pseudoGraph(Rdf.OntoExplicit).get
    val unions = explicit.queryExecution.analyzed.collect { case u: Union => u }
    assert(unions.size <= 1, explicit.queryExecution.analyzed.treeString)
    assert(facts(explicit) == (1 to 20).map(i => Quad(Rdf.DefaultGraph,
      s"${L}n$i", s"${L}next", RdfTerm.iri(s"${L}n${i + 1}"))).toSet)
  }
}
