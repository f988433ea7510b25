package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.algebra._
import graft.inference.Inference
import graft.model.{Quad, Rdf, RdfTerm}
import graft.paths._
import graft.sources.GraphCatalog

/** RDFS-Plus rule-by-rule specs + property-path closure specs on tiny
  * in-memory quad sets (SURVEY §2.11, §2.9).
  */
class InferencePathsSpec extends AnyFunSuite {
  import TestSpark.spark

  def q(s: String, p: String, o: RdfTerm): Quad = Quad(Rdf.DefaultGraph, s, p, o)
  def iri(v: String) = RdfTerm.iri(v)

  def materialize(quads: Seq[Quad]): Set[(String, String, String)] = {
    import spark.implicits._
    Inference.materialize(spark, quads.toDS().toDF())
      .select("s", "p", "o.value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
  }

  test("domain + range + subClassOf chain") {
    val got = materialize(Seq(
      q("p:likes", Rdf.RdfsDomain, iri("c:Person")),
      q("p:likes", Rdf.RdfsRange, iri("c:Thing")),
      q("c:Person", Rdf.RdfsSubClassOf, iri("c:Agent")),
      q("c:Agent", Rdf.RdfsSubClassOf, iri("c:Entity")),
      q("e:alice", "p:likes", iri("e:pizza"))))
    assert(got.contains(("e:alice", Rdf.RdfType, "c:Person")))
    assert(got.contains(("e:alice", Rdf.RdfType, "c:Agent")))
    assert(got.contains(("e:alice", Rdf.RdfType, "c:Entity"))) // transitive
    assert(got.contains(("e:pizza", Rdf.RdfType, "c:Thing")))
  }

  test("subPropertyOf propagates triples; equivalentProperty is bidirectional") {
    val got = materialize(Seq(
      q("p:parentOf", Rdf.RdfsSubPropertyOf, iri("p:relatedTo")),
      q("p:knows", Rdf.OwlEquivalentProperty, iri("p:acquaintedWith")),
      q("e:a", "p:parentOf", iri("e:b")),
      q("e:c", "p:acquaintedWith", iri("e:d"))))
    assert(got.contains(("e:a", "p:relatedTo", "e:b")))
    assert(got.contains(("e:c", "p:knows", "e:d")))
  }

  test("inverseOf + SymmetricProperty") {
    val got = materialize(Seq(
      q("p:hasChild", Rdf.OwlInverseOf, iri("p:hasParent")),
      q("p:sibling", Rdf.RdfType, iri(Rdf.OwlSymmetric)),
      q("e:mom", "p:hasChild", iri("e:kid")),
      q("e:x", "p:sibling", iri("e:y"))))
    assert(got.contains(("e:kid", "p:hasParent", "e:mom")))
    assert(got.contains(("e:y", "p:sibling", "e:x")))
  }

  test("TransitiveProperty closes chains and terminates on cycles") {
    val got = materialize(Seq(
      q("p:part", Rdf.RdfType, iri(Rdf.OwlTransitive)),
      q("e:a", "p:part", iri("e:b")),
      q("e:b", "p:part", iri("e:c")),
      q("e:c", "p:part", iri("e:a")))) // cycle!
    assert(got.contains(("e:a", "p:part", "e:c")))
    assert(got.contains(("e:a", "p:part", "e:a"))) // via the cycle
  }

  test("closure: semi-naive fixpoint on a chain with cycle terminates") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "b"))
      .toDF("src", "dst")
    val got = PropertyPaths.closure(spark, edges)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got.contains(("a", "d")))
    assert(got.contains(("b", "b"))) // cycle b->c->d->b
    assert(got == Set(
      ("a","b"),("b","c"),("c","d"),("d","b"),
      ("a","c"),("a","d"),("b","d"),("c","b"),("d","c"),
      ("b","b"),("c","c"),("d","d")))
  }

  test("path rewrites: alternative, inverse, zero-or-one domain") {
    import spark.implicits._
    val quads = Seq(
      q("e:1", "p:p", iri("e:2")), q("e:2", "p:q", iri("e:3")),
      q("e:1", "p:r", iri("e:4"))).toDS().toDF()
    val cat = new GraphCatalog(spark); cat.addQuads(quads)
    val compiler = new Compiler(cat)
    def pairs(sol: Sol): Set[(String, String)] =
      sol.df.select(sol.df("x").getField("value"), sol.df("y").getField("value"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // seq: ?x p/q ?y
    val seq = compiler.compile(PropertyPaths.toOp(V("x"),
      PSeq(Pred("p:p"), Pred("p:q")), V("y")))
    assert(pairs(seq) == Set(("e:1", "e:3")))
    // alt: ?x (p|r) ?y
    val alt = compiler.compile(PropertyPaths.toOp(V("x"),
      PAlt(Pred("p:p"), Pred("p:r")), V("y")))
    assert(alt.df.count() == 2)
    // inverse: ?x ^q ?y  ≡  ?y q ?x
    val inv = compiler.compile(PropertyPaths.toOp(V("x"), PInv(Pred("p:q")), V("y")))
    assert(pairs(inv) == Set(("e:3", "e:2")))
    // negated set: ?x !(p:p) ?y over subject e:1
    val neg = compiler.compile(FilterOp(
      r => r("x").getField("value") === "e:1",
      PropertyPaths.toOp(V("x"), PNegated(Seq("p:p")), V("y"))))
    assert(pairs(neg) == Set(("e:1", "e:4")))
  }

  test("zero-or-one path `?`: one-hop ∪ identity — NO transitive closure") {
    import spark.implicits._
    val quads = Seq(
      q("e:a", "p:next", iri("e:b")), q("e:b", "p:next", iri("e:c"))).toDS().toDF()
    val cat = new GraphCatalog(spark); cat.addQuads(quads)
    val compiler = new Compiler(cat)
    val sol = compiler.compile(
      PropertyPaths.toOp(V("x"), PZeroOrOne(Pred("p:next")), V("y")))
    val pairs = sol.df.select(sol.df("x").getField("value"),
        sol.df("y").getField("value"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("e:a", "e:b"), ("e:b", "e:c"),
      ("e:a", "e:a"), ("e:b", "e:b"), ("e:c", "e:c")))
    assert(!pairs.contains(("e:a", "e:c"))) // the defining difference vs `*`
  }

  test("FunctionalProperty ⇒ sameAs; sameAs smushes subject & object statements") {
    val got = materialize(Seq(
      q("p:ssn", Rdf.RdfType, iri(Rdf.OwlFunctional)),
      q("e:x", "p:ssn", iri("e:id1")),
      q("e:x", "p:ssn", iri("e:id2")),
      q("e:id1", "p:label", RdfTerm.str("one")),
      q("e:z", "p:ref", iri("e:id2"))))
    assert(got.contains(("e:id1", Rdf.OwlSameAs, "e:id2")))
    assert(got.contains(("e:id2", Rdf.OwlSameAs, "e:id1"))) // symmetric
    assert(got.contains(("e:id2", "p:label", "one")))       // subject copied
    assert(got.contains(("e:z", "p:ref", "e:id1")))         // object copied
    assert(!got.contains(("e:id1", Rdf.OwlSameAs, "e:id1"))) // no reflexive noise
  }

  test("InverseFunctionalProperty ⇒ sameAs over a shared object") {
    val got = materialize(Seq(
      q("p:email", Rdf.RdfType, iri(Rdf.OwlInverseFunctional)),
      q("e:a1", "p:email", RdfTerm.str("x@y")),
      q("e:a2", "p:email", RdfTerm.str("x@y"))))
    assert(got.contains(("e:a1", Rdf.OwlSameAs, "e:a2")))
    assert(got.contains(("e:a2", Rdf.OwlSameAs, "e:a1")))
  }

  test("vocab collect is vocabulary-sized: data-scale rdf:type rows excluded") {
    import spark.implicits._
    val data = (1 to 500).map(i => q(s"e:$i", Rdf.RdfType, iri("c:Widget"))) ++
      (1 to 500).map(i => q(s"e:$i", "p:val", RdfTerm.int(i))) :+
      q("p:sib", Rdf.RdfType, iri(Rdf.OwlSymmetric))
    val df = data.toDS().toDF()
    // ONLY the SymmetricProperty declaration survives the pre-collect filter —
    // the 500 entity typings (data-scale at 100×) never reach the driver.
    assert(Inference.vocabRows(df).count() == 1)
    assert(Inference.vocab(df).symmetric.contains("p:sib"))
  }

  test("property paths honor GRAPH scoping (G5 × G2)") {
    import spark.implicits._
    val quads = Seq(
      Quad("urn:g1", "e:a", "p:next", iri("e:b")),
      Quad("urn:g1", "e:b", "p:next", iri("e:c")),
      Quad(Rdf.DefaultGraph, "e:x", "p:next", iri("e:y"))).toDS().toDF()
    val cat = new GraphCatalog(spark); cat.addQuads(quads)
    val compiler = new Compiler(cat)
    def pairs(g: PTerm): Set[(String, String)] = {
      val sol = compiler.compile(
        PropertyPaths.toOp(V("x"), POneOrMore(Pred("p:next")), V("y"), g))
      sol.df.select(sol.df("x").getField("value"), sol.df("y").getField("value"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    }
    // the closure runs over ONLY the scoped graph's edges
    assert(pairs(I("urn:g1")) == Set(("e:a", "e:b"), ("e:b", "e:c"), ("e:a", "e:c")))
    assert(pairs(I(Rdf.DefaultGraph)) == Set(("e:x", "e:y")))
  }

  test("closureSol: + and * (zero-length) over compiled steps") {
    import spark.implicits._
    val quads = Seq(
      q("e:a", "p:next", iri("e:b")), q("e:b", "p:next", iri("e:c"))).toDS().toDF()
    val cat = new GraphCatalog(spark); cat.addQuads(quads)
    val compiler = new Compiler(cat)
    val plus = PropertyPaths.closureSol(compiler, Pred("p:next"), "s", "o")
    val plusPairs = plus.df.collect().map(r => (r.getStruct(0).getString(1),
      r.getStruct(1).getString(1))).toSet
    assert(plusPairs == Set(("e:a", "e:b"), ("e:b", "e:c"), ("e:a", "e:c")))
    val star = PropertyPaths.closureSol(compiler, Pred("p:next"), "s", "o",
      zeroLength = true)
    assert(star.df.count() == plusPairs.size + 3) // + self-loops a,b,c
  }

  test("r16 driver-local closure EQUALS the distributed fixpoint on a " +
      "fixture exercising every rule family (incl. named graphs and " +
      "sameAs smushing)") {
    import spark.implicits._
    val g2 = "urn:g2"
    val fixture = Seq(
      q("p:likes", Rdf.RdfsDomain, iri("c:Person")),
      q("p:likes", Rdf.RdfsRange, iri("c:Thing")),
      q("c:Person", Rdf.RdfsSubClassOf, iri("c:Agent")),
      q("p:likes", Rdf.RdfsSubPropertyOf, iri("p:knowsOf")),
      q("p:owns", Rdf.OwlInverseOf, iri("p:ownedBy")),
      q("p:near", Rdf.RdfType, iri(Rdf.OwlSymmetric)),
      q("p:part", Rdf.RdfType, iri(Rdf.OwlTransitive)),
      q("p:ssn", Rdf.RdfType, iri(Rdf.OwlInverseFunctional)),
      q("p:spouse", Rdf.RdfType, iri(Rdf.OwlFunctional)),
      q("e:a", "p:likes", iri("e:b")),
      Quad(g2, "e:b", "p:owns", iri("e:c")),
      q("e:c", "p:near", iri("e:d")),
      q("e:x1", "p:part", iri("e:x2")),
      q("e:x2", "p:part", iri("e:x3")),
      q("e:m", "p:ssn", RdfTerm.str("123")),
      q("e:n", "p:ssn", RdfTerm.str("123")),
      q("e:k", "p:spouse", iri("e:w1")),
      q("e:k", "p:spouse", iri("e:w2")),
      q("e:a", Rdf.OwlSameAs, iri("e:a2")),
      q("e:a", "p:tag", RdfTerm.str("v")))
    def quadSet(df: org.apache.spark.sql.DataFrame) =
      df.as[Quad].collect().toSet
    for (subst <- Seq(true, false)) {
      val local = Inference.materializeLocal(fixture, sameAsSubst = subst)
        .toSet
      spark.conf.set("spark.graft.inference.localThreshold", "0")
      val dist = try quadSet(Inference.materialize(spark,
        fixture.toDS().toDF(), sameAsSubst = subst))
      finally spark.conf.unset("spark.graft.inference.localThreshold")
      assert(local == dist,
        s"subst=$subst\nonly local: ${(local -- dist).toSeq.sortBy(_.s)}" +
          s"\nonly dist: ${(dist -- local).toSeq.sortBy(_.s)}")
      // and the routed (auto-local) path returns the same set
      assert(quadSet(Inference.materialize(spark, fixture.toDS().toDF(),
        sameAsSubst = subst)) == dist)
    }
  }

  test("r17 ADVICE: the local closure is a TRUE fixpoint — a transitive " +
      "chain far beyond the old 31-hop inner bound closes completely in " +
      "one derive round; the threshold conf validates before toInt") {
    val n = 80
    val chain = q("p:part", Rdf.RdfType, iri(Rdf.OwlTransitive)) +:
      (0 until n).map(i => q(s"e:c$i", "p:part", iri(s"e:c${i + 1}")))
    val local = Inference.materializeLocal(chain).toSet
    // full closure: n+1 choose 2 part edges (every i < j pair)
    val parts = local.count(_.p == "p:part")
    assert(parts == (n + 1) * n / 2, s"got $parts")
    assert(local.exists(x => x.s == "e:c0" && x.p == "p:part" &&
      x.o.value == s"e:c$n"))
    // conf values that would overflow the probe limit are rejected
    spark.conf.set("spark.graft.inference.localThreshold",
      (Int.MaxValue.toLong + 7).toString)
    try intercept[IllegalArgumentException] {
      import spark.implicits._
      Inference.materialize(spark, chain.toDS().toDF())
    } finally spark.conf.unset("spark.graft.inference.localThreshold")
  }
}
