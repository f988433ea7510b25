package graft.inference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model.Rdf

/** RDFS-Plus forward-chaining materializer (SURVEY §2.11).
  *
  * The reference creates its repository with ruleset `rdfsplus-optimized`
  * (`init-graphdb.sh:51-55`): inference is materialized at LOAD time so reads
  * are pure index scans. Mirrored here as an offline job: semi-naive fixpoint
  * `new = rules(all) \ all` until empty, then queries run over
  * `asserted ∪ inferred`.
  *
  * Scale design: the VOCABULARY (domain/range/subClassOf/subPropertyOf/
  * inverseOf/symmetric/transitive declarations) is tiny relative to facts —
  * the reference's whole ontology is ~107 triples (`facilities.ttl`) — so it
  * is collected once and applied as broadcast literal maps; every rule is then
  * a narrow projection or a broadcast-join over the fact stream, NOT a
  * fact×fact self-join. Only `owl:TransitiveProperty` closure needs iterated
  * joins (delegated to [[graft.paths.PropertyPaths.closure]]'s semi-naive
  * loop). The class/property hierarchies are transitively closed driver-side
  * (they are vocabulary-sized).
  *
  * Rule groups implemented (each triggered by vocabulary the reference's
  * ontology actually declares — SURVEY §2.11 table):
  *   - rdfs:domain / rdfs:range typing (`facilities.ttl:111-184`)
  *   - rdfs:subClassOf / subPropertyOf propagation (+ transitivity)
  *   - owl:equivalentClass/Property (as bidirectional sub)
  *   - owl:inverseOf, owl:SymmetricProperty
  *   - owl:TransitiveProperty
  */
object Inference {

  final case class Vocab(
      domain: Map[String, Seq[String]],       // p -> classes
      range: Map[String, Seq[String]],        // p -> classes
      subClass: Map[String, Seq[String]],     // C -> all superclasses (closed)
      subProp: Map[String, Seq[String]],      // p -> all superproperties (closed)
      inverses: Seq[(String, String)],        // (p, q): s p o => o q s
      symmetric: Set[String],
      transitive: Set[String],
      functional: Set[String],                // s p o1 ∧ s p o2 ⇒ o1 sameAs o2
      invFunctional: Set[String])             // s1 p o ∧ s2 p o ⇒ s1 sameAs s2

  /** The vocabulary-sized quad subset `vocab` collects. `rdf:type` rows are
    * constrained to the four property-characteristic CLASSES — type triples in
    * general are DATA-scale (every entity has one); collecting them all would
    * be a driver OOM at 100×.
    */
  private[graft] def vocabRows(quads: DataFrame): DataFrame = {
    val schemaPreds = Seq(Rdf.RdfsDomain, Rdf.RdfsRange, Rdf.RdfsSubClassOf,
      Rdf.RdfsSubPropertyOf, Rdf.OwlInverseOf, Rdf.OwlEquivalentClass,
      Rdf.OwlEquivalentProperty)
    quads.filter(col("p").isin(schemaPreds: _*) ||
      (col("p") === Rdf.RdfType && col("o.value").isin(Rdf.OwlSymmetric,
        Rdf.OwlTransitive, Rdf.OwlFunctional, Rdf.OwlInverseFunctional)))
  }

  /** Extract + transitively close the vocabulary (small, driver-side). */
  def vocab(quads: DataFrame): Vocab =
    vocabFromRows(vocabRows(quads)
      .select("s", "p", "o.value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))))

  private def vocabFromRows(rows: Array[(String, String, String)]): Vocab = {
    def pairs(pred: String) = rows.collect { case (s, `pred`, o) => (s, o) }.toSeq
    def closeTransitively(edges: Seq[(String, String)]): Map[String, Seq[String]] = {
      var m = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      var changed = true
      while (changed) {
        changed = false
        m = m.map { case (k, vs) =>
          val extra = vs.flatMap(v => m.getOrElse(v, Set.empty))
          if (!extra.subsetOf(vs)) { changed = true; (k, vs ++ extra) } else (k, vs)
        }
      }
      m.view.mapValues(_.toSeq.sorted).toMap
    }
    val equivC = pairs(Rdf.OwlEquivalentClass)
    val equivP = pairs(Rdf.OwlEquivalentProperty)
    val typed = rows.collect { case (s, Rdf.RdfType, o) => (s, o) }
    def ofType(cls: String) = typed.collect { case (s, `cls`) => s }.toSet
    Vocab(
      domain = pairs(Rdf.RdfsDomain).groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap,
      range = pairs(Rdf.RdfsRange).groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap,
      subClass = closeTransitively(pairs(Rdf.RdfsSubClassOf) ++ equivC ++ equivC.map(_.swap)),
      subProp = closeTransitively(pairs(Rdf.RdfsSubPropertyOf) ++ equivP ++ equivP.map(_.swap)),
      inverses = pairs(Rdf.OwlInverseOf).flatMap { case (p, q) => Seq((p, q), (q, p)) },
      // owl:sameAs is itself symmetric + transitive (identity smushing rides
      // on the generic rule machinery + closure).
      symmetric = ofType(Rdf.OwlSymmetric) + Rdf.OwlSameAs,
      transitive = ofType(Rdf.OwlTransitive) + Rdf.OwlSameAs,
      functional = ofType(Rdf.OwlFunctional),
      invFunctional = ofType(Rdf.OwlInverseFunctional))
  }

  private def typeQuad(s: org.apache.spark.sql.Column, cls: String) = Seq(
    col("graph"), s.as("s"), lit(Rdf.RdfType).as("p"),
    graft.sources.DirectMapper.iriTerm(lit(cls)).as("o"))

  /** One application of every non-recursive rule to `facts`. */
  private def applyRules(facts: DataFrame, v: Vocab,
      withSameAsSubst: Boolean = true): Seq[DataFrame] = {
    val isIriObj = col("o.kind") === Rdf.KindIri
    val swap = Seq(col("graph"), col("o.value").as("s"), col("p"),
      graft.sources.DirectMapper.iriTerm(col("s")).as("o"))

    val domainRules = v.domain.toSeq.flatMap { case (p, classes) =>
      classes.map(c => facts.filter(col("p") === p).select(typeQuad(col("s"), c): _*))
    }
    val rangeRules = v.range.toSeq.flatMap { case (p, classes) =>
      classes.map(c => facts.filter(col("p") === p && isIriObj)
        .select(typeQuad(col("o.value"), c): _*))
    }
    val subClassRules = v.subClass.toSeq.flatMap { case (c, supers) =>
      supers.map(sup => facts
        .filter(col("p") === Rdf.RdfType && col("o.value") === c)
        .select(typeQuad(col("s"), sup): _*))
    }
    val subPropRules = v.subProp.toSeq.flatMap { case (p, supers) =>
      supers.map(q => facts.filter(col("p") === p)
        .select(col("graph"), col("s"), lit(q).as("p"), col("o")))
    }
    val invRules = v.inverses.map { case (p, q) =>
      facts.filter(col("p") === p && isIriObj)
        .select(col("graph"), col("o.value").as("s"), lit(q).as("p"),
          graft.sources.DirectMapper.iriTerm(col("s")).as("o"))
    }
    val symRules = v.symmetric.toSeq.map { p =>
      facts.filter(col("p") === p && isIriObj).select(swap: _*)
    }
    // owl:FunctionalProperty: s p o1 ∧ s p o2 ⇒ o1 sameAs o2. Self-join is
    // restricted to the (pre-filtered) functional predicate's triples and
    // keyed on s — NOT a fact×fact cross.
    val funcRules = v.functional.toSeq.map { p =>
      val f = facts.filter(col("p") === p && isIriObj)
        .select(col("s"), col("o.value").as("ov"))
      f.alias("a").join(f.alias("b"),
          col("a.s") === col("b.s") && col("a.ov") < col("b.ov"))
        .select(lit(Rdf.DefaultGraph).as("graph"), col("a.ov").as("s"),
          lit(Rdf.OwlSameAs).as("p"),
          graft.sources.DirectMapper.iriTerm(col("b.ov")).as("o"))
    }
    // owl:InverseFunctionalProperty: s1 p o ∧ s2 p o ⇒ s1 sameAs s2.
    val invFuncRules = v.invFunctional.toSeq.map { p =>
      val f = facts.filter(col("p") === p).select(col("s"), col("o"))
      f.alias("a").join(f.alias("b"),
          col("a.o") === col("b.o") && col("a.s") < col("b.s"))
        .select(lit(Rdf.DefaultGraph).as("graph"), col("a.s").as("s"),
          lit(Rdf.OwlSameAs).as("p"),
          graft.sources.DirectMapper.iriTerm(col("b.s")).as("o"))
    }
    // owl:sameAs substitution: x sameAs y ⇒ copy x's statements to y (subject
    // and IRI-object positions). Facts join against the (small) sameAs pair
    // set — broadcastable; reflexive `y sameAs y` noise filtered out.
    val sameAs = facts.filter(col("p") === Rdf.OwlSameAs && isIriObj)
      .select(col("s").as("x"), col("o.value").as("y"))
    val notReflexiveSameAs =
      !(col("p") === Rdf.OwlSameAs && col("s") === col("o.value"))
    val subjSub = facts.join(sameAs, facts("s") === sameAs("x"))
      .select(col("graph"), col("y").as("s"), col("p"), col("o"))
      .filter(notReflexiveSameAs)
    val objSub = facts.filter(isIriObj).join(sameAs, col("o.value") === sameAs("x"))
      .select(col("graph"), col("s"), col("p"),
        graft.sources.DirectMapper.iriTerm(col("y")).as("o"))
      .filter(notReflexiveSameAs)
    domainRules ++ rangeRules ++ subClassRules ++ subPropRules ++ invRules ++
      symRules ++ funcRules ++ invFuncRules ++
      (if (withSameAsSubst) Seq(subjSub, objSub) else Nil)
  }

  /** Stores at or below this row count close on the DRIVER
    * ([[materializeLocal]]): an ontology closure over a dimension-sized
    * store is driver-sized by definition, and the distributed fixpoint
    * pays tens of Spark jobs (per-iteration rule unions, anti-join
    * counts, lineage-cut persists) that dwarf the actual work — profiled
    * at ~2 s per materialization on a 28-quad repository, the whole wall
    * of `s4_pseudo_graphs`. The threshold probe is a bounded
    * `limit(n+1).collect()` — bounded work on a store of ANY size, and
    * under the threshold the probe's rows are the ones closed — and the
    * distributed semi-naive loop below stays the path for real fact stores.
    */
  private val LocalCloseThreshold = 100000L

  /** The closure of the set union of `parts`, computed on the driver when
    * that union holds at most [[LocalCloseThreshold]] quads; None when it
    * holds more. Each part is read once, by a bounded collect.
    */
  private[inference] def closeOnDriver(spark: SparkSession,
      parts: Seq[DataFrame], maxIters: Int = 10,
      sameAsSubst: Boolean = true): Option[DataFrame] = {
    import spark.implicits._
    // conf override exists for the parity tests (set 0 to force the
    // distributed loop); production leaves the default
    val threshold = spark.conf.getOption("spark.graft.inference.localThreshold")
      .map(_.toLong).getOrElse(LocalCloseThreshold)
    // r17 ADVICE: validate before the toInt — a conf above Int.MaxValue-1
    // would overflow the probe limit (and a driver-local collect of >2^31
    // quads is nonsense anyway)
    require(threshold >= 0 && threshold < Int.MaxValue,
      s"spark.graft.inference.localThreshold must be in [0, ${Int.MaxValue - 1}], got $threshold")
    val quads = scala.collection.mutable.LinkedHashSet[graft.model.Quad]()
    val fits = threshold > 0 && parts.forall { p =>
      val rows = p.as[graft.model.Quad].limit((threshold + 1).toInt).collect()
      quads ++= rows
      rows.length <= threshold && quads.size <= threshold
    }
    if (!fits) None
    else Some(spark.createDataset(
      materializeLocal(quads.toIndexedSeq, maxIters, sameAsSubst)).toDF())
  }

  /** Materialize the closure: `asserted ∪ inferred`, deduplicated.
    *
    * Accumulation is SEMI-NAIVE: each iteration dedups only what the rules
    * DERIVED this round, anti-joins it against the store to keep just the
    * genuinely new facts, and appends — the store itself is never re-shuffled
    * through a global distinct again (at 100 TB a per-iteration distinct over
    * the whole fact store would dominate everything else).
    *
    * Each iteration's output is a [[graft.exec.Generations]] cut: the
    * iterative union lineage otherwise grows multiplicatively and every later
    * query over the inferred store would re-carry that whole logical plan per
    * triple-pattern scan (SURVEY §7.4 risk #4 — observed as an analyzer OOM).
    *
    * `sameAsSubst = false` computes the closure WITHOUT the owl:sameAs
    * substitution rules — the engine's `onto:disable-sameAs` pseudo-graph
    * (GraphDB's `FROM <http://www.ontotext.com/disable-sameAs>` answers
    * queries without expanding statements over sameAs equivalence
    * classes). The sameAs statements THEMSELVES still close (symmetric +
    * transitive) and (inverse-)functional properties still derive them —
    * identity is still asserted, it just no longer copies statements
    * between equivalent nodes.
    */
  def materialize(spark: SparkSession, quads: DataFrame, maxIters: Int = 10,
      sameAsSubst: Boolean = true): DataFrame =
    closeOnDriver(spark, Seq(quads), maxIters, sameAsSubst)
      .getOrElse(fixpoint(spark, quads, maxIters, sameAsSubst))

  /** The distributed semi-naive fixpoint behind [[materialize]]. */
  private def fixpoint(spark: SparkSession, quads: DataFrame, maxIters: Int,
      sameAsSubst: Boolean): DataFrame = {
    val v = vocab(quads)
    graft.exec.Generations.scope { gen =>
      var all = gen.cut(quads.distinct())._1
      var iter = 0
      var done = false
      while (!done && iter < maxIters) {
        val derivedNow = applyRules(all, v, withSameAsSubst = sameAsSubst)
        val transClosed = v.transitive.toSeq.map { p =>
          val edges = all.filter(col("p") === p && col("o.kind") === Rdf.KindIri)
            .select(col("s").as("src"), col("o.value").as("dst"))
          val closed = gen.adopt(graft.paths.PropertyPaths.closure(spark, edges))
          // sameAs cycles (x↔y) would close reflexively; rdfsplus-optimized
          // drops `x sameAs x` noise (true but useless). Ordinary transitive
          // properties KEEP cycle-reflexivity (`a part+ a` is an answer).
          val noRefl = if (p == Rdf.OwlSameAs) closed.filter(col("src") =!= col("dst"))
          else closed
          noRefl.select(lit(Rdf.DefaultGraph).as("graph"), col("src").as("s"),
            lit(p).as("p"), graft.sources.DirectMapper.iriTerm(col("dst")).as("o"))
        }
        val derived = (derivedNow ++ transClosed).reduce(_.unionAll(_)).distinct()
        val (newFacts, nNew) =
          gen.cut(derived.join(all, Seq("graph", "s", "p", "o"), "left_anti"))
        // `derived` reads the old store and this round's adopted closures
        if (nNew == 0) done = true
        else all = gen.advance(all.unionAll(newFacts), derived, newFacts)
        iter += 1
      }
      all
    }
  }

  /** Driver-local mirror of the distributed fixpoint — the SAME rule set,
    * graph conventions, and iteration structure over in-memory sets, used
    * below [[LocalCloseThreshold]]. Semantics are pinned against the
    * distributed path in InferencePathsSpec (set equality on every rule
    * family); the string '<' in the (inverse-)functional pair rules is
    * UTF-8 byte-wise to match Spark's binary string comparison.
    */
  private[graft] def materializeLocal(quads0: Seq[graft.model.Quad],
      maxIters: Int = 10,
      sameAsSubst: Boolean = true): Seq[graft.model.Quad] = {
    import graft.model.{Quad, RdfTerm}
    val schemaPreds = Set(Rdf.RdfsDomain, Rdf.RdfsRange, Rdf.RdfsSubClassOf,
      Rdf.RdfsSubPropertyOf, Rdf.OwlInverseOf, Rdf.OwlEquivalentClass,
      Rdf.OwlEquivalentProperty)
    val charClasses = Set(Rdf.OwlSymmetric, Rdf.OwlTransitive,
      Rdf.OwlFunctional, Rdf.OwlInverseFunctional)
    val v = vocabFromRows(quads0.iterator.collect {
      case q if schemaPreds(q.p) => (q.s, q.p, q.o.value)
      case q if q.p == Rdf.RdfType && charClasses(q.o.value) =>
        (q.s, q.p, q.o.value)
    }.toArray)

    def ltUtf8(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      x.length < y.length
    }

    // TRUE transitive fixpoint by PATH DOUBLING (r17 ADVICE: the old
    // 30-step single-edge extension could under-close chains longer than
    // ~31 hops per derive round, silently diverging from the distributed
    // path): composing the running closure with itself doubles reachable
    // path length per round, so ⌈log₂ chain⌉ rounds close ANY store the
    // ≤100k-quad threshold admits — driver-local and bounded.
    def close(edges: Set[(String, String)]): Set[(String, String)] = {
      var all = edges
      var grew = true
      while (grew) {
        val bySrc = all.groupBy(_._1)
        val add = all.flatMap { case (a, b) =>
          bySrc.getOrElse(b, Set.empty).map { case (_, c) => (a, c) } } -- all
        grew = add.nonEmpty
        all = all ++ add
      }
      all
    }

    def derive(all: Set[Quad]): Set[Quad] = {
      val out = Set.newBuilder[Quad]
      val sameAsPairs = all.iterator.collect {
        case q if q.p == Rdf.OwlSameAs && q.o.isIri => (q.s, q.o.value)
      }.toSeq
      val bySubj = sameAsPairs.groupBy(_._1)
      all.foreach { q =>
        v.domain.getOrElse(q.p, Nil).foreach(c =>
          out += Quad(q.graph, q.s, Rdf.RdfType, RdfTerm.iri(c)))
        if (q.o.isIri) v.range.getOrElse(q.p, Nil).foreach(c =>
          out += Quad(q.graph, q.o.value, Rdf.RdfType, RdfTerm.iri(c)))
        if (q.p == Rdf.RdfType)
          v.subClass.getOrElse(q.o.value, Nil).foreach(sup =>
            out += Quad(q.graph, q.s, Rdf.RdfType, RdfTerm.iri(sup)))
        v.subProp.getOrElse(q.p, Nil).foreach(sup =>
          out += Quad(q.graph, q.s, sup, q.o))
        if (q.o.isIri) v.inverses.foreach { case (p, inv) =>
          if (q.p == p)
            out += Quad(q.graph, q.o.value, inv, RdfTerm.iri(q.s)) }
        if (q.o.isIri && v.symmetric(q.p))
          out += Quad(q.graph, q.o.value, q.p, RdfTerm.iri(q.s))
        if (sameAsSubst) {
          // subject substitution: x sameAs y copies x's statements to y
          bySubj.getOrElse(q.s, Nil).foreach { case (_, y) =>
            if (!(q.p == Rdf.OwlSameAs && y == q.o.value))
              out += Quad(q.graph, y, q.p, q.o) }
          // object substitution (IRI positions only)
          if (q.o.isIri) bySubj.getOrElse(q.o.value, Nil).foreach {
            case (_, y) =>
              if (!(q.p == Rdf.OwlSameAs && q.s == y))
                out += Quad(q.graph, q.s, q.p, RdfTerm.iri(y)) }
        }
      }
      v.functional.foreach { p =>
        all.iterator.filter(q => q.p == p && q.o.isIri)
          .toSeq.groupBy(_.s).valuesIterator.foreach { qs =>
            val ovs = qs.map(_.o.value).distinct
            for (a <- ovs; b <- ovs; if ltUtf8(a, b))
              out += Quad(Rdf.DefaultGraph, a, Rdf.OwlSameAs, RdfTerm.iri(b))
          }
      }
      v.invFunctional.foreach { p =>
        all.iterator.filter(_.p == p)
          .toSeq.groupBy(_.o).valuesIterator.foreach { qs =>
            val ss = qs.map(_.s).distinct
            for (a <- ss; b <- ss; if ltUtf8(a, b))
              out += Quad(Rdf.DefaultGraph, a, Rdf.OwlSameAs, RdfTerm.iri(b))
          }
      }
      v.transitive.foreach { p =>
        val edges = all.iterator.collect {
          case q if q.p == p && q.o.isIri => (q.s, q.o.value) }.toSet
        close(edges).foreach { case (a, b) =>
          if (!(p == Rdf.OwlSameAs && a == b))
            out += Quad(Rdf.DefaultGraph, a, p, RdfTerm.iri(b)) }
      }
      out.result()
    }

    var all = quads0.toSet
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      val newFacts = derive(all) -- all
      if (newFacts.isEmpty) done = true else all = all ++ newFacts
      iter += 1
    }
    all.toSeq.sortBy(q => (q.graph, q.s, q.p, q.o.kind, q.o.value,
      q.o.dtype.getOrElse(""), q.o.lang.getOrElse("")))
  }
}
