package graft.shacl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DoubleType, StringType}
import graft.model.{Quad, Rdf, RdfTerm}

/** SHACL core validation over the quad store (reference surface: GraphDB
  * 10.x ships SHACL shape validation as a first-class repository feature,
  * `/root/reference/Dockerfile:2` — the engine validates data against a
  * shapes graph and returns a validation report).
  *
  * Spark-first shape: the SHAPES graph is a schema artifact (tens of
  * triples), so it is parsed DRIVER-side into a constraint model — the same
  * small-by-definition posture as `Inference`'s vocabulary collect. The DATA
  * graph is never collected: every constraint compiles to declarative
  * DataFrame ops over the quad columns —
  *
  *   - target resolution        → predicate-filtered scans (partition-prunable
  *                                when the store is written partitioned by `p`)
  *   - value extraction         → one predicate-IN scan per node shape and
  *                                pass, joined to the focus set on the focus
  *                                node (broadcast by default, see
  *                                [[Shacl.validate]])
  *   - value-level constraints  → pure column predicates (codegen'd), all of
  *                                a node shape's in ONE array-filter-explode
  *   - cardinality constraints  → ONE partial+final hash aggregate per node
  *                                shape over the focus and value rows, so
  *                                absent properties count 0
  *   - closed shapes            → one anti-filter over the focus's own quads
  *   - SPARQL constraints       → the `sh:select` text compiles through the
  *                                engine's own SPARQL compiler and runs ONCE
  *                                over the data; `$this` pre-binding is the
  *                                SET-BASED equivalent — solutions join to
  *                                the focus set on term equality, so a
  *                                million focus nodes cost one query + one
  *                                join, never a per-focus loop
  *
  * so a validation run at 100 TB is a handful of joins/aggregations, never a
  * driver loop over data rows.
  *
  * Scope (documented): SHACL core targets (`sh:targetClass`, `sh:targetNode`,
  * `sh:targetSubjectsOf`, `sh:targetObjectsOf`), property paths limited to a
  * single predicate, its inverse (`sh:inversePath`), a SEQUENCE of
  * predicates (an RDF-list `sh:path` — one chained join per step), an
  * `sh:alternativePath` list of predicates (one IN-list scan), or a
  * CLOSURE wrapper over a single predicate (`sh:zeroOrOnePath` /
  * `sh:oneOrMorePath` / `sh:zeroOrMorePath` — `+` evaluates through the
  * engine's own distributed property-path closure, zero-length
  * contributes the focus node itself; r12 cont.), the value/cardinality
  * constraint components listed in [[PropertyShape]], node-shape `sh:nodeKind`
  * and `sh:closed`/`sh:ignoredProperties`. `sh:class` follows
  * `rdfs:subClassOf`* (SHACL-instance semantics) with the subclass lattice
  * collected driver-side — vocabulary-sized, like `Inference`. Logical
  * components `sh:or/and/not/xone` are supported on PROPERTY shapes AND at
  * node-shape level over VALUE-level branches (each branch a pure column
  * predicate evaluated against the value node's — or the focus node's own —
  * term, so the whole composition stays codegen'd; `sh:xone` counts the
  * passing branches and requires exactly one); `sh:node` shape references
  * are supported to ARBITRARY acyclic depth on property shapes (the value
  * set re-validates as the referenced shape's focus nodes — literal values
  * violate; a CYCLIC reference chain errors, since recursive shape
  * validation is explicitly undefined by the SHACL spec). Property-PAIR
  * components `sh:equals`/`sh:disjoint` (full-term set algebra per focus,
  * anti/semi-joins) and `sh:lessThan`/`sh:lessThanOrEquals` (every value
  * pair must compare — numeric/temporal by the num shadow, plain strings
  * lexically, non-comparable pairs violate) are supported with a plain
  * predicate IRI as the other property. `sh:qualifiedValueShape` with
  * `sh:qualifiedMinCount`/`sh:qualifiedMaxCount` is supported where the
  * qualifying shape is a VALUE-level constraint block (the logical-branch
  * scope; sibling disjointness `sh:qualifiedValueShapesDisjoint` is out of
  * scope and errors loudly).
  * SPARQL-based constraints (`sh:sparql` carrying `sh:select` + optional
  * `sh:prefixes` with `sh:declare` blocks) are supported on NODE shapes and
  * on PROPERTY shapes (where `$PATH` in the select substitutes the shape's
  * SPARQL path text per the spec's validator convention): every solution
  * of the query whose `$this` term equals a focus node is a violation, and
  * `?value`/`?path` projections feed the report columns. CUSTOM constraint
  * components (SHACL-SPARQL §6) are supported on property shapes:
  * `sh:ConstraintComponent` declarations with `sh:parameter`s whose values
  * substitute as constant terms into the component's validator — SELECT
  * validators ride the property-shape `sh:sparql` machinery; ASK
  * validators with FILTER-only bodies over `$value` compile to codegen'd
  * column predicates (row-level, so the streaming validator gets them
  * too), and ASK bodies with TRIPLE PATTERNS (late r12) evaluate
  * SET-BASED in the batch validator: `ASK { P }` rewrites as a SELECT
  * projecting the pre-bound `$this`/`$value` vars, runs ONCE over the
  * data, and violations are the candidate pairs absent from the solution
  * set — one query + one anti-join, never per-pair execution (`$PATH`
  * substitutes as in SELECT validators; `$this` must appear). A bare
  * `sh:ask` directly on an `sh:sparql` constraint node still errors (the
  * spec requires `sh:select` there).
  */
/** Thrown when a SHACL-configured repository rejects a transaction: carries
  * a bounded sample of the violation rows (focus, path, component).
  */
final class ShaclViolationException(
    val sample: Seq[(String, String, String)], total: Long)
  extends RuntimeException(
    s"SHACL validation failed: $total violation(s), e.g. " +
      sample.take(3).map { case (f, p, c) => s"$c at <$f> path <$p>" }
        .mkString("; "))

object Shacl {

  val Ns = "http://www.w3.org/ns/shacl#"
  private def sh(local: String): String = Ns + local

  /** A VALUE-level constraint conjunction — the branch unit of the logical
    * components (`sh:or/and/not` lists hold blocks of these). Value-level
    * means: decidable per value node by a pure column predicate, no join
    * (so no `sh:class`, no cardinality, no `sh:hasValue`).
    */
  final case class ValueConstraints(
      datatype: Option[String],
      nodeKind: Option[String],
      pattern: Option[String],
      patternFlags: Option[String],
      minInclusive: Option[Double],
      maxInclusive: Option[Double],
      minExclusive: Option[Double],
      maxExclusive: Option[Double],
      minLength: Option[Int],
      maxLength: Option[Int],
      in: Seq[RdfTerm])

  /** One property constraint block (`sh:property [ … ]`). */
  final case class PropertyShape(
      id: String,
      path: String,
      inverse: Boolean,
      minCount: Option[Int],
      maxCount: Option[Int],
      datatype: Option[String],
      clazz: Option[String],
      nodeKind: Option[String],
      pattern: Option[String],
      patternFlags: Option[String],
      minInclusive: Option[Double],
      maxInclusive: Option[Double],
      minExclusive: Option[Double],
      maxExclusive: Option[Double],
      minLength: Option[Int],
      maxLength: Option[Int],
      in: Seq[RdfTerm],
      hasValue: Option[RdfTerm],
      uniqueLang: Boolean,
      equalsP: Option[String] = None,
      disjointP: Option[String] = None,
      lessThanP: Option[String] = None,
      lessThanOrEqualsP: Option[String] = None,
      qualified: Option[ValueConstraints] = None,
      qualifiedMinCount: Option[Int] = None,
      qualifiedMaxCount: Option[Int] = None,
      sparql: Seq[SparqlConstraint] = Nil,
      custom: Seq[CustomConstraint] = Nil,
      or: Seq[ValueConstraints] = Nil,
      and: Seq[ValueConstraints] = Nil,
      not: Option[ValueConstraints] = None,
      xone: Seq[ValueConstraints] = Nil,
      severity: String = "sh:Violation",
      message: Option[String] = None,
      node: Option[String] = None,
      seq: Seq[String] = Nil,
      alt: Seq[String] = Nil,
      closure: Option[(String, String)] = None) // ("?"|"+"|"*", predicate)

  /** One `sh:sparql` constraint: the executable SELECT text (prefix
    * declarations from `sh:prefixes` already prepended) and its report
    * message. Violations are the query's solutions restricted to the
    * shape's focus nodes via `$this`. `component` is what the report's
    * component column carries — the custom constraint component IRI when
    * the constraint was instantiated from one.
    */
  final case class SparqlConstraint(select: String, message: Option[String],
      component: String = "sh:SPARQLConstraintComponent")

  /** A SPARQL-based custom constraint component (SHACL-SPARQL §6, r12
    * cont.): declared `sh:ConstraintComponent` with `sh:parameter`s and a
    * validator. Scope (documented): ASK validators whose body is
    * FILTER-only over `$value` and the parameters (the value-range/regex
    * shape of real components — compiled to a codegen'd column predicate,
    * the same posture as the built-in value constraints), and SELECT
    * validators (ride the property-shape `sh:sparql` machinery). Parameter
    * values are CONSTANTS per usage and substitute textually as SPARQL
    * terms before parsing.
    */
  final case class CustomComponent(
      iri: String,
      params: Seq[(String, String, Boolean)], // (path IRI, local name, optional)
      ask: Option[String],
      select: Option[String],
      message: Option[String])

  /** One INSTANTIATED custom constraint on a property shape: parameter
    * values already substituted into the validator text.
    */
  final case class CustomConstraint(component: String, isAsk: Boolean,
      text: String, message: Option[String])

  final case class NodeShape(
      id: String,
      targetClass: Seq[String],
      targetNode: Seq[String],
      targetSubjectsOf: Seq[String],
      targetObjectsOf: Seq[String],
      nodeKind: Option[String],
      closed: Boolean,
      ignored: Seq[String],
      properties: Seq[PropertyShape],
      severity: String = "sh:Violation",
      message: Option[String] = None,
      or: Seq[ValueConstraints] = Nil,
      and: Seq[ValueConstraints] = Nil,
      not: Option[ValueConstraints] = None,
      xone: Seq[ValueConstraints] = Nil,
      sparql: Seq[SparqlConstraint] = Nil)

  // ---------------------------------------------------------------- parsing

  /** Parse a shapes graph (as quads) into the driver-side constraint model.
    * Shapes graphs are schema-sized; the caller typically produces `quads`
    * with `TurtleReader.parse(shapesTtl)`.
    */
  def parseShapes(quads: Seq[Quad]): Seq[NodeShape] = {
    val bySubj: Map[String, Seq[Quad]] = quads.groupBy(_.s)
    def objs(s: String, p: String): Seq[RdfTerm] =
      bySubj.getOrElse(s, Nil).filter(_.p == p).map(_.o)
    def obj(s: String, p: String): Option[RdfTerm] = objs(s, p).headOption
    def iris(s: String, p: String): Seq[String] =
      objs(s, p).filter(_.isIri).map(_.value)

    // Shapes documents are UNTRUSTED input: a cyclic rdf:rest chain must
    // error (not recurse forever), and a node lacking rdf:rest must error
    // (not silently truncate the list).
    def rdfList(head: RdfTerm): Seq[RdfTerm] = {
      val out = Seq.newBuilder[RdfTerm]
      val seen = scala.collection.mutable.Set.empty[String]
      var cur = head
      while (!(cur.isIri && cur.value == Rdf.RdfNil)) {
        if (!seen.add(cur.value))
          throw new IllegalArgumentException(
            s"SHACL: cyclic rdf:List at node ${cur.value}")
        out ++= obj(cur.value, Rdf.RdfFirst)
        cur = obj(cur.value, Rdf.RdfRest).getOrElse(
          throw new IllegalArgumentException(
            s"SHACL: rdf:List node ${cur.value} has no rdf:rest"))
      }
      out.result()
    }

    def intOf(t: RdfTerm): Int = t.num.map(_.toInt).getOrElse(
      throw new IllegalArgumentException(s"SHACL: expected integer, got ${t.value}"))
    def numOf(t: RdfTerm): Double = t.num.getOrElse(
      throw new IllegalArgumentException(s"SHACL: expected number, got ${t.value}"))

    def sevOf(id: String): String = obj(id, sh("severity")).filter(_.isIri)
      .map(t => if (t.value.startsWith(Ns)) "sh:" + t.value.stripPrefix(Ns)
                else t.value)
      .getOrElse("sh:Violation")
    def msgOf(id: String): Option[String] = obj(id, sh("message")).map(_.value)

    // sh:sparql (SHACL-SPARQL): the constraint node carries sh:select text
    // plus optional sh:prefixes → an ontology whose sh:declare blocks each
    // define one (sh:prefix, sh:namespace) pair; those become PREFIX lines
    // prepended to the select. A bare sh:ask HERE is an error per spec
    // (sh:sparql requires sh:select) — ASK validators live on custom
    // constraint COMPONENTS, where both forms are supported.
    def parsePrefixLines(t: RdfTerm): String =
      objs(t.value, sh("declare")).map { d =>
        val pfx = obj(d.value, sh("prefix")).map(_.value).getOrElse(
          throw new IllegalArgumentException(
            s"SHACL: sh:declare block ${d.value} has no sh:prefix"))
        val ns = obj(d.value, sh("namespace")).map(_.value).getOrElse(
          throw new IllegalArgumentException(
            s"SHACL: sh:declare block ${d.value} has no sh:namespace"))
        s"PREFIX $pfx: <$ns>"
      }.mkString("", "\n", "\n")
    def parseSparqlConstraint(t: RdfTerm): SparqlConstraint = {
      if (obj(t.value, sh("ask")).isDefined)
        throw new IllegalArgumentException(
          "SHACL: sh:ask constraint validators are out of scope (sh:select only)")
      val select = obj(t.value, sh("select")).map(_.value).getOrElse(
        throw new IllegalArgumentException(
          s"SHACL: sh:sparql constraint ${t.value} has no sh:select"))
      val prefixes = obj(t.value, sh("prefixes"))
        .map(parsePrefixLines).getOrElse("")
      SparqlConstraint(prefixes + select, msgOf(t.value))
    }

    // ---- custom constraint components (SHACL-SPARQL §6, r12 cont.):
    // sh:ConstraintComponent declarations with sh:parameter and an
    // ASK/SELECT validator; a property shape carrying the parameter
    // predicates instantiates the component with the parameter values
    // substituted as constant SPARQL terms.
    // Literal lexical forms escape \ " and the line controls before
    // quoting — an unescaped quote in a parameter value would otherwise
    // yield a malformed (or injected) validator query (r12 ADVICE).
    def quoteLex(v: String): String =
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\r", "\\r") + "\""
    def termText(t: RdfTerm): String =
      if (t.isIri) s"<${t.value}>"
      else if (t.kind == Rdf.KindBlank) throw new IllegalArgumentException(
        "SHACL: blank-node parameter values cannot substitute into validators")
      else t.lang match {
        case Some(lg) => quoteLex(t.value) + "@" + lg
        case None => t.dtype match {
          case Some(dt) => quoteLex(t.value) + "^^<" + dt + ">"
          case None => quoteLex(t.value)
        }
      }
    val componentIds = quads.collect {
      case Quad(_, s, Rdf.RdfType, o)
        if o.isIri && o.value == sh("ConstraintComponent") => s
    }.distinct
    val components: Seq[CustomComponent] = componentIds.map { cid =>
      val params = objs(cid, sh("parameter")).map { p =>
        val path = obj(p.value, sh("path")).filter(_.isIri).map(_.value)
          .getOrElse(throw new IllegalArgumentException(
            s"SHACL: sh:parameter of $cid needs an IRI sh:path"))
        val local = path.split(Array('#', '/')).last
        (path, local, obj(p.value, sh("optional")).exists(_.value == "true"))
      }
      if (params.isEmpty) throw new IllegalArgumentException(
        s"SHACL: constraint component $cid declares no sh:parameter")
      val v = obj(cid, sh("propertyValidator")).orElse(obj(cid, sh("validator")))
        .getOrElse(throw new IllegalArgumentException(
          s"SHACL: constraint component $cid has no sh:validator / " +
            "sh:propertyValidator"))
      val prefixes = obj(v.value, sh("prefixes"))
        .map(parsePrefixLines).getOrElse("")
      val ask = obj(v.value, sh("ask")).map(prefixes + _.value)
      val sel = obj(v.value, sh("select")).map(prefixes + _.value)
      if (ask.isDefined == sel.isDefined) throw new IllegalArgumentException(
        s"SHACL: validator of $cid needs exactly one of sh:ask / sh:select")
      CustomComponent(cid, params, ask, sel, msgOf(v.value).orElse(msgOf(cid)))
    }
    def instantiate(id: String): Seq[CustomConstraint] =
      components.flatMap { comp =>
        val bound = comp.params.flatMap { case (path, local, _) =>
          obj(id, path).map(t => local -> t) }
        if (bound.isEmpty) None
        else {
          val missing = comp.params.filter { case (_, local, opt) =>
            !opt && !bound.exists(_._1 == local) }
          if (missing.nonEmpty) throw new IllegalArgumentException(
            s"SHACL: component ${comp.iri} at $id is missing mandatory " +
              s"parameter(s) ${missing.map(_._2).mkString(", ")}")
          val raw = comp.ask.orElse(comp.select).get
          val text = bound.foldLeft(raw) { case (t, (local, term)) =>
            t.replaceAll("\\$" + java.util.regex.Pattern.quote(local) + "\\b",
              java.util.regex.Matcher.quoteReplacement(termText(term)))
          }
          Some(CustomConstraint(comp.iri, comp.ask.isDefined, text,
            comp.message))
        }
      }

    // Logical-branch blocks are restricted to VALUE-level constraints —
    // decidable per value node without a join (documented scope).
    val valueLevel = Seq("datatype", "nodeKind", "pattern", "flags",
      "minInclusive", "maxInclusive", "minExclusive", "maxExclusive",
      "minLength", "maxLength", "in").map(sh)
    def parseValueConstraints(id: String): ValueConstraints = {
      bySubj.getOrElse(id, Nil).find(q => !valueLevel.contains(q.p)).foreach { q =>
        throw new IllegalArgumentException(
          s"SHACL: sh:or/and/not branches admit only value-level constraints, got <${q.p}>")
      }
      ValueConstraints(
        datatype = obj(id, sh("datatype")).filter(_.isIri).map(_.value),
        nodeKind = obj(id, sh("nodeKind")).filter(_.isIri).map(_.value),
        pattern = obj(id, sh("pattern")).map(_.value),
        patternFlags = obj(id, sh("flags")).map(_.value),
        minInclusive = obj(id, sh("minInclusive")).map(numOf),
        maxInclusive = obj(id, sh("maxInclusive")).map(numOf),
        minExclusive = obj(id, sh("minExclusive")).map(numOf),
        maxExclusive = obj(id, sh("maxExclusive")).map(numOf),
        minLength = obj(id, sh("minLength")).map(intOf),
        maxLength = obj(id, sh("maxLength")).map(intOf),
        in = obj(id, sh("in")).map(rdfList).getOrElse(Nil))
    }

    def parseProperty(id: String): PropertyShape = {
      val pathTerm = obj(id, sh("path")).getOrElse(
        throw new IllegalArgumentException(s"SHACL: property shape $id has no sh:path"))
      // A single predicate IRI, a bnode carrying sh:inversePath <p>, an
      // sh:alternativePath list of predicates, a closure wrapper
      // (sh:zeroOrOnePath / sh:oneOrMorePath / sh:zeroOrMorePath over one
      // predicate — r12 cont.), or a LIST head — a SEQUENCE path of plain
      // predicates (values chain through every step; displayed p1/p2).
      val (path, inverse, seqPath, altPath, closurePath) =
        if (pathTerm.isIri)
          (pathTerm.value, false, Nil, Nil, None)
        else obj(pathTerm.value, sh("inversePath")) match {
          case Some(inv) if inv.isIri => (inv.value, true, Nil, Nil, None)
          case _ if obj(pathTerm.value, sh("alternativePath")).isDefined =>
            val alts = rdfList(obj(pathTerm.value, sh("alternativePath")).get)
            require(alts.size >= 2 && alts.forall(_.isIri),
              s"SHACL: sh:alternativePath needs >= 2 predicate IRIs ($id)")
            (alts.map(_.value).mkString("|"), false, Nil,
              alts.map(_.value), None)
          case _ if Seq("zeroOrOnePath", "oneOrMorePath", "zeroOrMorePath")
              .exists(k => obj(pathTerm.value, sh(k)).isDefined) =>
            val (kind, inner) = Seq("zeroOrOnePath" -> "?",
              "oneOrMorePath" -> "+", "zeroOrMorePath" -> "*")
              .flatMap { case (k, sym) =>
                obj(pathTerm.value, sh(k)).map(t => (sym, t)) }.head
            require(inner.isIri,
              s"SHACL: closure paths wrap a single predicate IRI ($id)")
            (inner.value + (kind match { case "?" => "?"; case "+" => "+"
              case _ => "*" }), false, Nil, Nil, Some((kind, inner.value)))
          case _ if obj(pathTerm.value, Rdf.RdfFirst).isDefined =>
            val steps = rdfList(pathTerm)
            require(steps.size >= 2 && steps.forall(_.isIri),
              s"SHACL: a sequence path needs >= 2 predicate IRIs ($id)")
            (steps.map(_.value).mkString("/"), false, steps.map(_.value),
              Nil, None)
          case _ => throw new IllegalArgumentException(
            s"SHACL: only predicate, sh:inversePath, sh:alternativePath, " +
              s"closure and sequence paths are supported ($id)")
        }
      val custom0 = instantiate(id)
      val ps = PropertyShape(
        id = id,
        path = path,
        inverse = inverse,
        seq = seqPath,
        alt = altPath,
        closure = closurePath,
        minCount = obj(id, sh("minCount")).map(intOf),
        maxCount = obj(id, sh("maxCount")).map(intOf),
        datatype = obj(id, sh("datatype")).filter(_.isIri).map(_.value),
        clazz = obj(id, sh("class")).filter(_.isIri).map(_.value),
        nodeKind = obj(id, sh("nodeKind")).filter(_.isIri).map(_.value),
        pattern = obj(id, sh("pattern")).map(_.value),
        patternFlags = obj(id, sh("flags")).map(_.value),
        minInclusive = obj(id, sh("minInclusive")).map(numOf),
        maxInclusive = obj(id, sh("maxInclusive")).map(numOf),
        minExclusive = obj(id, sh("minExclusive")).map(numOf),
        maxExclusive = obj(id, sh("maxExclusive")).map(numOf),
        minLength = obj(id, sh("minLength")).map(intOf),
        maxLength = obj(id, sh("maxLength")).map(intOf),
        in = obj(id, sh("in")).map(rdfList).getOrElse(Nil),
        hasValue = obj(id, sh("hasValue")),
        uniqueLang = obj(id, sh("uniqueLang")).exists(_.value == "true"),
        // property-PAIR components (r12 cont.): the other property is a
        // plain predicate IRI read at the SAME focus node
        equalsP = obj(id, sh("equals")).filter(_.isIri).map(_.value),
        disjointP = obj(id, sh("disjoint")).filter(_.isIri).map(_.value),
        lessThanP = obj(id, sh("lessThan")).filter(_.isIri).map(_.value),
        lessThanOrEqualsP =
          obj(id, sh("lessThanOrEquals")).filter(_.isIri).map(_.value),
        // sh:qualifiedValueShape (r12 cont.): the qualifying shape is a
        // VALUE-level constraint block (same scope as the logical
        // branches); at least one of the counts must accompany it
        qualified = obj(id, sh("qualifiedValueShape"))
          .map(t => parseValueConstraints(t.value)),
        qualifiedMinCount = obj(id, sh("qualifiedMinCount")).map(intOf),
        qualifiedMaxCount = obj(id, sh("qualifiedMaxCount")).map(intOf),
        sparql = objs(id, sh("sparql")).filterNot(t =>
          obj(t.value, sh("deactivated")).exists(_.value == "true"))
          .map(parseSparqlConstraint) ++
          // SELECT validators of instantiated custom components ride the
          // same property-shape sh:sparql machinery, reporting the
          // component's own IRI
          custom0.filterNot(_.isAsk)
            .map(c => SparqlConstraint(c.text, c.message, c.component)),
        custom = custom0.filter(_.isAsk),
        or = obj(id, sh("or")).map(rdfList).getOrElse(Nil)
          .map(t => parseValueConstraints(t.value)),
        and = obj(id, sh("and")).map(rdfList).getOrElse(Nil)
          .map(t => parseValueConstraints(t.value)),
        not = obj(id, sh("not")).map(t => parseValueConstraints(t.value)),
        xone = obj(id, sh("xone")).map(rdfList).getOrElse(Nil)
          .map(t => parseValueConstraints(t.value)),
        severity = sevOf(id),
        message = msgOf(id),
        node = obj(id, sh("node")).map { t =>
          // Named OR anonymous (r18 — r17 refused bnodes loudly): shape
          // identity is the IRI or the bnode label; the referenced shape
          // is guaranteed parsed by the implicit-shape collect above, and
          // the validator's `seen` chain guard catches cycles through
          // bnode shapes identically. A literal object is nonsense.
          if (!t.isIri && t.kind != Rdf.KindBlank)
            throw new IllegalArgumentException(
              s"SHACL: sh:node at $id must reference a shape (IRI or " +
                "blank node), got a literal")
          t.value
        })
      if (ps.qualified.isDefined &&
          ps.qualifiedMinCount.isEmpty && ps.qualifiedMaxCount.isEmpty)
        throw new IllegalArgumentException(
          s"SHACL: sh:qualifiedValueShape at $id needs sh:qualifiedMinCount " +
            "and/or sh:qualifiedMaxCount")
      if (ps.qualified.isEmpty &&
          (ps.qualifiedMinCount.isDefined || ps.qualifiedMaxCount.isDefined))
        throw new IllegalArgumentException(
          s"SHACL: sh:qualifiedMin/MaxCount at $id needs sh:qualifiedValueShape")
      if (obj(id, sh("qualifiedValueShapesDisjoint")).exists(_.value == "true"))
        throw new IllegalArgumentException(
          s"SHACL: sh:qualifiedValueShapesDisjoint is out of scope ($id)")
      ps
    }

    val shapeIds = quads.collect {
      case Quad(_, s, Rdf.RdfType, o) if o.isIri && o.value == sh("NodeShape") => s
    }.distinct

    // IMPLICIT node shapes (r18): per SHACL §2.1, any object of sh:node IS
    // a node shape whether or not it is declared `a sh:NodeShape` — and
    // real-world shapes graphs inline nested shapes as BLANK nodes
    // (`sh:node [ sh:property [ … ] ]`), which GraphDB's RDF4J validation
    // accepts (r17 verdict: the most user-visible refusal left). One flat
    // collect covers every nesting depth, because a depth-k anonymous
    // shape is itself the object of an sh:node quad in the same document.
    // Implicit shapes carry no targets, so the top-level validate loop
    // skips them (targets.isEmpty → Nil); they exist only as sh:node
    // reference targets, resolved by id = IRI or bnode label.
    val implicitIds = quads.collect {
      case Quad(_, _, p, o) if p == sh("node") &&
        (o.isIri || o.kind == Rdf.KindBlank) => o.value
    }.distinct.filterNot(shapeIds.contains)

    (shapeIds ++ implicitIds).filterNot(id =>
      obj(id, sh("deactivated")).exists(_.value == "true")).map { id =>
      Seq("node").foreach { k =>
        if (objs(id, sh(k)).nonEmpty) throw new IllegalArgumentException(
          s"SHACL: sh:$k is supported on property shapes only (documented scope)")
      }
      NodeShape(
        id = id,
        targetClass = iris(id, sh("targetClass")),
        targetNode = objs(id, sh("targetNode")).map(_.value),
        targetSubjectsOf = iris(id, sh("targetSubjectsOf")),
        targetObjectsOf = iris(id, sh("targetObjectsOf")),
        nodeKind = obj(id, sh("nodeKind")).filter(_.isIri).map(_.value),
        closed = obj(id, sh("closed")).exists(_.value == "true"),
        ignored = obj(id, sh("ignoredProperties")).map(rdfList)
          .getOrElse(Nil).filter(_.isIri).map(_.value),
        properties = objs(id, sh("property")).map(t => parseProperty(t.value)),
        severity = sevOf(id),
        message = msgOf(id),
        // node-shape-level logic (r12): branches are VALUE-level
        // constraints evaluated against the focus node's own term
        or = obj(id, sh("or")).map(rdfList).getOrElse(Nil)
          .map(t => parseValueConstraints(t.value)),
        and = obj(id, sh("and")).map(rdfList).getOrElse(Nil)
          .map(t => parseValueConstraints(t.value)),
        not = obj(id, sh("not")).map(t => parseValueConstraints(t.value)),
        xone = obj(id, sh("xone")).map(rdfList).getOrElse(Nil)
          .map(t => parseValueConstraints(t.value)),
        sparql = objs(id, sh("sparql")).filterNot(t =>
          obj(t.value, sh("deactivated")).exists(_.value == "true"))
          .map(parseSparqlConstraint))
    }
  }

  // ------------------------------------------------------------- validation

  private val nullS = lit(null).cast(StringType)

  // ---- value-level predicate builders over a term-struct column: the ONE
  // implementation both the batch validator and the streaming row-level
  // validator compile from, so their semantics can never drift.

  private def kindOkC(o: Column, nk: String): Column = {
    val isLit = o.getField("kind") === Rdf.KindLiteral
    val isIri = o.getField("kind") === Rdf.KindIri
    val isBlank = o.getField("kind") === Rdf.KindBlank
    nk match {
      case k if k == sh("IRI") => isIri
      case k if k == sh("Literal") => isLit
      case k if k == sh("BlankNode") => isBlank
      case k if k == sh("BlankNodeOrIRI") => isBlank || isIri
      case k if k == sh("IRIOrLiteral") => isIri || isLit
      case k if k == sh("BlankNodeOrLiteral") => isBlank || isLit
      case other => throw new IllegalArgumentException(
        s"SHACL: unknown sh:nodeKind <$other>")
    }
  }

  private def termEqC(o: Column, t: RdfTerm): Column =
    o.getField("kind") === t.kind && o.getField("value") === t.value &&
      o.getField("dtype") <=> t.dtype.map(lit(_)).getOrElse(nullS) &&
      o.getField("lang") <=> t.lang.map(lit(_)).getOrElse(nullS)

  /** Full-term equality of two term-struct columns (the numeric shadow
    * follows from the other four fields).
    */
  private def termEq(a: Column, b: Column): Column =
    a.getField("kind") === b.getField("kind") &&
      a.getField("value") === b.getField("value") &&
      (a.getField("dtype") <=> b.getField("dtype")) &&
      (a.getField("lang") <=> b.getField("lang"))

  // RDF 1.1: a plain literal IS xsd:string; lang-tagged is rdf:langString.
  private def effDtypeC(o: Column): Column =
    when(o.getField("kind") =!= Rdf.KindLiteral, nullS)
      .when(o.getField("lang").isNotNull,
        lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"))
      .otherwise(coalesce(o.getField("dtype"), lit(Rdf.XsdString)))

  private def regexOf(pattern: String, flags: Option[String]): String =
    flags match {
      case Some(f) if f.contains("i") => s"(?i)$pattern"
      case _ => pattern
    }

  /** Null-free pass-predicate of each component of one value-level block,
    * by component name. Range components compare by VALUE (numeric/temporal
    * shadow) with non-comparable → fail (the coalesce keeps SQL's NULL from
    * silently dropping the row); `sh:pattern`/length fail blank nodes per
    * spec.
    */
  private def componentTests(vc: ValueConstraints, o: Column)
      : Seq[(String, Column)] = {
    val lex = o.getField("value")
    val isLit = o.getField("kind") === Rdf.KindLiteral
    val isBlank = o.getField("kind") === Rdf.KindBlank
    val num = o.getField("num")
    def c(name: String) = s"sh:${name}ConstraintComponent"
    vc.datatype.map(dt => c("Datatype") ->
      coalesce(isLit && effDtypeC(o) === dt, lit(false))).toSeq ++
    vc.nodeKind.map(nk => c("NodeKind") -> kindOkC(o, nk)).toSeq ++
    vc.pattern.map(p => c("Pattern") ->
      (!isBlank && lex.rlike(regexOf(p, vc.patternFlags)))).toSeq ++
    vc.minLength.map(n => c("MinLength") -> (!isBlank && length(lex) >= n)).toSeq ++
    vc.maxLength.map(n => c("MaxLength") -> (!isBlank && length(lex) <= n)).toSeq ++
    vc.minInclusive.map(n => c("MinInclusive") -> coalesce(num >= n, lit(false))).toSeq ++
    vc.maxInclusive.map(n => c("MaxInclusive") -> coalesce(num <= n, lit(false))).toSeq ++
    vc.minExclusive.map(n => c("MinExclusive") -> coalesce(num > n, lit(false))).toSeq ++
    vc.maxExclusive.map(n => c("MaxExclusive") -> coalesce(num < n, lit(false))).toSeq ++
    (if (vc.in.isEmpty) Nil
     else Seq(c("In") -> vc.in.map(termEqC(o, _)).reduce(_ || _)))
  }

  /** Null-free pass-predicate of one value-level branch — the unit the
    * logical components compose over.
    */
  private def passesC(o: Column, vc: ValueConstraints): Column =
    componentTests(vc, o).map(_._2).reduceOption(_ && _).getOrElse(lit(true))

  /** Violation predicates of the logical components over a term column:
    * sh:or/and/not, and sh:xone (exactly ONE branch passes, counted).
    */
  private def logicChecks(or: Seq[ValueConstraints], and: Seq[ValueConstraints],
      not: Option[ValueConstraints], xone: Seq[ValueConstraints], o: Column)
      : Seq[(String, Column)] =
    (if (or.isEmpty) Nil else Seq("sh:OrConstraintComponent" ->
      !or.map(passesC(o, _)).reduce(_ || _))) ++
    (if (and.isEmpty) Nil else Seq("sh:AndConstraintComponent" ->
      !and.map(passesC(o, _)).reduce(_ && _))) ++
    not.map(vc => "sh:NotConstraintComponent" -> passesC(o, vc)).toSeq ++
    (if (xone.isEmpty) Nil else Seq("sh:XoneConstraintComponent" ->
      (xone.map(vc => when(passesC(o, vc), 1).otherwise(0))
        .reduce(_ + _) =!= 1)))

  /** The VALUE-level violation predicates of one property shape —
    * `(component, bad)` pairs over a term-struct column.
    */
  private[shacl] def valueChecks(ps: PropertyShape, o: Column): Seq[(String, Column)] =
    componentTests(ValueConstraints(ps.datatype, ps.nodeKind, ps.pattern,
      ps.patternFlags, ps.minInclusive, ps.maxInclusive, ps.minExclusive,
      ps.maxExclusive, ps.minLength, ps.maxLength, ps.in), o)
      .map { case (component, pass) => component -> !pass } ++
    logicChecks(ps.or, ps.and, ps.not, ps.xone, o)

  /** Node-shape-level `sh:nodeKind` and logic over the focus node's own
    * term. Unknown kinds THROW in [[kindOkC]] — a silent all-violate would
    * wrongly reject valid commits through Repositories' transactional gate.
    */
  private def nodeChecks(shape: NodeShape, fo: Column): Seq[(String, Column)] =
    shape.nodeKind.map(nk =>
      "sh:NodeKindConstraintComponent" -> !kindOkC(fo, nk)).toSeq ++
    logicChecks(shape.or, shape.and, shape.not, shape.xone, fo)

  /** The SPARQL text of a property shape's path — what `$PATH` substitutes
    * in a validator.
    */
  private def pathText(ps: PropertyShape): String =
    if (ps.seq.nonEmpty) ps.seq.map(p => s"<$p>").mkString("/")
    else if (ps.alt.nonEmpty) ps.alt.map(p => s"<$p>").mkString("|")
    else ps.closure match {
      case Some((k, p0)) => s"<$p0>$k"
      case None => if (ps.inverse) s"^<${ps.path}>" else s"<${ps.path}>"
    }

  /** Parse an ASK validator body into boolean column fns. Documented
    * scope: FILTER-only bodies (`ASK { FILTER(...) ... }`) — the
    * value-range/regex shape of real custom components, compiled to
    * codegen'd predicates like the built-in value constraints. None for a
    * body with triple patterns, which evaluates set-based in the batch
    * validator.
    */
  private def filterOnlyAsk(text: String): Option[Seq[graft.algebra.E.Fn]] = {
    import graft.algebra.{FilterOp, Op, Unit0}
    graft.parser.SparqlParser.parse(text) match {
      case graft.parser.SparqlParser.AskQ(op) =>
        def strip(o: Op, acc: List[graft.algebra.E.Fn])
            : (Op, List[graft.algebra.E.Fn]) = o match {
          case FilterOp(f, ch) => strip(ch, f :: acc)
          case other => (other, acc)
        }
        strip(graft.algebra.Prepared.unwrap(op), Nil) match {
          case (Unit0, fns) if fns.nonEmpty => Some(fns)
          case _ => None
        }
      case _ => throw new IllegalArgumentException(
        "SHACL: sh:ask validator text must be an ASK query")
    }
  }

  /** The row-level checks of one property shape over a value-term column:
    * [[valueChecks]] plus its FILTER-only custom ASK validators, as
    * `(component, bad, message)`. An ASK validator conforms iff every
    * FILTER evaluates true (`$value` = the value node; parameters were
    * substituted as constants). Pattern-body validators are not row-level
    * and are left out.
    */
  private def rowChecks(ps: PropertyShape, o: Column)
      : Seq[(String, Column, Option[String])] =
    valueChecks(ps, o).map { case (c, bad) => (c, bad, ps.message) } ++
    ps.custom.flatMap { cc =>
      filterOnlyAsk(cc.text.replace("$PATH", pathText(ps))).map { fns =>
        val res: String => Column = {
          case "value" => o
          case other => throw new IllegalArgumentException(
            s"SHACL: FILTER-only ASK validators may reference only " +
              s"$$value, got ?$other (use a pattern body or a SELECT " +
              "validator for $this correlation)")
        }
        (cc.component, !coalesce(fns.map(_(res)).reduce(_ && _), lit(false)),
          cc.message.orElse(ps.message))
      }
    }

  /** One check of a violation-row pass: a row for which `violated` holds
    * yields one report row with these fields.
    */
  private final case class Check(violated: Column, path: Column,
      component: String, value: Column, shape: String, severity: String,
      message: Option[String])

  /** The violation rows of `checks` over `rows` in ONE array-explode-filter
    * (no join, no aggregation, stream-safe; the explode and the filter stay
    * in generated code, where a `filter` lambda over the array would be
    * interpreted): the `keep` columns plus the hit's `result_path,
    * component, value, shape, severity, message`. Both validators build
    * their value-level rows here.
    */
  private def violationRows(rows: DataFrame, keep: Seq[String],
      checks: Seq[Check]): DataFrame = {
    val hits = array(checks.map(c => when(c.violated, struct(
      c.path.as("result_path"), lit(c.component).as("component"),
      c.value.as("value"), lit(c.shape).as("shape"),
      lit(c.severity).as("severity"),
      c.message.map(lit(_)).getOrElse(nullS).as("message")))): _*)
    rows.select(keep.map(col) :+ explode(hits).as("_h"): _*)
      .filter(col("_h").isNotNull)
      .select(keep.map(col) :+ col("_h.*"): _*)
  }

  /** Validation report: one row per violation —
    * `(focus, result_path, component, value, shape, severity, message)`.
    * `component` is the spec constraint-component name
    * (`sh:MinCountConstraintComponent` …); `value` is the offending value
    * node's lexical form (null for the counting components, where no single
    * value is at fault). Empty report ⇔ data conforms.
    *
    * Each node shape compiles to two passes over tagged rows
    * `(focus, fo, tag, o)`: focus rows (tag -1, `fo` the focus node's term)
    * and the value rows of its property shapes (tag = the property shape's
    * index, `fo` null). Every predicate and alternative path of a pass is
    * read by one `p IN (…)` scan, semi-joined to the targets (no distinct,
    * so no shuffle); an inverse, sequence or closure path adds its own
    * tagged frame.
    *   - VALUE pass: every value-level check of the property shapes, and the
    *     node-level `sh:nodeKind`/logic over the focus rows, in one
    *     array-filter-explode ([[violationRows]], shared with
    *     [[rowValidator]]).
    *   - COUNTING pass: one `groupBy(focus, fo)` over the focus rows and the
    *     counted property shapes' value rows, with one count column per
    *     `sh:minCount`/`sh:maxCount`, `sh:hasValue` and qualified count,
    *     exploded the same way. The focus rows make an absent property count
    *     0; they keep `fo` only for a LITERAL focus node (possible via
    *     `sh:targetObjectsOf`), which has no value rows by definition and so
    *     counts 0 even when an IRI subject is spelled the same.
    * `sh:class`, `sh:node`, the property pairs, `sh:uniqueLang`,
    * `sh:closed`, pattern-body ASK validators and `sh:sparql` need other
    * data and keep one frame each.
    *
    * @param broadcastFocus hint the targets to the BUILD side of every
    *   focus join (default). Focus sets are target scans — usually
    *   dimension-sized against fact-sized data, where the hint removes all
    *   shuffles. Pass `false` when a shape's target is itself fact-sized
    *   (e.g. `sh:targetClass` over the biggest table): the joins then
    *   shuffle on the focus key and AQE picks sizes from runtime stats.
    */
  def validate(data: DataFrame, shapes: Seq[NodeShape],
      broadcastFocus: Boolean = true): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    def bf(df: DataFrame): DataFrame = if (broadcastFocus) broadcast(df) else df

    // subclass lattice for sh:class (SHACL-instance semantics): collected
    // once, vocabulary-sized — same posture as Inference's schema collect.
    lazy val subClassOf: Map[String, Seq[String]] = data
      .filter(col("p") === Rdf.RdfsSubClassOf && col("o.kind") === Rdf.KindIri)
      .select(col("s"), col("o.value")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (k, v) => (k, v.map(_._2).toSeq) }
    def subClosure(c: String): Seq[String] = {
      // classes whose instances count as instances of c (cycle-safe BFS)
      val seen = collection.mutable.LinkedHashSet(c)
      var frontier = Seq(c)
      while (frontier.nonEmpty) {
        frontier = subClassOf.toSeq.collect {
          case (sub, sups) if sups.exists(frontier.contains) && !seen(sub) => sub
        }
        seen ++= frontier
      }
      seen.toSeq
    }

    // one engine over the SAME quads being validated — built lazily, only
    // when some shape carries sh:sparql. The select text compiles through
    // the ordinary SPARQL compiler, so sh:sparql constraints get the same
    // pushdown/join-ordering as any user query.
    lazy val sparqlEngine: graft.Engine = new graft.Engine(
      new graft.sources.GraphCatalog(spark).addQuads(data))

    // per-shape validation against EXPLICIT focus nodes — (focus, fo)
    // rows, repeats allowed, where fo is the focus node's full TERM struct.
    // Used with the resolved targets below, and by sh:node with a
    // property's value nodes. `seen` carries the sh:node reference chain: a
    // shape id revisited on one chain is a CYCLE → error (recursive
    // validation is undefined per spec); acyclic chains recurse to any
    // depth.
    def shapeViolations(shape: NodeShape, targets: DataFrame,
        seen: Set[String]): Seq[DataFrame] = {

      // literal focus nodes have no outgoing arcs by construction — they
      // contribute no value rows (and must not lexically collide with a
      // same-spelled IRI subject)
      val nonLitTargets = targets.filter(
        col("fo").getField("kind") =!= Rdf.KindLiteral)
      val props = shape.properties.zipWithIndex

      def violation(df: DataFrame, path: Column, component: String,
          value: Column, sev: String, msg: Option[String]): DataFrame =
        df.select(col("focus"), path.as("result_path"),
          lit(component).as("component"), value.as("value"),
          lit(shape.id).as("shape"), lit(sev).as("severity"),
          msg.map(lit(_)).getOrElse(nullS).as("message"))

      // the predicates a predicate or alternative path reads directly
      def direct(ps: PropertyShape): Seq[String] =
        if (ps.inverse || ps.seq.nonEmpty || ps.closure.isDefined) Nil
        else if (ps.alt.nonEmpty) ps.alt
        else Seq(ps.path)
      // the `rows` whose `key` is a focus node: a semi-join, so repeated
      // targets need no distinct (and no shuffle) first
      def atFocus(rows: DataFrame, key: Column): DataFrame =
        rows.join(bf(nonLitTargets), key === col("focus"), "left_semi")
      def scan(preds: Seq[String]): DataFrame =
        atFocus(data.filter(col("p").isin(preds: _*)), col("s"))

      // value nodes of one property shape: (focus, o)
      def values(ps: PropertyShape): DataFrame =
        if (direct(ps).nonEmpty)
          scan(direct(ps)).select(col("s").as("focus"), col("o"))
        else if (ps.closure.isDefined) {
          // closure paths: `+` evaluates through the engine's OWN
          // distributed property-path machinery (semi-naive frontier,
          // lineage cuts — never a driver loop); zero-length contributes
          // the focus node itself. Set semantics per SPARQL
          // ArbitraryLengthPath.
          val (kind, p0) = ps.closure.get
          val selfVals = nonLitTargets.select(col("focus"), col("fo").as("o"))
          def oneStep = scan(Seq(p0)).select(col("s").as("focus"), col("o"))
          def plus = {
            val res = sparqlEngine.select(
              s"SELECT ?this ?value WHERE { ?this <$p0>+ ?value }")
            res.join(bf(nonLitTargets), termEq(res("this"),
                nonLitTargets("fo")), "left_semi")
              .select(res("this").getField("value").as("focus"),
                res("value").as("o"))
          }
          kind match {
            case "?" => oneStep.unionByName(selfVals).distinct()
            case "+" => plus
            case _ => plus.unionByName(selfVals).distinct()
          }
        }
        else if (ps.seq.nonEmpty)
          // SEQUENCE path: chain one predicate-filtered join per step —
          // intermediate hops traverse IRI/bnode objects only
          ps.seq.tail.foldLeft(scan(ps.seq.take(1))
              .select(col("s").as("focus"), col("o"))) { (acc, step) =>
            acc.filter(col("o.kind") =!= Rdf.KindLiteral)
              .join(data.filter(col("p") === step)
                .select(col("s").as("_s"), col("o").as("_o")),
                col("o.value") === col("_s"))
              .select(col("focus"), col("_o").as("o"))
          }
        else
          // inverse: the focus is the object IRI, the value node the
          // subject (as an IRI term)
          atFocus(data.filter(col("p") === ps.path &&
              col("o.kind") =!= Rdf.KindLiteral), col("o.value"))
            .select(col("o.value").as("focus"), struct(
              lit(Rdf.KindIri).cast(ByteType).as("kind"),
              col("s").as("value"),
              nullS.as("dtype"), nullS.as("lang"),
              lit(null).cast(DoubleType).as("num")).as("o"))

      // the rows of one pass, `(focus, fo, tag, o)`: the given focus rows
      // (tag -1), plus the value rows of each (property shape, tag), whose
      // `fo` is null. Every direct predicate is read by ONE scan; a
      // predicate several property shapes read carries all their tags.
      def taggedRows(focusRows: Option[DataFrame],
          tagged: Seq[(PropertyShape, Int)]): DataFrame = {
        val tags = tagged.flatMap { case (ps, i) => direct(ps).map(_ -> i) }
          .groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (p, ts) => p -> ts.map(_._2).distinct }
        val noFo = lit(null).cast(targets.schema("fo").dataType).as("fo")
        val directRows = if (tags.isEmpty) None else Some(
          scan(tags.map(_._1)).select(col("s").as("focus"), noFo,
            explode(map(tags.flatMap { case (p, ts) =>
              Seq(lit(p), array(ts.map(lit): _*)) }: _*)(col("p"))).as("tag"),
            col("o")))
        val pathRows = tagged.filter(t => direct(t._1).isEmpty).map {
          case (ps, i) => values(ps).select(col("focus"), noFo,
            lit(i).as("tag"), col("o"))
        }
        val focusPart = focusRows.map(_.select(col("focus"), col("fo"),
          lit(-1).as("tag"), lit(null).cast(data.schema("o").dataType).as("o")))
        (focusPart ++ directRows ++ pathRows).reduce(_.unionByName(_))
      }

      // ---- VALUE pass
      val nodeLevel = nodeChecks(shape, col("fo")).map { case (c, bad) =>
        Check(col("tag") === -1 && bad, nullS, c, col("focus"), shape.id,
          shape.severity, shape.message)
      }
      val valueLevel = props.map { case (ps, i) =>
        (ps, i) -> rowChecks(ps, col("o")).map { case (c, bad, msg) =>
          Check(col("tag") === i && bad, lit(ps.path), c, col("o.value"),
            shape.id, ps.severity, msg)
        }
      }.filter(_._2.nonEmpty)
      val valuePass =
        if (nodeLevel.isEmpty && valueLevel.isEmpty) Nil
        else Seq(violationRows(
          taggedRows(if (nodeLevel.isEmpty) None else Some(targets.distinct()),
            valueLevel.map(_._1)), Seq("focus"),
          nodeLevel ++ valueLevel.flatMap(_._2)))

      // ---- COUNTING pass: (property shape, tag, count, component, bad)
      val counted = props.flatMap { case (ps, i) =>
        def n(c: Column) = count(when(col("tag") === i && c, 1))
        def gate(q: Column, cmp: String, min: Option[Int], max: Option[Int]) =
          min.map(m => (ps, i, q, s"sh:${cmp}MinCountConstraintComponent",
            (_: Column) < m)).toSeq ++
          max.map(m => (ps, i, q, s"sh:${cmp}MaxCountConstraintComponent",
            (_: Column) > m))
        gate(n(lit(true)), "", ps.minCount, ps.maxCount) ++
        ps.hasValue.map(t => (ps, i, n(termEqC(col("o"), t)),
          "sh:HasValueConstraintComponent", (_: Column) === 0)) ++
        ps.qualified.toSeq.flatMap(vc => gate(n(passesC(col("o"), vc)),
          "Qualified", ps.qualifiedMinCount, ps.qualifiedMaxCount))
      }
      // The focus rows are the targets as given (the grouping makes them
      // distinct), keyed by the focus string alone for IRI and blank
      // focus nodes — their value rows carry no term — and by the whole
      // term for a literal focus node, which has no value rows.
      val countPass = if (counted.isEmpty) Nil else {
        val aggs = counted.zipWithIndex.map { case ((_, _, n, _, _), k) =>
          n.as(s"_n$k") }
        val counts = taggedRows(Some(targets.select(col("focus"),
              when(col("fo.kind") === Rdf.KindLiteral, col("fo")).as("fo"))),
            counted.map { case (ps, i, _, _, _) => (ps, i) }.distinct)
          .groupBy(col("focus"), col("fo")).agg(aggs.head, aggs.tail: _*)
        Seq(violationRows(counts, Seq("focus"), counted.zipWithIndex.map {
          case ((ps, _, _, component, bad), k) => Check(bad(col(s"_n$k")),
            lit(ps.path), component, nullS, shape.id, ps.severity, ps.message)
        }))
      }

      // ---- closed: every quad of a focus node whose predicate is not
      // declared by some property shape (nor ignored) is a violation.
      val closedViolations = if (!shape.closed) Nil else {
        val declared = shape.properties
          .filter(p => !p.inverse && p.seq.isEmpty && p.alt.isEmpty &&
            p.closure.isEmpty).map(_.path) ++
          shape.ignored
        Seq(violation(atFocus(data, col("s"))
          .filter(!col("p").isin(declared: _*))
          .select(col("s").as("focus"), col("p"), col("o")),
          col("p"), "sh:ClosedConstraintComponent", col("o.value"),
          shape.severity, shape.message))
      }

      // ---- sh:sparql: run the constraint query ONCE over the data and
      // keep the solutions whose ?this term IS a focus node — the
      // set-based form of the spec's per-focus $this pre-binding. The
      // focus side follows the broadcastFocus hint (see validate); ?path
      // (node shapes) and ?value projections feed the report when present.
      def sparqlViolations(sc: SparqlConstraint, text: String, owner: String,
          path: Option[String], sev: String, msg: Option[String]): DataFrame = {
        val res = sparqlEngine.select(text)
        require(res.columns.contains("this"),
          s"SHACL: sh:select of $owner must project " + "$this")
        // qualify the focus side's column: the sh:select may legally
        // project a variable named ?fo, which an unqualified col("fo")
        // would make ambiguous
        def field(v: String, default: Column): Column =
          if (res.columns.contains(v)) res(v).getField("value") else default
        val focus = res("this").getField("value")
        val hits = res.join(bf(targets), termEq(res("this"), targets("fo")),
            "left_semi")
          .select(focus.as("focus"),
            path.map(lit(_)).getOrElse(field("path", nullS)).as("_path"),
            field("value", focus).as("_value"))
        violation(hits, col("_path"), sc.component, col("_value"), sev,
          sc.message.orElse(msg))
      }

      // ---- property-shape components that need other data
      val propViolations = shape.properties.flatMap { ps =>
        lazy val vals = values(ps)
        val isLit = col("o.kind") === Rdf.KindLiteral
        def pv(df: DataFrame, component: String, value: Column = col("o.value"),
            msg: Option[String] = ps.message): DataFrame =
          violation(df, lit(ps.path), component, value, ps.severity, msg)

        val classV = ps.clazz.map { c =>
          // SHACL-instance: value has rdf:type t with t ⊑ c. One
          // left-anti join against the typed-instance set.
          val instanceOf = data.filter(col("p") === Rdf.RdfType &&
              col("o.kind") === Rdf.KindIri &&
              col("o.value").isin(subClosure(c): _*))
            .select(col("s").as("inst")).distinct()
          // literals never have a class: they match no instance
          pv(vals.join(instanceOf, col("o.value") === col("inst") && !isLit,
            "left_anti"), "sh:ClassConstraintComponent")
        }

        val nodeV = ps.node.map { ref =>
          // sh:node: each value node must CONFORM to the referenced shape —
          // evaluated by validating the value set as that shape's focus
          // nodes and flagging any value that produced a violation. Literal
          // values cannot carry the referenced shape's property constraints
          // → violation.
          val rShape = shapes.find(_.id == ref).getOrElse(
            throw new IllegalArgumentException(
              s"SHACL: sh:node references unknown shape <$ref>"))
          if (seen(ref)) throw new IllegalArgumentException(
            s"SHACL: cyclic sh:node reference chain at <$ref> " +
              "(recursive shape validation is undefined per spec)")
          val valueFocus = vals.filter(!isLit)
            .select(col("o.value").as("focus"), col("o").as("fo"))
          val nonConf = shapeViolations(rShape, valueFocus, seen + ref)
            .map(_.select(col("focus").as("_ncf")))
            .reduceOption(_.unionAll(_))
            .map(_.distinct())
            .getOrElse(Seq.empty[String].toDF("_ncf"))
          pv(vals.join(nonConf, col("o.value") === col("_ncf") && !isLit, "left")
            .filter(isLit || col("_ncf").isNotNull), "sh:NodeConstraintComponent")
        }

        val uniqueLangV = if (!ps.uniqueLang) None else Some(pv(
          vals.filter(col("o.lang").isNotNull)
            .groupBy(col("focus"), col("o.lang").as("lg"))
            .agg(count(lit(1)).as("n")).filter(col("n") > 1),
          "sh:UniqueLangConstraintComponent", col("lg")))

        // ---- property-PAIR components: the OTHER property's values at the
        // SAME focus node — one more predicate-filtered scan joined to the
        // focus set, then per-focus set algebra against the path's value
        // set. Renamed columns keep the self-joins unambiguous.
        def otherVals(prop: String): DataFrame = scan(Seq(prop))
          .select(col("s").as("focus2"), col("o").as("o2"))
        val sameTerm = col("focus") === col("focus2") && (col("o") <=> col("o2"))

        val pairEq = ps.equalsP.toSeq.flatMap { prop =>
          // sh:equals: the two value SETS must coincide — a violation per
          // path value missing from the other property (anti-join on the
          // full term) and per other-property value missing from the path
          val other = otherVals(prop)
          Seq(vals.join(other, sameTerm, "left_anti"),
            other.join(vals, sameTerm, "left_anti")
              .select(col("focus2").as("focus"), col("o2").as("o")))
            .map(pv(_, "sh:EqualsConstraintComponent"))
        }

        // sh:disjoint: a violation per path value that ALSO appears as a
        // value of the other property at this focus (semi-join)
        val pairDisj = ps.disjointP.map(prop => pv(
          vals.join(otherVals(prop), sameTerm, "left_semi"),
          "sh:DisjointConstraintComponent"))

        // sh:lessThan / sh:lessThanOrEquals: EVERY (path value, other
        // value) pair at the focus must compare — numeric/temporal pairs
        // by the num shadow, plain-string pairs lexically; a
        // non-comparable pair is a violation per spec (the coalesce keeps
        // SQL NULL from silently passing it).
        def pairCmp(prop: String, orEqual: Boolean, component: String)
            : DataFrame = {
          val n1 = col("o.num"); val n2 = col("o2.num")
          val bothStr = col("o.kind") === Rdf.KindLiteral &&
            col("o2.kind") === Rdf.KindLiteral &&
            effDtypeC(col("o")) === Rdf.XsdString &&
            effDtypeC(col("o2")) === Rdf.XsdString
          val ok = when(n1.isNotNull && n2.isNotNull,
              if (orEqual) n1 <= n2 else n1 < n2)
            .when(bothStr,
              if (orEqual) col("o.value") <= col("o2.value")
              else col("o.value") < col("o2.value"))
            .otherwise(lit(false))
          pv(vals.join(otherVals(prop), col("focus") === col("focus2"))
            .filter(!ok), component)
        }
        val pairLt =
          ps.lessThanP.map(pairCmp(_, orEqual = false,
            "sh:LessThanConstraintComponent")) ++
          ps.lessThanOrEqualsP.map(pairCmp(_, orEqual = true,
            "sh:LessThanOrEqualsConstraintComponent"))

        // ---- custom ASK validators with TRIPLE-PATTERN bodies (the
        // FILTER-only ones are row-level, in the value pass): `ASK { P }`
        // rewrites as a SELECT over the data projecting the pre-bound vars
        // — a candidate (focus, value) conforms iff a solution matches it,
        // so violations are ONE anti-join against the solution set (one
        // query + one join, never per-pair execution). `$PATH` substitutes
        // like SELECT validators; the component IRI lands in the report.
        val patternAskV = ps.custom.flatMap { cc =>
          val text = cc.text.replace("$PATH", pathText(ps))
          if (filterOnlyAsk(text).isDefined) None else {
            require("[?$]this\\b".r.findFirstIn(text).isDefined,
              s"SHACL: a pattern ASK validator must reference $$this " +
                s"(${cc.component})")
            val usesValue = "[?$]value\\b".r.findFirstIn(text).isDefined
            val res = sparqlEngine.select(text.replaceFirst("(?i)\\bASK\\b",
              "SELECT ?this ?value WHERE"))
            val cond = (res("this").getField("value") === col("focus")) &&
              (if (usesValue) termEq(res("value"), col("o")) else lit(true))
            Some(pv(vals.join(res, cond, "left_anti"), cc.component,
              msg = cc.message.orElse(ps.message)))
          }
        }

        // ---- sh:sparql on PROPERTY shapes: `$PATH` substitutes the
        // shape's SPARQL path text per the spec's validator convention, so
        // `$this $PATH ?value` reads the constrained values.
        val propSparqlV = ps.sparql.map(sc => sparqlViolations(sc,
          sc.select.replace("$PATH", pathText(ps)), s"property shape ${ps.id}",
          Some(ps.path), ps.severity, ps.message))

        classV.toSeq ++ nodeV ++ uniqueLangV ++ pairEq ++ pairDisj ++
          pairLt ++ patternAskV ++ propSparqlV
      }

      val nodeSparqlV = shape.sparql.map(sc => sparqlViolations(sc, sc.select,
        s"shape ${shape.id}", None, shape.severity, shape.message))

      valuePass ++ countPass ++ closedViolations ++ propViolations ++
        nodeSparqlV
    }

    val reports: Seq[DataFrame] = shapes.flatMap { shape =>
      // ---- target resolution: each target kind is one predicate-filtered
      // scan; the union is the shape's focus-node set.
      // subject-position focus nodes synthesize their term from the `_:`
      // label convention (dtype/lang/num null, as for any IRI/bnode);
      // targetObjectsOf takes the object term VERBATIM — so LITERAL value
      // nodes become focus nodes per spec (a literal focus with
      // minCount ≥ 1, a node-level nodeKind, or node-level logic must
      // see the real term).
      def subjTerm(c: Column): Column = struct(
        when(c.startsWith("_:"), lit(Rdf.KindBlank))
          .otherwise(lit(Rdf.KindIri)).cast(ByteType).as("kind"),
        c.as("value"), nullS.as("dtype"), nullS.as("lang"),
        lit(null).cast(DoubleType).as("num"))
      val targets: Seq[DataFrame] = Seq(
        if (shape.targetClass.isEmpty) None
        else Some(data.filter(col("p") === Rdf.RdfType &&
            col("o.kind") === Rdf.KindIri &&
            col("o.value").isin(shape.targetClass.flatMap(subClosure): _*))
          .select(col("s").as("focus"), subjTerm(col("s")).as("fo"))),
        if (shape.targetNode.isEmpty) None
        else Some(shape.targetNode.toDF("focus")
          .withColumn("fo", subjTerm(col("focus")))),
        if (shape.targetSubjectsOf.isEmpty) None
        else Some(data.filter(col("p").isin(shape.targetSubjectsOf: _*))
          .select(col("s").as("focus"), subjTerm(col("s")).as("fo"))),
        if (shape.targetObjectsOf.isEmpty) None
        else Some(data.filter(col("p").isin(shape.targetObjectsOf: _*))
          .select(col("o.value").as("focus"), col("o").as("fo")))
      ).flatten
      if (targets.isEmpty) Nil
      else shapeViolations(shape, targets.reduce(_.unionAll(_)), Set(shape.id))
    }

    if (reports.isEmpty)
      Seq.empty[(String, String, String, String, String, String, String)]
        .toDF("focus", "result_path", "component", "value", "shape",
          "severity", "message")
    else reports.reduce(_.unionAll(_))
  }

  /** Parse a Turtle shapes document and validate `data` against it. */
  def validateTtl(data: DataFrame, shapesTtl: String): DataFrame =
    validate(data, parseShapes(graft.sources.TurtleReader.parse(shapesTtl)))

  /** STREAMING-safe row-level validation: the subset of shapes decidable
    * per quad — `sh:targetSubjectsOf <p>` shapes whose property shapes
    * constrain the SAME predicate with VALUE-level constraints only, so a
    * quad `(s, p, o)` proves its own focus membership and every check is a
    * pure column predicate. The returned function applies unchanged to a
    * batch OR streaming DataFrame (no state, no aggregation, one scan —
    * the batch validator's value pass, [[violationRows]], applied to the
    * quads), which is the continuous data-quality hook on the ingest path.
    * Cardinality, class, closed, hasValue/uniqueLang, inverse paths, and
    * other target kinds need the whole focus set and are rejected here —
    * run them in the batch validator.
    *
    * Output: one row per violation `(graph, s, p, value, component,
    * shape, severity, message)`.
    */
  def rowValidator(shapes: Seq[NodeShape]): DataFrame => DataFrame = {
    val checks: Seq[Check] = shapes.flatMap { shape =>
      require(shape.targetClass.isEmpty && shape.targetNode.isEmpty &&
        shape.targetObjectsOf.isEmpty && !shape.closed &&
        shape.nodeKind.isEmpty && shape.sparql.isEmpty,
        s"SHACL rowValidator: shape ${shape.id} must target subjects-of only")
      shape.properties.flatMap { ps =>
        require(!ps.inverse && ps.seq.isEmpty && ps.alt.isEmpty &&
          ps.closure.isEmpty &&
          shape.targetSubjectsOf.contains(ps.path),
          s"SHACL rowValidator: property path <${ps.path}> of ${shape.id} " +
            "must be one of the shape's sh:targetSubjectsOf predicates")
        require(ps.minCount.isEmpty && ps.maxCount.isEmpty &&
          ps.clazz.isEmpty && ps.hasValue.isEmpty && !ps.uniqueLang &&
          ps.node.isEmpty && ps.equalsP.isEmpty && ps.disjointP.isEmpty &&
          ps.lessThanP.isEmpty && ps.lessThanOrEqualsP.isEmpty &&
          ps.qualified.isEmpty && ps.sparql.isEmpty,
          s"SHACL rowValidator: ${shape.id} carries non-row-level components")
        require(ps.custom.forall(cc =>
          filterOnlyAsk(cc.text.replace("$PATH", pathText(ps))).isDefined),
          "SHACL: ROW-LEVEL ASK validators support FILTER-only bodies over " +
            "$value and the component parameters; pattern bodies evaluate " +
            "in the batch validator")
        rowChecks(ps, col("o")).map { case (component, bad, msg) =>
          Check(col("p") === ps.path && bad, lit(ps.path), component,
            col("o.value"), shape.id, ps.severity, msg)
        }
      }
    }
    df => violationRows(df, Seq("graph", "s", "p"), checks)
      .select("graph", "s", "p", "value", "component", "shape", "severity",
        "message")
  }

  /** True iff `data` conforms (empty report). */
  def conforms(data: DataFrame, shapes: Seq[NodeShape]): Boolean =
    validate(data, shapes).isEmpty
}
