package graft.algebra

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{Rdf, RdfTerm}

/** SPARQL 1.1 algebra AST (SURVEY.md §2 operator inventory).
  *
  * The reference's query language is SPARQL 1.1 (reference `Dockerfile:2`,
  * `README.md:124`); its algebra — BGP, Filter, Join, LeftJoin, Union, Minus,
  * Extend, Group, OrderBy, Slice, Distinct/Reduced — is modeled here as plain
  * case classes and compiled to DataFrame transformations by
  * [[graft.algebra.Compiler]]. Scalar expressions are driver-side functions
  * `Resolve => Column` (`Resolve` maps a variable name to its bound term-struct
  * column), so every expression lowers to Catalyst `Column`s and stays inside
  * whole-stage codegen — no Scala UDF in the hot path.
  */
sealed trait PTerm
final case class V(name: String) extends PTerm
final case class I(iri: String) extends PTerm
final case class L(term: RdfTerm) extends PTerm
/** Labeled blank node in a CONSTRUCT template (SPARQL 16.2.1): instantiated
  * as a FRESH bnode per solution, shared across the template's occurrences
  * of the same label within one solution. Never reaches a BGP compile — the
  * CONSTRUCT WHERE shorthand rewrites it to a plain variable on the pattern
  * side.
  */
final case class B(label: String) extends PTerm
object L {
  def str(s: String): L = L(RdfTerm.str(s))
  def int(i: Long): L = L(RdfTerm.int(i))
  def dbl(d: Double): L = L(RdfTerm.dbl(d))
}

/** One triple pattern, optionally graph-scoped (G2: `GRAPH <g> { … }`). */
final case class TriplePattern(s: PTerm, p: PTerm, o: PTerm, graph: PTerm = I(Rdf.DefaultGraph))

sealed trait Op
/** Basic graph pattern: patterns joined on shared variables (J1/J2). */
final case class Bgp(patterns: Seq[TriplePattern]) extends Op
/** FILTER(expr) (P4); SPARQL error→false handled by NULL-dropping filters. */
final case class FilterOp(cond: E.Fn, child: Op) extends Op
/** Join of two group patterns on shared vars with SPARQL compatibility (J1). */
final case class JoinOp(left: Op, right: Op) extends Op
/** OPTIONAL { … } — SPARQL LeftJoin; `cond` goes INTO the join (J3).
  * `exists` carries FILTER [NOT] EXISTS constraints of the OPTIONAL group:
  * SPARQL 18.2.2.2 lifts ALL of a group's constraints into the LeftJoin
  * condition, and an EXISTS can't be a join-condition Column — the compiler
  * evaluates them against the constrained matches before deciding retention.
  */
final case class LeftJoin(left: Op, right: Op, cond: Option[E.Fn] = None,
    exists: Seq[(Op, Boolean)] = Nil,
    exMarks: Seq[(String, Op, Boolean)] = Nil) extends Op
/** UNION — null-pads missing vars (U1). */
final case class UnionOp(left: Op, right: Op) extends Op
/** MINUS — shared-var compatibility semantics, disjoint-domain no-op (J4). */
final case class MinusOp(left: Op, right: Op) extends Op
/** FILTER EXISTS / NOT EXISTS (P6/P7). */
final case class ExistsOp(left: Op, right: Op, positive: Boolean) extends Op
/** `BIND(EXISTS {…} AS ?v)` — EXISTS in EXPRESSION position, scoped to the
  * outermost expression of a binding (the common form): evaluated as a
  * mark — semi- and anti-join partitions of the child's solutions union
  * with the boolean bound, preserving multiplicity exactly.
  */
final case class BindExistsOp(name: String, pattern: Op, positive: Boolean,
    child: Op) extends Op
/** BIND / SELECT (expr AS ?v) (P3). `expr` must yield a term struct. */
final case class Extend(name: String, expr: E.Fn, child: Op) extends Op
/** SELECT ?v1 ?v2 (P1). */
final case class Project(vars: Seq[String], child: Op) extends Op
final case class DistinctOp(child: Op) extends Op
/** REDUCED — identity is the cheapest legal implementation (O6). */
final case class ReducedOp(child: Op) extends Op
/** SELECT DISTINCT … ORDER BY where a sort key references a NON-PROJECTED
  * variable. Per the algebra (18.2.4) OrderBy sits BELOW Project with
  * Distinct above, so such queries are legal: the result is one
  * representative row per projected-value group — the FIRST in sort order,
  * i.e. what sequence(Distinct(Project(OrderBy(M)))) yields when distinct
  * keeps first occurrences — globally ordered by the representative's keys.
  * `keys` are evaluated against the full (pre-projection) solution.
  */
final case class DistinctOrdered(vars: Seq[String], keys: Seq[(E.Fn, Boolean)],
    child: Op) extends Op
/** GROUP BY + aggregates (A1-A7). Aggregates yield term structs (see Aggs). */
final case class Group(keys: Seq[String], aggs: Seq[(String, E.Fn)], child: Op) extends Op
/** ORDER BY with SPARQL term total ordering (O2); `asc=false` → DESC. */
final case class OrderBy(keys: Seq[(E.Fn, Boolean)], child: Op) extends Op
/** LIMIT/OFFSET (O1/O3). */
final case class Slice(offset: Long, limit: Option[Long], child: Op) extends Op
/** VALUES inline data (J5). `None` = UNDEF. */
final case class ValuesOp(vars: Seq[String], rows: Seq[Seq[Option[RdfTerm]]]) extends Op
/** Every NAMED graph bound as an IRI term to `name` — the 18.2.2.6
  * `Graph(var, P)` base when P carries no quad pattern to bind the graph
  * variable itself (e.g. `GRAPH ?g {}` = one solution per named graph).
  */
final case class NamedGraphsOp(name: String) extends Op
/** One FROM-NAMED arm for a PSEUDO-GRAPH candidate (r16): under a dataset
  * clause, `GRAPH ?g P` filters the store's graph column by the FROM
  * NAMED list — but the list may EXPLICITLY name registered pseudo-graph
  * views (`onto:explicit`, `urn:graft:hist:k`, …), whose IRIs never
  * appear in that column. The parser re-parses P once per FROM NAMED iri
  * scoped to that iri and wraps it here; the COMPILER keeps the arm only
  * when the catalog actually registers the iri as a pseudo-graph — for a
  * plain graph iri the arm compiles to the empty solution (those rows are
  * already produced by the store-filter arm). Pseudo-graphs thus stay
  * un-enumerated by a bare `GRAPH ?g`, but answer when the dataset opts
  * in by name — the GraphDB special-graph contract.
  */
final case class PseudoNamedArmOp(iri: String, name: String, inner: Op)
  extends Op
/** Empty solution (unit of Join) — one row, no columns. */
case object Unit0 extends Op
/** `SERVICE [SILENT] <iri> {pattern}` (SPARQL 1.1 Federated Query): the
  * group pattern is shipped as TEXT (`text` = prologue + `SELECT * WHERE
  * {…}`, captured verbatim by the parser) to the endpoint registered in the
  * catalog ([[graft.sources.SparqlEndpoint]]) and the results document is
  * parsed back into a solution that joins with the outer group like any
  * other. `silent`: an unknown endpoint OR any endpoint failure yields the
  * unit solution instead of an error (spec §5). `inner` keeps the parsed
  * algebra for introspection; evaluation goes through `text`.
  */
final case class ServiceOp(endpoint: PTerm, inner: Op, silent: Boolean,
    text: String = "") extends Op
/** Embed a precomputed solution (path closures, inference output) (G5). */
final case class Wrap(df: org.apache.spark.sql.DataFrame, cert: Set[String],
    maybe: Set[String] = Set.empty) extends Op
/** A parsed SELECT or ASK root, compiled through its shape's cached plan
  * ([[ShapeCache]]). `shape` is the query text with each constant slot
  * replaced by the slot's class; `slots` are this query's constants, in
  * text order; `reparse` parses the same text with other constants in the
  * slots; `op` is this query's own algebra.
  */
final case class Prepared(shape: ShapeCache.Shape, slots: Seq[RdfTerm],
    reparse: Seq[RdfTerm] => Op, op: Op) extends Op
object Prepared {
  /** The algebra under a parsed root, for matchers on its structure. */
  def unwrap(op: Op): Op = op match {
    case p: Prepared => p.op
    case other => other
  }
}
/** Recursive property path `s path+ o` / `path*` — compiled via the
  * semi-naive closure in [[graft.paths.PropertyPaths]] (G5). `graph` scopes
  * the step's edge scan (GRAPH / single-FROM datasets).
  */
final case class PathClosureOp(s: PTerm, step: graft.paths.Path, o: PTerm,
    zeroLength: Boolean, graph: PTerm = I(Rdf.DefaultGraph),
    mergeGraphs: Seq[String] = Nil) extends Op
/** Zero-or-one path `s step? o` (G4) — EXACTLY one-hop ∪ zero-length identity
  * over the step's incident nodes; NO transitive closure (unlike `*`).
  * `mergeGraphs` (both ops): a multi-graph FROM dataset — the step's edges
  * are the SET UNION of those graphs' triples (SPARQL 8.2 merged default
  * graph), so closures may hop across source graphs.
  */
final case class PathZeroOrOneOp(s: PTerm, step: graft.paths.Path, o: PTerm,
    graph: PTerm = I(Rdf.DefaultGraph), mergeGraphs: Seq[String] = Nil) extends Op

/** Expression library over bound variables (SURVEY §2.8).
  *
  * A variable resolves to a term-struct column `(kind, value, dtype, lang,
  * num)`; helpers below implement the SPARQL builtin families as Column
  * combinators. SPARQL's "error → unbound/false" semantics line up with Spark
  * NULL propagation in filter position (SURVEY §2.8 "Logical" row).
  */
object E {
  /** An expression: resolves variable names to columns, yields a column. */
  type Fn = (String => Column) => Column

  val termSchema = StructType(Seq(
    StructField("kind", ByteType), StructField("value", StringType),
    StructField("dtype", StringType), StructField("lang", StringType),
    StructField("num", DoubleType)))

  /** Constant term as a literal struct column. */
  def termLit(t: RdfTerm): Column = struct(
    lit(t.kind).cast(ByteType).as("kind"), lit(t.value).as("value"),
    lit(t.dtype.orNull).cast(StringType).as("dtype"),
    lit(t.lang.orNull).cast(StringType).as("lang"),
    lit(t.num.map(java.lang.Double.valueOf).orNull).cast(DoubleType).as("num"))

  /** NULL of the term-struct type (unbound / UNDEF). */
  def nullTerm: Column = lit(null).cast(termSchema)

  /** Wrap a plain numeric column as a term struct (aggregate outputs).
    * A NULL input is the UNBOUND term, not a term with a null value —
    * SUM/MIN/MAX over an empty group are unbound (18.2.4), and BOUND()
    * must see them that way.
    */
  def numTerm(c: Column): Column = when(c.isNull, nullTerm).otherwise(struct(
    lit(Rdf.KindLiteral).cast(ByteType).as("kind"),
    c.cast(StringType).as("value"),
    lit(Rdf.XsdDouble).cast(StringType).as("dtype"),
    lit(null).cast(StringType).as("lang"), c.cast(DoubleType).as("num")))

  /** Numeric-type PROMOTION rank of a term (17.3/XPath op:numeric-*):
    * 0 = xsd:integer, 1 = xsd:decimal, 2 = xsd:float (r18), 3 =
    * xsd:double. Non-numeric datatypes rank 3 but callers gate on
    * [[hasNumericDt]] first.
    */
  def numRank(t: Column): Column =
    when(t.getField("dtype") === Rdf.XsdInteger, lit(0))
      .when(t.getField("dtype") === Rdf.XsdDecimal, lit(1))
      .when(t.getField("dtype") === Rdf.XsdFloat, lit(2))
      .otherwise(lit(3))

  def hasNumericDt(t: Column): Column =
    t.getField("dtype").isin(Rdf.XsdInteger, Rdf.XsdDecimal, Rdf.XsdFloat,
      Rdf.XsdDouble)

  /** Plain-decimal lexical form of a double-valued decimal result: cast to
    * decimal(38,15) (rounds off binary-double noise), strip trailing
    * fractional zeros and a bare point — `32.5`, `65`, never `6.5E1`.
    */
  private def decimalLex(c: Column): Column =
    regexp_replace(regexp_replace(c.cast("decimal(38,15)").cast(StringType),
      "(\\.\\d*?)0+$", "$1"), "\\.$", "")

  /** Wrap a numeric result with its PROMOTED datatype: the lexical form and
    * dtype follow `rank` (0 integer / 1 decimal / 2 float / 3 double)
    * instead of [[numTerm]]'s blanket double — `42+1` is
    * `"43"^^xsd:integer`, not `"43.0"^^xsd:double` (tranche 12). Float
    * results round through single precision, and ±∞ prints the XSD
    * lexical `INF`/`-INF` (r18).
    */
  def typedNumTerm(c: Column, rank: Column): Column = {
    val fl = c.cast(FloatType)
    // ±∞ prints the XSD lexical by equality test, not a per-row regex
    val fpLex = when(c === Double.PositiveInfinity, "INF")
      .when(c === Double.NegativeInfinity, "-INF")
      .otherwise(when(rank === 2, fl.cast(StringType))
        .otherwise(c.cast(StringType)))
    when(c.isNull, nullTerm).otherwise(struct(
      lit(Rdf.KindLiteral).cast(ByteType).as("kind"),
      when(rank === 0, c.cast(LongType).cast(StringType))
        .when(rank === 1, decimalLex(c))
        .otherwise(fpLex).as("value"),
      when(rank === 0, Rdf.XsdInteger).when(rank === 1, Rdf.XsdDecimal)
        .when(rank === 2, Rdf.XsdFloat)
        .otherwise(Rdf.XsdDouble).cast(StringType).as("dtype"),
      lit(null).cast(StringType).as("lang"),
      when(rank === 2, fl.cast(DoubleType))
        .otherwise(c.cast(DoubleType)).as("num")))
  }

  /** Wrap a plain string column as a plain-literal term struct (same
    * NULL-is-unbound rule as [[numTerm]]).
    */
  def strTerm(c: Column): Column = when(c.isNull, nullTerm).otherwise(struct(
    lit(Rdf.KindLiteral).cast(ByteType).as("kind"), c.cast(StringType).as("value"),
    lit(null).cast(StringType).as("dtype"), lit(null).cast(StringType).as("lang"),
    lit(null).cast(DoubleType).as("num")))

  def iriTerm(c: Column): Column = struct(
    lit(Rdf.KindIri).cast(ByteType).as("kind"), c.cast(StringType).as("value"),
    lit(null).cast(StringType).as("dtype"), lit(null).cast(StringType).as("lang"),
    lit(null).cast(DoubleType).as("num"))

  // ---- accessors ----
  def v(name: String): Fn = r => r(name)
  def value(name: String): Fn = r => r(name).getField("value")
  def num(name: String): Fn = r => r(name).getField("num")
  def langOf(name: String): Fn = r => coalesce(r(name).getField("lang"), lit(""))
  def datatypeOf(name: String): Fn = r => coalesce(r(name).getField("dtype"),
    when(r(name).getField("lang").isNotNull, lit(Rdf.XsdString))
      .otherwise(lit(Rdf.XsdString)))
  def bound(name: String): Fn = r => r(name).isNotNull
  def isIriV(name: String): Fn = r => r(name).getField("kind") === Rdf.KindIri
  def isLiteralV(name: String): Fn = r => r(name).getField("kind") === Rdf.KindLiteral
  def isBlankV(name: String): Fn = r => r(name).getField("kind") === Rdf.KindBlank
  def isNumericV(name: String): Fn = r => r(name).getField("num").isNotNull

  // ---- lifting / combinators ----
  def lift(c: Column): Fn = _ => c
  def map1(a: Fn)(f: Column => Column): Fn = r => f(a(r))
  def map2(a: Fn, b: Fn)(f: (Column, Column) => Column): Fn = r => f(a(r), b(r))
  def and(xs: Fn*): Fn = r => xs.map(_(r)).reduce(_ && _)
  def or(xs: Fn*): Fn = r => xs.map(_(r)).reduce(_ || _)
  def not(a: Fn): Fn = r => !a(r)

  // Comparison with numeric promotion: numeric if both numeric, else lexical.
  private def cmp(a: Fn, b: Fn)(f: (Column, Column) => Column): Fn = r => {
    val (l, rr) = (a(r), b(r))
    val ln = l.getField("num"); val rn = rr.getField("num")
    when(ln.isNotNull && rn.isNotNull, f(ln, rn))
      .otherwise(f(l.getField("value"), rr.getField("value")))
  }
  // Ordering comparisons: numeric vs NON-numeric is a type error (17.3) →
  // null, false under EBV. When both sides are statically numeric the CASE
  // folds to the plain comparison, so parquet pushdown is unaffected.
  private def cmpOrd(a: Fn, b: Fn)(f: (Column, Column) => Column): Fn = r => {
    val (l, rr) = (a(r), b(r))
    val ln = l.getField("num"); val rn = rr.getField("num")
    when(ln.isNotNull && rn.isNotNull, f(ln, rn))
      .when(ln.isNotNull || rn.isNotNull, lit(null).cast("boolean"))
      .otherwise(f(l.getField("value"), rr.getField("value")))
  }
  def eq(a: Fn, b: Fn): Fn = cmp(a, b)(_ === _)
  def neq(a: Fn, b: Fn): Fn = cmp(a, b)(_ =!= _)
  def lt(a: Fn, b: Fn): Fn = cmpOrd(a, b)(_ < _)
  def leq(a: Fn, b: Fn): Fn = cmpOrd(a, b)(_ <= _)
  def gt(a: Fn, b: Fn): Fn = cmpOrd(a, b)(_ > _)
  def geq(a: Fn, b: Fn): Fn = cmpOrd(a, b)(_ >= _)
  def sameTerm(a: Fn, b: Fn): Fn = r => a(r) === b(r)

  /** SPARQL term total ordering sort key: unbound < blank < IRI < literal;
    * numerics by value, others lexical (SURVEY §2.6 O2). Struct ordering in
    * Spark is field-by-field lexicographic, which matches.
    */
  def sortKey(t: Fn): Fn = r => {
    val c = t(r)
    struct(
      when(c.isNull, lit(0))
        .when(c.getField("kind") === Rdf.KindBlank, lit(1))
        .when(c.getField("kind") === Rdf.KindIri, lit(2))
        .otherwise(lit(3)).as("k"),
      coalesce(c.getField("num"), lit(Double.NegativeInfinity)).as("n"),
      coalesce(c.getField("value"), lit("")).as("v"))
  }
}

/** Aggregate builders (SURVEY §2.4). Each yields a term-struct column so the
  * algebra stays closed (ORDER BY ?count etc. keep term semantics).
  */
object Aggs {
  import E.Fn
  /** `val` (not def): the compiler recognizes COUNT(*) by identity to apply
    * the statistics rewrite for global `?s ?p ?o` counts (SURVEY §4.1 —
    * the reference's verification count, `init-graphdb.sh:133`).
    */
  val countStar: Fn = _ => E.typedNumTerm(count(lit(1)), lit(0))
  def countVar(v: String): Fn = r => E.typedNumTerm(count(r(v)), lit(0))
  def countDistinctVar(v: String): Fn = r =>
    E.typedNumTerm(count_distinct(r(v)), lit(0))

  /** SUM/AVG empty-vs-error discipline (18.5.1.5/18.5.1.6): over an EMPTY
    * solution set the result is 0 (the spec's explicit base case — Sum() is
    * "0"^^xsd:integer, Avg() is 0); over a NON-EMPTY group whose evaluations
    * include an error (unbound or non-numeric term ⇒ null `num` field) the
    * whole aggregate is an error ⇒ unbound. `count(lit(1))===0` only occurs
    * for the global (no GROUP BY) aggregate — grouped groups are non-empty
    * by construction — which is exactly the spec's empty-multiset case.
    */
  /** The numeric operand of an aggregate: the `num` shadow gated on a
    * numeric DATATYPE — a dateTime term carries an epoch shadow but is not
    * summable (17.3), so it must read as an error here, not as its epoch.
    */
  private def numOp(t: Column): Column =
    when(E.hasNumericDt(t), t.getField("num"))
  /** Promoted result rank of the group (18.5.1.5: Sum's type follows the
    * operands through op:numeric-add): max operand rank, at least
    * `minRank` (1 for AVG — integer division yields a decimal), integer
    * for the empty group (the spec's `"0"^^xsd:integer` base case).
    */
  private def groupRank(t: Column, minRank: Int): Column = {
    val r = greatest(coalesce(max(E.numRank(t)), lit(0)), lit(minRank))
    when(count(lit(1)) === 0, lit(0)).otherwise(r)
  }
  private def numAgg(t: Column, agg: Column => Column,
      minRank: Int = 0): Column = {
    val total = count(lit(1))
    val operand = numOp(t)
    E.typedNumTerm(when(total === 0, lit(0.0))
      .when(total === count(operand), agg(operand))
      .otherwise(lit(null).cast(DoubleType)),
      groupRank(t, minRank))
  }
  def sumNum(v: String): Fn = r => numAgg(r(v), sum)
  def avgNum(v: String): Fn = r => numAgg(r(v), avg, minRank = 1)
  def minNum(v: String): Fn = r => E.numTerm(min(r(v).getField("num")))
  def maxNum(v: String): Fn = r => E.numTerm(max(r(v).getField("num")))
  def minStr(v: String): Fn = r => E.strTerm(min(r(v).getField("value")))
  def maxStr(v: String): Fn = r => E.strTerm(max(r(v).getField("value")))
  /** GROUP_CONCAT; sorted for determinism (SPARQL leaves order unspecified —
    * a fixed order is a legal refinement and makes the oracle comparable).
    */
  def groupConcat(v: String, sep: String = " "): Fn =
    r => E.strTerm(array_join(array_sort(collect_list(r(v).getField("value"))), sep))
  /** SAMPLE — any value is legal; min is a deterministic legal choice. */
  def sample(v: String): Fn = r => E.strTerm(min(r(v).getField("value")))

  // ---- expression-operand variants (parser aggregates over full exprs) ----

  /** COUNT(DISTINCT *) = number of DISTINCT solutions. `val` (identity-
    * recognized like countStar): the compiler rewrites it to
    * `count_distinct(struct(<all solution columns>))`.
    */
  val countDistinctStar: Fn = _ =>
    E.typedNumTerm(count_distinct(struct(col("*"))), lit(0))
  def countE(e: Fn): Fn = r => E.typedNumTerm(count(e(r)), lit(0))
  def countDistinctE(e: Fn): Fn = r =>
    E.typedNumTerm(count_distinct(e(r)), lit(0))
  def sumE(e: Fn): Fn = r => numAgg(e(r), sum)
  def sumDistinctE(e: Fn): Fn = r => numAgg(e(r), sum_distinct)
  def avgE(e: Fn): Fn = r => numAgg(e(r), avg, minRank = 1)
  def avgDistinctE(e: Fn): Fn = r => numAgg(e(r),
    op => sum_distinct(op) / count_distinct(op), minRank = 1)
  /** Term-ordered MIN/MAX (SPARQL total order, the O2 sort key): min_by/max_by
    * return the WITNESS term itself, so strings/dates/IRIs work — not just
    * numerics (A3 through the text parser).
    */
  def minTermE(e: Fn): Fn = r => min_by(e(r), E.sortKey(e)(r))
  def maxTermE(e: Fn): Fn = r => max_by(e(r), E.sortKey(e)(r))
  def sampleE(e: Fn): Fn = r => min_by(e(r), E.sortKey(e)(r))
  def groupConcatE(e: Fn, sep: String, distinct: Boolean): Fn = r => {
    val vals = if (distinct) collect_set(e(r).getField("value"))
    else collect_list(e(r).getField("value"))
    E.strTerm(array_join(array_sort(vals), sep))
  }
}
