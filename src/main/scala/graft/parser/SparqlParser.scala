package graft.parser

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import graft.algebra._
import graft.algebra.ShapeCache.Slot
import graft.functions.SparqlFunctions
import graft.model.{Quad, Rdf, RdfTerm}
import graft.paths.{PAlt, PInv, PNegated, POneOrMore, PSeq, PZeroOrOne, Path, Pred}
import graft.sources.NTriplesReader

/** SPARQL 1.1 text → algebra (SURVEY EP1: `SparqlParser (text → AST) →
  * Algebra → Compiler → Catalyst`). Hand-rolled recursive descent over the
  * surface the reference exercises plus the standard core:
  *
  * SELECT (DISTINCT/REDUCED, `*`, vars, `(expr AS ?v)`, aggregates over full
  * expressions incl. DISTINCT, term-ordered MIN/MAX, COUNT(DISTINCT *)) /
  * ASK / CONSTRUCT; FROM / FROM NAMED dataset clauses (8.2); WHERE groups
  * with triples blocks (`;`/`,`/`a`, blank-node property lists `[…]`, RDF
  * collections `(…)` in object position, property paths `/ | ^ + * ?` and
  * `!(…)`), FILTER (incl. EXISTS / NOT EXISTS; filters scope to the whole
  * group per SPARQL 18.2.2), OPTIONAL (group FILTERs lifted into the LeftJoin
  * condition, 18.2.2.2), MINUS, UNION, BIND, VALUES, GRAPH, subqueries
  * `{ SELECT … }`; GROUP BY (vars and `(expr AS ?v)`) / HAVING (aggregates
  * allowed directly, e.g. `HAVING (COUNT(*) > 5)`) / ORDER BY / LIMIT /
  * OFFSET; the §2.8 builtin library via [[SparqlFunctions]].
  *
  * Aggregates may also appear INSIDE compound projection expressions
  * (`(SUM(?a)/COUNT(?b) AS ?r)`) and HAVING.
  *
  * SERVICE [SILENT] resolves against catalog-registered sub-engines
  * (`GraphCatalog.registerService`); unknown endpoints error unless SILENT.
  *
  * Property paths are dataset-aware: GRAPH and single-FROM re-scope the
  * step; a multi-graph FROM merges the step's edges across the FROM graphs
  * (SPARQL 8.2 merged default graph), so closures hop across source graphs.
  *
  * Collections `(…)` parse in object AND subject position (fresh-variable
  * rdf:first/rest chains).
  */
object SparqlParser {

  sealed trait QueryForm
  final case class SelectQ(op: Op, projection: Seq[String]) extends QueryForm
  final case class AskQ(op: Op) extends QueryForm
  /** Template patterns reference the WHERE solution's variables. */
  final case class ConstructQ(op: Op, template: Seq[TriplePattern]) extends QueryForm
  /** DESCRIBE: explicit resources and/or variables bound by an optional WHERE. */
  final case class DescribeQ(terms: Seq[PTerm], where: Option[Op]) extends QueryForm

  /** SPARQL 1.1 Update operations (S6 text grammar — the reference accepts
    * update strings on `/repositories/{id}/statements`, `init-graphdb.sh:90`).
    * `DELETE WHERE {p}` parses as [[ModifyU]] with `del = p` and `where = p`.
    */
  sealed trait UpdateForm
  final case class InsertDataU(quads: Seq[Quad]) extends UpdateForm
  final case class DeleteDataU(quads: Seq[Quad]) extends UpdateForm
  final case class ModifyU(del: Seq[TriplePattern], ins: Seq[TriplePattern],
      where: Op) extends UpdateForm

  /** Graph ref for the management operations (SPARQL 1.1 Update §3.2):
    * `DEFAULT`, `NAMED` (all named graphs), `ALL`, or one named graph.
    */
  sealed trait GraphTarget
  case object DefaultT extends GraphTarget
  case object NamedT extends GraphTarget
  case object AllT extends GraphTarget
  final case class GraphT(iri: String) extends GraphTarget

  /** CLEAR and DROP are distinct forms per the grammar but identical over a
    * quad snapshot (graph existence is not tracked: an empty graph IS
    * absence), so both remove the target's quads; `silent` is recorded for
    * protocol fidelity.
    */
  final case class ClearU(target: GraphTarget, silent: Boolean) extends UpdateForm
  final case class DropU(target: GraphTarget, silent: Boolean) extends UpdateForm
  final case class CreateU(graph: String, silent: Boolean) extends UpdateForm
  final case class LoadU(source: String, into: Option[String],
      silent: Boolean) extends UpdateForm
  /** COPY/MOVE/ADD (`kind`) — whole-graph transfer between DEFAULT and a
    * named graph (SPARQL 1.1 Update §3.2.3-3.2.5). */
  final case class CopyMoveAddU(kind: String, from: GraphTarget,
      to: GraphTarget, silent: Boolean) extends UpdateForm

  /** SPARQL 1.1 §19.2 codepoint escape sequences: `\\uXXXX` and
    * `\\UXXXXXXXX` may appear ANYWHERE in the query string (not only in
    * literals — variable names, IRIs) and are processed BEFORE grammar
    * parsing, exactly once, left to right. Surrogate-range codepoints
    * from `\\U` expand to their UTF-16 pair. Per the spec's own model a
    * preceding backslash does NOT shield the sequence (the preprocessing
    * runs before string-escape parsing), so a literal backslash-u text
    * is written `\\u005Cu` — the documented way to defeat the pass.
    */
  private[graft] def unescapeCodepoints(q: String): String = {
    if (q.indexOf("\\u") < 0 && q.indexOf("\\U") < 0) return q
    val sb = new StringBuilder(q.length)
    var i = 0
    def hex(from: Int, len: Int): Int = {
      if (from + len > q.length) return -1
      var v = 0
      var k = from
      while (k < from + len) {
        val d = Character.digit(q.charAt(k), 16)
        if (d < 0) return -1
        v = v * 16 + d
        k += 1
      }
      v
    }
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '\\' && i + 1 < q.length &&
          (q.charAt(i + 1) == 'u' || q.charAt(i + 1) == 'U')) {
        val long = q.charAt(i + 1) == 'U'
        val v = hex(i + 2, if (long) 8 else 4)
        if (v >= 0 && v <= 0x10FFFF) {
          sb.appendAll(Character.toChars(v))
          i += (if (long) 10 else 6)
        } else { sb.append(c); i += 1 } // not a codepoint escape: verbatim
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** A SELECT or ASK root comes back as a [[Prepared]] op, so the
    * compiler answers it from its shape's cached plan ([[ShapeCache]]).
    */
  def parse(query: String): QueryForm = {
    val text = unescapeCodepoints(query)
    val p = new P(text)
    val q = complete(p)
    def prepared(op: Op): Op = {
      val slots = p.slots
      Prepared(ShapeCache.shape(text, slots), slots.map(_.term),
        terms => complete(new P(text,
            overrides = slots.map(_.start).zip(terms).toMap)) match {
          case SelectQ(o, _) => o
          case AskQ(o) => o
          case other => throw new IllegalStateException(s"re-parsed as $other")
        }, op)
    }
    q match {
      case SelectQ(op, projection) => SelectQ(prepared(op), projection)
      case AskQ(op) => AskQ(prepared(op))
      case other => other
    }
  }

  private def complete(p: P): QueryForm = {
    val q = p.parseQuery()
    // trailing text after a complete query is a SYNTAX error, not silently
    // ignored input (tranche 28 — a dropped second HAVING constraint hid
    // behind this)
    p.expectEnd()
    q
  }

  /** Per-execution sequence mixed into DATA-block bnode labels: SPARQL 1.1
    * Update 19.6 requires bnodes fresh PER EXECUTION, disjoint from the
    * store — re-running the identical INSERT DATA must mint new bnodes, so
    * the label can't be a pure function of the request text (which made the
    * second run a set-semantics no-op, r9 ADVICE).
    */
  private val updateExec = new java.util.concurrent.atomic.AtomicLong(0)

  /** Parse a SPARQL Update request: one or more `;`-separated operations. */
  def parseUpdate(text: String): Seq[UpdateForm] =
    new P(unescapeCodepoints(text), updateExec.incrementAndGet())
      .parseUpdates()

  /** FROM dataset scoping (SPARQL 8.2): the WHERE clause's default graph
    * becomes the MERGE of the FROM graphs. A single FROM rewrites each
    * default-graph pattern's graph in place (star collapse preserved),
    * including recursive-path ops; several FROMs expand each pattern to a
    * DISTINCT union over the graphs (merge = set union of triples) — paths
    * under multi-FROM keep the default graph (v1). GRAPH-scoped patterns are
    * untouched.
    */
  private[parser] def rescope(op: Op, graphs: Seq[String]): Op = {
    val dg = I(Rdf.DefaultGraph)
    def go(op: Op): Op = op match {
      case Bgp(pats) if graphs.size == 1 =>
        Bgp(pats.map(p => if (p.graph == dg) p.copy(graph = I(graphs.head)) else p))
      case Bgp(pats) =>
        pats.map { p =>
          if (p.graph == dg)
            DistinctOp(graphs.map(g => Bgp(Seq(p.copy(graph = I(g)))): Op)
              .reduce(UnionOp(_, _))): Op
          else Bgp(Seq(p)): Op
        }.reduce(JoinOp(_, _))
      case FilterOp(c, ch) => FilterOp(c, go(ch))
      case JoinOp(l, r) => JoinOp(go(l), go(r))
      case LeftJoin(l, r, c, ex, marks) =>
        LeftJoin(go(l), go(r), c, ex.map { case (p, b) => (go(p), b) },
          marks.map { case (n, p, b) => (n, go(p), b) })
      case UnionOp(l, r) => UnionOp(go(l), go(r))
      case MinusOp(l, r) => MinusOp(go(l), go(r))
      case ExistsOp(l, r, p) => ExistsOp(go(l), go(r), p)
      case BindExistsOp(n, pat, p, c) => BindExistsOp(n, go(pat), p, go(c))
      case Extend(nm, e, ch) => Extend(nm, e, go(ch))
      case Project(v, ch) => Project(v, go(ch))
      case DistinctOp(ch) => DistinctOp(go(ch))
      case ReducedOp(ch) => ReducedOp(go(ch))
      case Group(k, a, ch) => Group(k, a, go(ch))
      case OrderBy(k, ch) => OrderBy(k, go(ch))
      case Slice(o0, l0, ch) => Slice(o0, l0, go(ch))
      case p @ PathClosureOp(_, _, _, _, g, Nil) if graphs.size == 1 && g == dg =>
        p.copy(graph = I(graphs.head))
      case p @ PathClosureOp(_, _, _, _, g, Nil) if g == dg =>
        // multi-graph FROM: the step's edges become the MERGED default graph
        // (union of the FROM graphs) so closures may hop across graphs
        p.copy(mergeGraphs = graphs)
      case p @ PathZeroOrOneOp(_, _, _, g, Nil) if graphs.size == 1 && g == dg =>
        p.copy(graph = I(graphs.head))
      case p @ PathZeroOrOneOp(_, _, _, g, Nil) if g == dg =>
        p.copy(mergeGraphs = graphs)
      case other => other // ValuesOp, Unit0, Wrap
    }
    go(op)
  }

  // ------------------------------------------------------------------ P

  /** `overrides`: constants to parse in the slots starting at these
    * offsets instead of the text's own (a prepared shape's sentinels).
    */
  private final class P(input: String, execId: Long = 0,
      overrides: Map[Int, RdfTerm] = Map.empty) {
    private var pos = 0
    private val n = input.length

    /** Constant slots by start offset, each with the text's own constant
      * (not an override). See [[ShapeCache]] for what is a slot.
      */
    private val slotMap = collection.mutable.TreeMap[Int, Slot]()
    def slots: Seq[Slot] = slotMap.values.toSeq
    private def slotOf(start: Int, t: RdfTerm, end: Int = pos): Option[Slot] =
      ShapeCache.slotClass(t, numeric = "+-.0123456789".contains(input.charAt(start)))
        .map(Slot(start, end, _, t))
    /** Record `s` as a slot; the constant this parse uses there. */
    private def fill(s: Slot): RdfTerm = {
      slotMap(s.start) = s
      overrides.getOrElse(s.start, s.term)
    }
    /** A triple pattern's subject or object term. */
    private def slotTerm(): PTerm = {
      ws()
      val start = pos
      parseTerm() match {
        case I(iri) =>
          slotOf(start, RdfTerm.iri(iri)).fold[PTerm](I(iri))(s => I(fill(s).value))
        case L(t) => slotOf(start, t).fold[PTerm](L(t))(s => L(fill(s)))
        case other => other
      }
    }
    private val prefixes = collection.mutable.Map[String, String]()
    // BASE for relative IRIREFs — same resolution convention as the Turtle
    // loader (TurtleReader.parseIriRef): RFC 3986 §5.2 via IriResolver, so
    // query text and loaded data agree on the resolved form.
    private var base: String = ""
    private var varCount = 0
    private def fresh(): String = { varCount += 1; s"__q$varCount" }
    // `_:label` in a query pattern is a NON-DISTINGUISHED variable scoped to
    // its group graph pattern; reusing a label in two different groups (e.g.
    // two UNION arms) is a syntax error (19.6: a blank node label may not
    // occur in two different basic graph patterns of one query).
    private val bnodeScopes =
      collection.mutable.Stack[collection.mutable.Map[String, String]]()
    private val closedBnodeLabels = collection.mutable.Set[String]()
    private def bnodeVar(label: String): PTerm = {
      if (bnodeScopes.isEmpty)
        bnodeScopes.push(collection.mutable.Map()) // bare top-level triples
      val cur = bnodeScopes.top
      cur.get(label) match {
        case Some(v) => V(v)
        case None =>
          if (closedBnodeLabels.contains(label) ||
              bnodeScopes.drop(1).exists(_.contains(label)))
            err(s"blank node label _:$label used in two different basic " +
              "graph patterns (19.6)")
          val v = fresh()
          cur(label) = v
          V(v)
      }
    }
    /** FROM NAMED set: `GRAPH ?g` ranges over it only. SPARQL 8.2: when ANY
      * dataset clause is present ([[hasDataset]]), the named-graph set is
      * EXACTLY the FROM NAMED list — FROM alone makes GRAPH match nothing.
      */
    private var namedGraphs: Seq[String] = Nil
    private var hasDataset = false
    /** Non-null while parsing a HAVING expression: aggregate calls register
      * here as extra (fresh-named) Group outputs and read back as vars.
      */
    private var havingAggs: collection.mutable.ArrayBuffer[(String, E.Fn)] = null
    // 18.2.4: aggregate calls cannot be nested — set while parsing an
    // aggregate's ARGUMENT expression so a nested aggregate errors even on
    // the expression path (tranche 42's trial-parse backtracking otherwise
    // registers SUM(AVG(?v)) as two independent group outputs). Patterns
    // (EXISTS groups, sub-SELECTs) reset it: the rule is about the argument
    // expression itself, not aggregates of a nested query.
    private var inAggArg = false

    private def err(msg: String) = throw new IllegalArgumentException(
      s"SPARQL parse error at $pos: $msg (near '${input.slice(pos, pos + 40)}')")

    /** After a complete query: only whitespace/comments may remain. */
    def expectEnd(): Unit = {
      ws()
      if (pos < n) err("unexpected trailing input after the query")
    }

    private def ws(): Unit = {
      var go = true
      while (go && pos < n) {
        val c = input.charAt(pos)
        if (c == '#') { while (pos < n && input.charAt(pos) != '\n') pos += 1 }
        else if (c.isWhitespace) pos += 1
        else go = false
      }
    }
    private def peek(s: String): Boolean = {
      ws()
      input.regionMatches(true, pos, s, 0, s.length) &&
        (!s.last.isLetterOrDigit || pos + s.length >= n ||
          !(input.charAt(pos + s.length).isLetterOrDigit || input.charAt(pos + s.length) == '_'))
    }
    /** [[peek]] AND the match is a keyword TOKEN, not the prefix of a
      * prefixed name: PN_PREFIX admits any letter-led name, so `LIMIT:a`
      * is a PNAME with prefix "LIMIT" — a following ':' means the word is
      * data, not a clause keyword (r17 ADVICE: `DESCRIBE LIMIT:a` must
      * keep `LIMIT:a` in the resource list).
      */
    private def peekKw(s: String): Boolean =
      peek(s) && (pos + s.length >= n || input.charAt(pos + s.length) != ':')
    private def accept(s: String): Boolean = { if (peek(s)) { pos += s.length; true } else false }
    private def expect(s: String): Unit = if (!accept(s)) err(s"expected '$s'")
    private def peekChar: Char = { ws(); if (pos < n) input.charAt(pos) else ' ' }

    /** In-scope variables of a partially-built group pattern (SPARQL 18.2.1
      * "in-scope" table) — the §10.1 BIND-target check.
      */
    private def scopeVars(op: Op): Set[String] = op match {
      case Bgp(ps) => ps.flatMap(p => Seq(p.s, p.p, p.o, p.graph))
        .collect { case V(n) => n }.toSet
      case FilterOp(_, c) => scopeVars(c)
      case JoinOp(l, r) => scopeVars(l) ++ scopeVars(r)
      case lj: LeftJoin => scopeVars(lj.left) ++ scopeVars(lj.right)
      case UnionOp(l, r) => scopeVars(l) ++ scopeVars(r)
      case MinusOp(l, _) => scopeVars(l)
      case ExistsOp(l, _, _) => scopeVars(l)
      case BindExistsOp(n, _, _, c) => scopeVars(c) + n
      case Extend(n, _, c) => scopeVars(c) + n
      case Project(vs, _) => vs.toSet
      case DistinctOp(c) => scopeVars(c)
      case ReducedOp(c) => scopeVars(c)
      case d: DistinctOrdered => d.vars.toSet
      case Group(keys, aggs, _) => keys.toSet ++ aggs.map(_._1)
      case OrderBy(_, c) => scopeVars(c)
      case Slice(_, _, c) => scopeVars(c)
      case ValuesOp(vs, _) => vs.toSet
      case NamedGraphsOp(n) => Set(n)
      case s: ServiceOp => (s.endpoint match {
        case V(n) => Set(n); case _ => Set.empty[String]
      }) ++ scopeVars(s.inner)
      case w: Wrap => w.cert ++ w.maybe
      case p: PathClosureOp => Seq(p.s, p.o).collect { case V(n) => n }.toSet
      case p: PathZeroOrOneOp => Seq(p.s, p.o).collect { case V(n) => n }.toSet
      case _ => Set.empty
    }

    /** MUST-bind (certain) variables: bound in EVERY solution of `op`.
      * Differs from [[scopeVars]] (may-bind) exactly where bindings can
      * be partial: UNION intersects its arms, OPTIONAL contributes only
      * its left side, BIND may error to unbound, VALUES rows may carry
      * UNDEF, SERVICE SILENT may yield the empty solution. Used by the
      * `GRAPH ?g` enumeration decision (18.2.2.6): the named-graph join
      * is needed whenever some solution could leave ?g unbound.
      */
    private def certVars(op: Op): Set[String] = op match {
      case Bgp(ps) => ps.flatMap(p => Seq(p.s, p.p, p.o, p.graph))
        .collect { case V(n) => n }.toSet
      case FilterOp(_, c) => certVars(c)
      case JoinOp(l, r) => certVars(l) ++ certVars(r)
      case lj: LeftJoin => certVars(lj.left)
      case UnionOp(l, r) => certVars(l).intersect(certVars(r))
      case MinusOp(l, _) => certVars(l)
      case ExistsOp(l, _, _) => certVars(l)
      case BindExistsOp(n, _, _, c) => certVars(c) + n
      case Extend(_, _, c) => certVars(c) // BIND error → unbound (17.4.1.2)
      case Project(vs, c) => certVars(c).intersect(vs.toSet)
      case DistinctOp(c) => certVars(c)
      case ReducedOp(c) => certVars(c)
      case d: DistinctOrdered => certVars(d.child).intersect(d.vars.toSet)
      case Group(keys, _, c) => keys.toSet.intersect(certVars(c))
      case OrderBy(_, c) => certVars(c)
      case Slice(_, _, c) => certVars(c)
      case ValuesOp(vs, rows) => vs.zipWithIndex.collect {
        case (v, i) if rows.nonEmpty && rows.forall(_(i).isDefined) => v
      }.toSet
      case NamedGraphsOp(n) => Set(n)
      case s: ServiceOp => if (s.silent) Set.empty else certVars(s.inner)
      case w: Wrap => w.cert
      case p: PathClosureOp => Seq(p.s, p.o).collect { case V(n) => n }.toSet
      case p: PathZeroOrOneOp => Seq(p.s, p.o).collect { case V(n) => n }.toSet
      case _ => Set.empty
    }

    // ---------------- terms

    private def parseIriRef(): String = {
      ws()
      if (input.charAt(pos) != '<') err("expected <iri>")
      val e = input.indexOf('>', pos)
      val iri = input.substring(pos + 1, e); pos = e + 1
      graft.model.IriResolver.resolve(base, iri) // RFC 3986 §5.2 (§19.8 BASE)
    }

    private def pnameChar(c: Char) =
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.'

    // §19.8 PN_LOCAL_ESC: characters a local name may carry behind '\'
    private val pnLocalEsc = "_~.-!$&'()*+,;=/?#@%"
    private def hexDigit(c: Char) =
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

    private def parsePName(): String = {
      ws()
      val start = pos
      while (pos < n && pnameChar(input.charAt(pos))) pos += 1
      val pre = input.substring(start, pos)
      if (pos >= n || input.charAt(pos) != ':') err(s"expected prefixed name, got '$pre'")
      pos += 1
      // local part: plain name chars, PN_LOCAL_ESC backslash escapes
      // (the escape drops, the character stays), and PERCENT `%HH`
      // sequences kept VERBATIM (§19.8 PLX — pre-encoded, not decoded)
      val sb = new StringBuilder
      val escaped = collection.mutable.ArrayBuffer[Boolean]()
      var go = true
      while (pos < n && go) {
        val c = input.charAt(pos)
        if (pnameChar(c)) { sb.append(c); escaped += false; pos += 1 }
        else if (c == '\\' && pos + 1 < n &&
            pnLocalEsc.indexOf(input.charAt(pos + 1)) >= 0) {
          sb.append(input.charAt(pos + 1)); escaped += true; pos += 2
        } else if (c == '%' && pos + 2 < n &&
            hexDigit(input.charAt(pos + 1)) && hexDigit(input.charAt(pos + 2))) {
          sb.append(input.substring(pos, pos + 3))
          escaped ++= Seq(false, false, false); pos += 3
        } else go = false
      }
      var local = sb.toString
      // a local name may not END with an unescaped '.' (an escaped one is
      // legal content and stays)
      while (local.endsWith(".") && !escaped.last) {
        local = local.dropRight(1); escaped.remove(escaped.length - 1); pos -= 1
      }
      prefixes.getOrElse(pre, err(s"unknown prefix '$pre:'")) + local
    }

    private def parseVarName(): String = {
      ws()
      if (peekChar != '?' && peekChar != '$') err("expected variable")
      pos += 1
      val s = pos
      while (pos < n && (input.charAt(pos).isLetterOrDigit || input.charAt(pos) == '_')) pos += 1
      input.substring(s, pos)
    }

    private def parseLiteralTerm(): RdfTerm = {
      ws()
      val c = input.charAt(pos)
      if (c == '"' || c == '\'') {
        val lex = parseStringLit()
        if (pos < n && input.charAt(pos) == '@') {
          pos += 1; val s = pos
          while (pos < n && (input.charAt(pos).isLetterOrDigit || input.charAt(pos) == '-')) pos += 1
          RdfTerm.lang(lex, input.substring(s, pos))
        } else if (input.startsWith("^^", pos)) {
          pos += 2
          val dt = if (peekChar == '<') parseIriRef() else parsePName()
          RdfTerm.typed(lex, dt)
        } else RdfTerm.str(lex)
      } else if (c == '+' || c == '-' || c.isDigit || c == '.') {
        val s = pos
        if (c == '+' || c == '-') pos += 1
        var dot = false; var exp = false
        while (pos < n && (input.charAt(pos).isDigit ||
          (input.charAt(pos) == '.' && !dot && { dot = true; true }) ||
          ((input.charAt(pos) == 'e' || input.charAt(pos) == 'E') && !exp && { exp = true; true }) ||
          ((input.charAt(pos) == '+' || input.charAt(pos) == '-') && exp &&
            (input.charAt(pos - 1) == 'e' || input.charAt(pos - 1) == 'E')))) pos += 1
        var lex = input.substring(s, pos)
        if (lex.endsWith(".")) { lex = lex.dropRight(1); pos -= 1 }
        val dt = if (exp) Rdf.XsdDouble else if (dot) Rdf.XsdDecimal else Rdf.XsdInteger
        RdfTerm.typed(lex, dt)
      } else if (accept("true")) RdfTerm(Rdf.KindLiteral, "true", Some(Rdf.XsdBoolean), None, None)
      else if (accept("false")) RdfTerm(Rdf.KindLiteral, "false", Some(Rdf.XsdBoolean), None, None)
      else err("expected literal")
    }

    private def parseStringLit(): String = {
      val q = input.charAt(pos)
      val delim = if (input.startsWith(s"$q$q$q", pos)) s"$q$q$q" else q.toString
      pos += delim.length
      val sb = new StringBuilder
      while (pos < n && !input.startsWith(delim, pos)) {
        val c = input.charAt(pos)
        if (c == '\\' && pos + 1 < n) {
          pos += 1
          sb.append(input.charAt(pos) match {
            case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
            case 'b' => '\b'; case 'f' => '\f' // ECHAR (§19.8 grammar)
            case other => other // \" \' \\ — and leniently anything else
          })
          pos += 1
        } else { sb.append(c); pos += 1 }
      }
      pos += delim.length
      sb.toString
    }

    /** Is the next token the bare keyword `a` (not a prefixed name `a:x`)? */
    private def bareA: Boolean = {
      ws()
      pos < n && input.charAt(pos) == 'a' &&
        (pos + 1 >= n || !(pnameChar(input.charAt(pos + 1)) || input.charAt(pos + 1) == ':'))
    }

    private def parseTerm(): PTerm = {
      peekChar match {
        case '?' | '$' => V(parseVarName())
        case '<' => I(parseIriRef())
        case '"' | '\'' => L(parseLiteralTerm())
        case c if c == '+' || c == '-' || c.isDigit => L(parseLiteralTerm())
        case '_' if input.startsWith("_:", pos) =>
          pos += 2
          val s0 = pos
          while (pos < n && pnameChar(input.charAt(pos))) pos += 1
          var label = input.substring(s0, pos)
          while (label.endsWith(".")) { label = label.dropRight(1); pos -= 1 }
          if (label.isEmpty) err("expected blank node label after '_:'")
          bnodeVar(label)
        case _ =>
          if (peek("true") || peek("false")) L(parseLiteralTerm())
          else if (bareA) { pos += 1; I(Rdf.RdfType) }
          else I(parsePName())
      }
    }

    // ---------------- paths

    private def parsePath(): Path = {
      var p = parsePathSeq()
      while (accept("|")) p = PAlt(p, parsePathSeq())
      p
    }
    private def parsePathSeq(): Path = {
      var p = parsePathElt()
      while (peekChar == '/' && !input.startsWith("//", pos)) { pos += 1; p = PSeq(p, parsePathElt()) }
      p
    }
    private def parsePathElt(): Path = {
      val inv = accept("^")
      val prim: Path = peekChar match {
        case '(' => expect("("); val p = parsePath(); expect(")"); p
        case '!' =>
          pos += 1
          // §9.1: !(F ∪ ^I) ≡ alt(NPS(F), inv(NPS(I))) — forward edges with
          // predicate ∉ F plus REVERSE edges with predicate ∉ I; a set with
          // only inverse members matches no forward edge at all.
          val fwd = collection.mutable.ArrayBuffer[String]()
          val bwd = collection.mutable.ArrayBuffer[String]()
          def member(): Unit = {
            val inverse = accept("^")
            val iri = if (peekChar == '<') parseIriRef()
            else if (peek("a")) { expect("a"); Rdf.RdfType } else parsePName()
            (if (inverse) bwd else fwd) += iri
          }
          // PathNegatedPropertySet ::= PathOneInPropertySet |
          //   '(' (PathOneInPropertySet ('|' …)*)? ')'  (§19.8) — the bare
          // single-member form `!iri` / `!^iri` needs no parentheses, so
          // `!:q/:r` parses as (!:q)/:r (tranche 27)
          ws()
          if (peekChar == '(') {
            expect("(")
            while (!accept(")")) { member(); accept("|"); () }
          } else member()
          if (bwd.isEmpty) PNegated(fwd.toSeq)
          else if (fwd.isEmpty) PInv(PNegated(bwd.toSeq))
          else PAlt(PNegated(fwd.toSeq), PInv(PNegated(bwd.toSeq)))
        case '<' => Pred(parseIriRef())
        case _ =>
          if (bareA) { pos += 1; Pred(Rdf.RdfType) }
          else Pred(parsePName())
      }
      val base = if (inv) PInv(prim) else prim
      ws()
      if (pos < n) input.charAt(pos) match {
        case '+' => pos += 1; POneOrMore(base)
        case '*' => pos += 1; PZeroOrOne(POneOrMore(base)) // `*` = zero-length ∪ `+`
        case '?' if pos + 1 >= n || !(input.charAt(pos + 1).isLetterOrDigit ||
            input.charAt(pos + 1) == '_') =>
          pos += 1; PZeroOrOne(base)
        case _ => base
      } else base
    }

    /** Turn `s path o` into algebra — recursive/optional forms become their
      * dedicated algebra nodes (`+`/`*` → PathClosureOp, `?` → PathZeroOrOneOp).
      */
    private def pathToOp(s: PTerm, path: Path, o: PTerm, graph: PTerm): Op =
      graft.paths.PropertyPaths.toOp(s, path, o, graph)

    // ---------------- group graph pattern

    // ---- EXISTS in arbitrary EXPRESSION positions (r12, generalizing the
    // tranche-21 outermost-BIND form): each `EXISTS{…}` occurrence inside
    // an expression becomes a fresh internal mark variable `__exN`; the
    // (name, pattern, positive) triple queues here and DRAINS as a
    // `BindExistsOp` wrapped around the op the enclosing expression
    // evaluates against — BIND drains onto its child immediately, FILTER
    // expressions drain onto the group op at group end (18.2.2: filters
    // see the whole group), nested groups drain within themselves (stack
    // discipline via the `from` index). The expression then just reads the
    // mark variable: a real boolean term, so `IF(EXISTS{…},…)`,
    // `EXISTS{…} || ?x`, `!EXISTS{…}` all compose.
    private val pendingEx =
      collection.mutable.ArrayBuffer[(String, Op, Boolean)]()
    // EXISTS marks queued inside AGGREGATE ARGUMENTS (r12 cont.): the
    // argument expression evaluates per PRE-group input solution (18.2.4),
    // so these marks drain onto the op right before the Group is built —
    // a separate queue from pendingEx, whose SELECT-list marks bind against
    // the GROUP solution instead. Stack discipline via index marks keeps
    // nested sub-SELECTs draining only their own entries.
    private val aggEx =
      collection.mutable.ArrayBuffer[(String, Op, Boolean)]()
    private def drainAggExists(op: Op, from: Int): Op = {
      val xs = aggEx.drop(from).toList
      aggEx.remove(from, aggEx.length - from)
      xs.foldLeft(op) { case (a, (n, p, pos0)) => BindExistsOp(n, p, pos0, a) }
    }
    private var exGraph: PTerm = I(Rdf.DefaultGraph)
    private def drainExists(op: Op, from: Int): Op = {
      val xs = pendingEx.drop(from).toList
      pendingEx.remove(from, pendingEx.length - from)
      xs.foldLeft(op) { case (a, (n, p, pos0)) => BindExistsOp(n, p, pos0, a) }
    }
    private def parseGroup(graph: PTerm): Op = {
      val mark = pendingEx.length
      val aggArgSave = inAggArg
      inAggArg = false
      try {
        val (op, filters, existsFs) = parseGroupParts(graph)
        val withExists = existsFs.foldLeft(op) { case (a, (p, pos0)) => ExistsOp(a, p, pos0) }
        applyFilters(drainExists(withExists, mark), filters)
      } finally inAggArg = aggArgSave
    }

    private def applyFilters(op: Op, filters: Seq[Ex]): Op = {
      // FILTER-driven predicate pruning: `FILTER(?p IN (<a>,<b>))` /
      // `FILTER(?p = <a>)` over a variable-PREDICATE triple pattern
      // rewrites the pattern to a union of constant-predicate scans (each
      // Extend-binding ?p). A variable predicate otherwise compiles to the
      // full quad lift — every column of every table scanned, exploded
      // arity× and filtered AFTER the explode, which Catalyst cannot prune
      // (the predicate is an exploded array element, not a scan column).
      // At 100 TB this is scan-the-store vs scan-the-named-predicates. The
      // original FILTER still applies afterwards (it passes trivially on
      // the survivors), so the rewrite is semantics-preserving even where
      // the walk declines to descend.
      val pruned = filters.flatMap(_.predHints).foldLeft(op) {
        case (a, (v, iris)) if iris.nonEmpty => pruneVarPred(a, v, iris)
        case (a, _) => a
      }
      filters.foldLeft(pruned)((a, e) => FilterOp(r => e.boolC(r), a))
    }

    /** Rewrite every triple pattern using `?v` as its PREDICATE into a
      * union of constant-predicate patterns, one per allowed IRI, each
      * Extend-binding `?v` to that IRI. Descends only through ops whose
      * solutions the enclosing group's FILTER scopes over structurally
      * (join/union/filter/exists-mark wrappers) and leaves everything else
      * untouched — the retained FILTER keeps partial descent sound.
      * Patterns whose subject/object/graph ALSO use `?v` are skipped
      * (the Extend would collide with the in-pattern binding).
      */
    private def pruneVarPred(op: Op, v: String, iris: Seq[String]): Op =
      op match {
        case Bgp(ps) =>
          val (hit, rest) = ps.partition { tp =>
            tp.p == V(v) && tp.s != V(v) && tp.o != V(v) && tp.graph != V(v)
          }
          if (hit.isEmpty) op
          else {
            val rewritten: Seq[Op] = hit.map { tp =>
              iris.map { iri =>
                Extend(v, _ => E.termLit(RdfTerm.iri(iri)),
                  Bgp(Seq(tp.copy(p = I(iri))))): Op
              }.reduce(UnionOp(_, _))
            }
            ((if (rest.nonEmpty) Seq(Bgp(rest)) else Seq.empty[Op]) ++
              rewritten).reduce(JoinOp(_, _))
          }
        case JoinOp(l, r) =>
          JoinOp(pruneVarPred(l, v, iris), pruneVarPred(r, v, iris))
        case UnionOp(l, r) =>
          UnionOp(pruneVarPred(l, v, iris), pruneVarPred(r, v, iris))
        case FilterOp(c, ch) => FilterOp(c, pruneVarPred(ch, v, iris))
        case LeftJoin(l, r, c, ex, em) =>
          LeftJoin(pruneVarPred(l, v, iris), r, c, ex, em)
        case BindExistsOp(n, p, pos0, ch) =>
          BindExistsOp(n, p, pos0, pruneVarPred(ch, v, iris))
        case other => other
      }

    /** Parse `{ … }`, returning (pattern, top-level FILTER exprs UNAPPLIED,
      * FILTER [NOT] EXISTS constraints UNAPPLIED). SPARQL 18.2.2: a group's
      * FILTERs scope to the WHOLE group regardless of textual position, and
      * when the group is the right side of OPTIONAL ALL its constraints —
      * plain filters AND [NOT] EXISTS — become the LeftJoin condition
      * (18.2.2.2) — so the caller decides how to apply them.
      */
    private def parseGroupParts(graph: PTerm): (Op, Seq[Ex], Seq[(Op, Boolean)]) = {
      expect("{")
      bnodeScopes.push(collection.mutable.Map()) // _:label scope (19.6)
      val savedExGraph = exGraph
      exGraph = graph // expression-position EXISTS groups inherit the scope
      ws()
      // GroupGraphPattern ::= '{' ( SubSelect | GroupGraphPatternSub ) '}'
      // — a DIRECT subselect body (r16, tranche 38: `EXISTS { SELECT … }`,
      // `WHERE { SELECT … }` without the extra brace pair)
      if (peek("SELECT")) {
        val sub = parseSelect()
        ws(); expect("}")
        closedBnodeLabels ++= bnodeScopes.pop().keys
        exGraph = savedExGraph
        return (sub.op, Nil, Nil)
      }
      var acc: Op = Unit0
      val filters = collection.mutable.ArrayBuffer[Ex]()
      val existsFs = collection.mutable.ArrayBuffer[(Op, Boolean)]()
      def add(op: Op): Unit = acc = if (acc == Unit0) op else JoinOp(acc, op)
      var go = true
      while (go) {
        ws()
        if (peekChar == '}') {
          pos += 1; go = false
          closedBnodeLabels ++= bnodeScopes.pop().keys
        }
        else if (peek("FILTER")) {
          expect("FILTER")
          if (peek("EXISTS")) { expect("EXISTS"); existsFs += ((parseGroup(graph), true)) }
          else if (peek("NOT")) { expect("NOT"); expect("EXISTS"); existsFs += ((parseGroup(graph), false)) }
          // Constraint ::= BrackettedExpression | BuiltInCall | FunctionCall
          // (§19.8) — `FILTER REGEX(…)` / `FILTER geof:sfWithin(…)` need no
          // outer parentheses (tranche 12).
          else if ({ ws(); peekChar == '(' }) filters += parseBracketedExpr()
          else filters += parsePrimaryExpr()
          accept(".")
          ()
        } else if (peek("OPTIONAL")) {
          expect("OPTIONAL")
          val exMark = pendingEx.length
          val (rop, rfs, rex) = parseGroupParts(graph)
          // the optional group's trailing FILTERs become the LeftJoin
          // condition; expression-position EXISTS marks inside them (r12
          // cont.) ship WITH the LeftJoin — the compiler binds each mark
          // over the MERGED solution before evaluating the condition
          // (18.2.5: the condition sees merge(mu1, mu2))
          val marks = pendingEx.drop(exMark).toList
          pendingEx.remove(exMark, pendingEx.length - exMark)
          val cond: Option[E.Fn] =
            if (rfs.isEmpty) None
            else Some(r => rfs.map(_.boolC(r)).reduce(_ && _))
          acc = LeftJoin(acc, rop, cond, rex.toSeq, marks)
          accept(".")
          ()
        } else if (peek("MINUS")) {
          expect("MINUS")
          acc = MinusOp(acc, parseGroup(graph))
          accept(".")
          ()
        } else if (peek("BIND")) {
          expect("BIND"); expect("(")
          ws()
          starAccessor() match {
            case Some((pred, tv)) =>
              // BIND(SUBJECT(?t) AS ?v): LeftJoin with the decomposition
              // quad — bound when ?t is a quoted triple, unbound otherwise
              // (matching the accessors' error→unbound semantics).
              expect("AS")
              val v = parseVarName()
              expect(")")
              acc = LeftJoin(acc,
                Bgp(Seq(TriplePattern(V(tv), I(pred), V(v), graph))))
            case None =>
              // EXISTS / NOT EXISTS as the OUTERMOST bound expression (the
              // common expression-position form) — deeper nesting inside an
              // expression stays unsupported
              val exPos =
                if (peek("EXISTS")) { expect("EXISTS"); Some(true) }
                else if (peek("NOT")) { expect("NOT"); expect("EXISTS"); Some(false) }
                else None
              exPos match {
                case Some(positive) =>
                  val pat = parseGroup(graph)
                  expect("AS")
                  val v = parseVarName()
                  expect(")")
                  if (scopeVars(acc).contains(v))
                    err(s"BIND would rebind in-use variable ?$v")
                  acc = BindExistsOp(v, pat, positive, acc)
                case None =>
                  val exMark = pendingEx.length
                  val e = parseExpr()
                  expect("AS")
                  val v = parseVarName()
                  expect(")")
                  // §10.1/§19.8: the BIND target must not already be in use
                  // in the group graph pattern up to this point
                  if (scopeVars(acc).contains(v))
                    err(s"BIND would rebind in-use variable ?$v")
                  // EXISTS marks inside the bound expression evaluate
                  // against the group-so-far — drain them onto acc first
                  acc = Extend(v, r => e.term(r), drainExists(acc, exMark))
              }
          }
          accept(".")
          ()
        } else if (peek("VALUES")) {
          add(parseValues())
          accept(".")
          ()
        } else if (peek("SERVICE")) {
          expect("SERVICE")
          val silent = accept("SILENT")
          ws()
          val ep = if (peekChar == '?' || peekChar == '$') V(parseVarName())
          else if (peekChar == '<') I(parseIriRef()) else I(parsePName())
          // the remote pattern is evaluated against the REMOTE default
          // graph. Capture the group's VERBATIM text span and prefix the
          // current prologue — that is the sub-query the endpoint client
          // ships (SparqlEndpoint), exactly what a federating engine puts
          // on the wire.
          ws()
          val gStart = pos
          val innerOp = parseGroup(I(Rdf.DefaultGraph))
          val gText = input.substring(gStart, pos)
          val prologue = (if (base.nonEmpty) s"BASE <$base>\n" else "") +
            prefixes.map { case (p, iri) => s"PREFIX $p: <$iri>" }
              .mkString("", "\n", if (prefixes.nonEmpty) "\n" else "")
          add(ServiceOp(ep, innerOp, silent,
            s"${prologue}SELECT * WHERE $gText"))
          accept(".")
          ()
        } else if (peek("GRAPH")) {
          expect("GRAPH")
          val g = if (peekChar == '?' || peekChar == '$') V(parseVarName())
          else if (peekChar == '<') I(parseIriRef()) else I(parsePName())
          ws()
          val bodyStart = pos // for per-FROM-NAMED pseudo-graph re-parses
          // 19.6 ledger snapshot: arm re-parses below replay the SAME
          // textual group, which must not count as a second BGP for its
          // blank-node labels.
          val bnodesBeforeBody = closedBnodeLabels.toSet
          val inner0 = parseGroup(g)
          // 18.2.2.6 Graph(var, P): when P is not GUARANTEED to bind the
          // graph variable in every solution (`GRAPH ?g {}`, a pattern-free
          // body, or a UNION with a non-binding arm — r12 ADVICE: the
          // may-bind test skipped enumeration when ANY arm bound it), each
          // named graph still contributes eval(P) x {var -> g} — join
          // against the named-graph enumeration (tranche 27). For arms
          // that DO bind ?g the join is a semantic no-op (?g already
          // ranges over named graphs), handled by the compiler's
          // maybe-var compatibility machinery.
          val inner = g match {
            case V(nm) if !certVars(inner0).contains(nm) =>
              JoinOp(NamedGraphsOp(nm), inner0)
            case _ => inner0
          }
          // Dataset clauses fix the named-graph set to the FROM NAMED list
          // (8.2/8.2.3): FROM with no FROM NAMED → GRAPH matches nothing.
          // capture the CURRENT named-graph list by value: the lambda runs
          // at compile time, after parseModifyTail has restored the parser
          // var (USING NAMED silently stopped filtering otherwise)
          val ng = namedGraphs
          val scoped = g match {
            case _ if hasDataset && ng.isEmpty =>
              FilterOp(_ => lit(false), inner)
            case V(nm) if ng.nonEmpty =>
              // the store-filter arm answers the plain graphs; the FROM
              // NAMED list may ALSO name pseudo-graph views (r16) — those
              // never appear in the graph column, so add one arm per list
              // entry, re-parsed scoped to that iri and joined with the
              // {nm -> iri} binding (VALUES: compatible whether the body
              // binds nm or not). The compiler drops arms whose iri is not
              // a registered pseudo-graph, so plain lists keep their
              // single-scan shape after optimization.
              val base =
                FilterOp(r => r(nm).getField("value").isin(ng: _*), inner)
              ng.foldLeft[Op](base) { (acc, iri) =>
                pos = bodyStart
                // restore the pre-body 19.6 ledger for the re-parse, then
                // put the post-body state back so arm-local side effects
                // don't leak into subsequent patterns
                val afterBody = closedBnodeLabels.toSet
                closedBnodeLabels.clear()
                closedBnodeLabels ++= bnodesBeforeBody
                val armBody = parseGroup(I(iri))
                closedBnodeLabels.clear()
                closedBnodeLabels ++= afterBody
                UnionOp(acc, PseudoNamedArmOp(iri, nm, JoinOp(
                  ValuesOp(Seq(nm), Seq(Seq(Some(RdfTerm.iri(iri))))),
                  armBody)))
              }
            case I(iri) if ng.nonEmpty && !ng.contains(iri) =>
              FilterOp(_ => lit(false), inner)
            case _ => inner
          }
          add(scoped)
          accept(".")
          ()
        } else if (peekChar == '{') {
          // group / subquery, then a UNION chain whose arms may be either
          def groupOrSubquery(): Op = {
            val save = pos
            expect("{")
            if (peek("SELECT")) { // subquery { SELECT … } — algebra composes
              val sub = parseSelect()
              expect("}")
              sub.op
            } else { pos = save; parseGroup(graph) }
          }
          var u = groupOrSubquery()
          while (peek("UNION")) { expect("UNION"); u = UnionOp(u, groupOrSubquery()) }
          add(u)
          accept(".")
          ()
        } else {
          add(parseTriplesSameSubject(graph))
          // Grammar [53]: GraphPatternNotTriples may follow a TriplesBlock
          // with NO '.' — `?s ?p ?o FILTER(…)` / `… OPTIONAL {…}` are legal.
          if (!accept(".")) {
            ws()
            val patternFollows = peekChar == '}' || peekChar == '{' ||
              peek("FILTER") || peek("OPTIONAL") || peek("MINUS") ||
              peek("BIND") || peek("VALUES") || peek("SERVICE") || peek("GRAPH")
            if (!patternFollows) err("expected '.' or '}'")
          }
        }
      }
      exGraph = savedExGraph
      (acc, filters.toSeq, existsFs.toSeq)
    }

    private type Pats = collection.mutable.ArrayBuffer[TriplePattern]
    private type Ops = collection.mutable.ArrayBuffer[Op]

    /** One triples block. Plain patterns accumulate into ONE Bgp (so star
      * shapes keep the single-scan collapse through the text surface);
      * non-trivial path elements become separate ops joined on shared vars.
      */
    private def parseTriplesSameSubject(graph: PTerm): Op = {
      ws()
      val pats: Pats = collection.mutable.ArrayBuffer()
      val ops: Ops = collection.mutable.ArrayBuffer()
      if ({ ws(); input.startsWith("<<", pos) }) {
        // quoted triple in SUBJECT position
        val s = parseQuotedTriplePattern(graph, pats, ops)
        parsePredicateObjectList(s, graph, pats, ops)
      } else if (peekChar == '[') {
        val b = parseBnodePropList(graph, pats, ops)
        ws()
        if (peekChar != '.' && peekChar != '}')
          parsePredicateObjectList(b, graph, pats, ops)
      } else if (peekChar == '(') {
        // collection in SUBJECT position: the list-head var joins the
        // predicate-object list that follows
        val s = parseCollectionTerm(graph, pats, ops)
        ws()
        if (peekChar != '.' && peekChar != '}')
          parsePredicateObjectList(s, graph, pats, ops)
      } else {
        val s = slotTerm()
        parsePredicateObjectList(s, graph, pats, ops)
      }
      val all = (if (pats.nonEmpty) Seq(Bgp(pats.toSeq)) else Nil) ++ ops
      if (all.isEmpty) err("empty triples block")
      all.reduce(JoinOp(_, _))
    }

    /** `[ p o ; … ]` — a blank node in a query is a non-distinguished fresh
      * variable; its statements join into the enclosing block.
      */
    private def parseBnodePropList(graph: PTerm, pats: Pats, ops: Ops): PTerm = {
      expect("[")
      val b = V(fresh())
      ws()
      if (peekChar != ']') parsePredicateObjectList(b, graph, pats, ops)
      expect("]")
      b
    }

    /** `( o1 o2 … )` — rdf:first/rest chain of fresh variables; `()` = rdf:nil. */
    private def parseCollectionTerm(graph: PTerm, pats: Pats, ops: Ops): PTerm = {
      expect("(")
      val items = collection.mutable.ArrayBuffer[PTerm]()
      ws()
      while (peekChar != ')') { items += parseObjectTerm(graph, pats, ops); ws() }
      expect(")")
      if (items.isEmpty) I(Rdf.RdfNil)
      else {
        val nodes = items.map(_ => V(fresh()))
        nodes.zip(items).zipWithIndex.foreach { case ((b, item), i) =>
          pats += TriplePattern(b, I(Rdf.RdfFirst), item, graph)
          val rest: PTerm = if (i == items.length - 1) I(Rdf.RdfNil) else nodes(i + 1)
          pats += TriplePattern(b, I(Rdf.RdfRest), rest, graph)
        }
        nodes.head
      }
    }

    /** SPARQL-star `<< s p o >>` pattern (the reference engine ships
      * RDF-star): compiles to a join against the deterministic reification
      * the Turtle-star reader emits — a fresh qt var constrained by the
      * three decomposition predicates. Nests in both positions.
      */
    private def parseQuotedTriplePattern(graph: PTerm, pats: Pats, ops: Ops): PTerm = {
      expect("<<")
      val s = { ws(); if (input.startsWith("<<", pos))
        parseQuotedTriplePattern(graph, pats, ops) else parseTerm() }
      val p = parseTerm()
      val o = { ws(); if (input.startsWith("<<", pos))
        parseQuotedTriplePattern(graph, pats, ops) else parseTerm() }
      expect(">>")
      val qt = V(fresh())
      pats += TriplePattern(qt, I(Rdf.QtSubj), s, graph)
      pats += TriplePattern(qt, I(Rdf.QtPred), p, graph)
      pats += TriplePattern(qt, I(Rdf.QtObj), o, graph)
      qt
    }

    private def parseObjectTerm(graph: PTerm, pats: Pats, ops: Ops): PTerm = {
      ws()
      if (input.startsWith("<<", pos))
        return parseQuotedTriplePattern(graph, pats, ops)
      peekChar match {
        case '[' => parseBnodePropList(graph, pats, ops)
        case '(' => parseCollectionTerm(graph, pats, ops)
        case _ => slotTerm()
      }
    }

    /** SPARQL-star annotation block `{| q v ; … |}` after an object:
      * constrains the enclosing triple's quoted-triple node — a fresh qt
      * var joined via the three decomposition patterns, annotations as a
      * predicate-object list on it. No-op if no block follows.
      */
    private def maybeAnnotation(s: PTerm, p: PTerm, o: PTerm, graph: PTerm,
        pats: Pats, ops: Ops): Unit = {
      ws()
      if (input.startsWith("{|", pos)) {
        pos += 2
        val qt = V(fresh())
        pats += TriplePattern(qt, I(Rdf.QtSubj), s, graph)
        pats += TriplePattern(qt, I(Rdf.QtPred), p, graph)
        pats += TriplePattern(qt, I(Rdf.QtObj), o, graph)
        parsePredicateObjectList(qt, graph, pats, ops)
        expect("|}")
      }
    }

    private def parsePredicateObjectList(s: PTerm, graph: PTerm,
        pats: Pats, ops: Ops): Unit = {
      var morePreds = true
      while (morePreds) {
        ws()
        if (peekChar == '?' || peekChar == '$') {
          // variable predicate is a plain pattern, not a path
          val pv = V(parseVarName())
          var moreObjs = true
          while (moreObjs) {
            val o = parseObjectTerm(graph, pats, ops)
            pats += TriplePattern(s, pv, o, graph)
            maybeAnnotation(s, pv, o, graph, pats, ops)
            if (!accept(",")) moreObjs = false
          }
        } else {
          val path = parsePath()
          var moreObjs = true
          while (moreObjs) {
            val o = parseObjectTerm(graph, pats, ops)
            path match {
              case Pred(p) =>
                pats += TriplePattern(s, I(p), o, graph)
                maybeAnnotation(s, I(p), o, graph, pats, ops)
              case other =>
                ops += pathToOp(s, other, o, graph)
                ws()
                if (input.startsWith("{|", pos))
                  err("annotation block on a property PATH is not supported")
            }
            if (!accept(",")) moreObjs = false
          }
        }
        if (!accept(";")) morePreds = false
        else { ws(); if (peekChar == '.' || peekChar == '}' || peekChar == ']') morePreds = false }
      }
    }

    private def parseValues(): Op = {
      expect("VALUES")
      val vars = collection.mutable.ArrayBuffer[String]()
      val rows = collection.mutable.ArrayBuffer[Seq[Option[RdfTerm]]]()
      if (peekChar == '(') {
        expect("(")
        while (!accept(")")) vars += parseVarName()
        expect("{")
        while (!accept("}")) {
          expect("(")
          val row = collection.mutable.ArrayBuffer[Option[RdfTerm]]()
          while (!accept(")")) row += parseDataValue()
          rows += row.toSeq
        }
      } else {
        vars += parseVarName()
        expect("{")
        while (!accept("}")) rows += Seq(parseDataValue())
      }
      ValuesOp(vars.toSeq, rows.toSeq)
    }

    private def parseDataValue(): Option[RdfTerm] = {
      if (accept("UNDEF")) None
      else peekChar match {
        case '<' => Some(RdfTerm.iri(parseIriRef()))
        case '"' | '\'' => Some(parseLiteralTerm())
        case c if c == '+' || c == '-' || c.isDigit => Some(parseLiteralTerm())
        case _ =>
          if (peek("true") || peek("false")) Some(parseLiteralTerm())
          else Some(RdfTerm.iri(parsePName()))
      }
    }

    // ---------------- expressions (term-struct valued)

    /** An expression value: `term` builds the term-struct column; `boolOpt`
      * (when set) builds a PLAIN boolean column directly. Boolean operators
      * chain on `boolC` — routing `a && b && c` through term-struct `ebv`
      * wrapping duplicates subtrees ~10× per nesting level (exponential;
      * observed as analyzer OOM on the reference's Q4 four-clause filter).
      */
    /** `srcVar`/`srcIri` mark an expression that is EXACTLY a bare
      * variable / constant IRI (set only by the primary parser, cleared by
      * every combinator since the combinators build fresh Ex values).
      * `predHints` carries FILTER-derived predicate constraints
      * `?v ∈ iris` upward so [[applyFilters]] can prune variable-predicate
      * scans (see [[pruneVarPred]]); `&&` merges hints (both conjuncts
      * hold), every other combinator drops them. `slot` marks a bare
      * constant that becomes a slot if it turns out to be an operand of a
      * comparison or IN.
      */
    final case class Ex(term: (String => Column) => Column,
        boolOpt: Option[(String => Column) => Column] = None,
        srcVar: Option[String] = None, srcIri: Option[String] = None,
        predHints: List[(String, Seq[String])] = Nil,
        slot: Option[Slot] = None) {
      def boolC(r: String => Column): Column =
        boolOpt.map(_(r)).getOrElse(SparqlFunctions.ebv(term(r)))
    }
    // STRICT wrap: when the boolean value is used as a TERM (BIND, SELECT
    // expression, IF condition), a NULL type error stays an error/unbound
    // (17.3) instead of rendering "false"; the FILTER path reads `boolC`
    // (plain booleans) and is unaffected.
    private def boolEx(b: (String => Column) => Column): Ex =
      Ex(r => SparqlFunctions.boolTS(b(r)), Some(b))

    private def parseBracketedExpr(): Ex = { expect("("); val e = parseExpr(); expect(")"); e }

    private def parseExpr(): Ex = parseOr()
    private def parseOr(): Ex = {
      var a = parseAnd()
      while (accept("||")) {
        val b = parseAnd(); val a0 = a
        a = boolEx(r => a0.boolC(r) || b.boolC(r))
      }
      a
    }
    private def parseAnd(): Ex = {
      var a = parseRel()
      while (accept("&&")) {
        val b = parseRel(); val a0 = a
        a = boolEx(r => a0.boolC(r) && b.boolC(r))
          .copy(predHints = a0.predHints ++ b.predHints)
      }
      a
    }
    private def parseRel(): Ex = {
      val a = parseAdd()
      ws()
      def operands(xs: Seq[Ex]): Unit = (a +: xs).foreach(_.slot.foreach(fill))
      if (accept("!=")) { val b = parseAdd(); operands(Seq(b)); boolEx(r => SparqlFunctions.neqB(a.term(r), b.term(r))) }
      else if (accept("<=")) { val b = parseAdd(); operands(Seq(b)); boolEx(r => SparqlFunctions.leqB(a.term(r), b.term(r))) }
      else if (accept(">=")) { val b = parseAdd(); operands(Seq(b)); boolEx(r => SparqlFunctions.geqB(a.term(r), b.term(r))) }
      else if (peekChar == '<' && accept("<")) { val b = parseAdd(); operands(Seq(b)); boolEx(r => SparqlFunctions.ltB(a.term(r), b.term(r))) }
      else if (accept(">")) { val b = parseAdd(); operands(Seq(b)); boolEx(r => SparqlFunctions.gtB(a.term(r), b.term(r))) }
      else if (accept("=")) {
        val b = parseAdd()
        operands(Seq(b))
        val hint = ((a.srcVar, b.srcIri), (b.srcVar, a.srcIri)) match {
          case ((Some(v), Some(i)), _) => List(v -> Seq(i))
          case (_, (Some(v), Some(i))) => List(v -> Seq(i))
          case _ => Nil
        }
        boolEx(r => SparqlFunctions.eqB(a.term(r), b.term(r)))
          .copy(predHints = hint)
      }
      else if (peek("NOT") && { val s = pos; expect("NOT"); val in = peek("IN"); pos = s; in }) {
        expect("NOT"); expect("IN")
        val xs = parseExprList()
        operands(xs)
        boolEx(r => !SparqlFunctions.inB(a.term(r), xs.map(_.term(r))))
      }
      else if (accept("IN")) {
        val xs = parseExprList()
        operands(xs)
        // constraint hint only when EVERY member is a constant IRI — a
        // variable/expression member could match terms outside the set
        val hint = a.srcVar match {
          case Some(v) if xs.nonEmpty && xs.forall(_.srcIri.isDefined) =>
            List(v -> xs.map(_.srcIri.get))
          case _ => Nil
        }
        boolEx(r => SparqlFunctions.inB(a.term(r), xs.map(_.term(r))))
          .copy(predHints = hint)
      }
      else a
    }
    private def parseExprList(): Seq[Ex] = {
      expect("(")
      val out = collection.mutable.ArrayBuffer[Ex]()
      if (!accept(")")) {
        out += parseExpr()
        while (accept(",")) out += parseExpr()
        expect(")")
      }
      out.toSeq
    }
    private def parseAdd(): Ex = {
      var a = parseMul()
      var go = true
      while (go) {
        ws()
        if (accept("+")) { val b = parseMul(); val a0 = a; a = Ex(r => SparqlFunctions.plus(a0.term(r), b.term(r))) }
        else if (peekChar == '-' && !(pos + 1 < n && input.charAt(pos + 1).isDigit)) {
          pos += 1; val b = parseMul(); val a0 = a; a = Ex(r => SparqlFunctions.minus(a0.term(r), b.term(r)))
        } else go = false
      }
      a
    }
    private def parseMul(): Ex = {
      var a = parseUnary()
      var go = true
      while (go) {
        ws()
        if (accept("*")) { val b = parseUnary(); val a0 = a; a = Ex(r => SparqlFunctions.times(a0.term(r), b.term(r))) }
        else if (peekChar == '/' ) { pos += 1; val b = parseUnary(); val a0 = a; a = Ex(r => SparqlFunctions.div(a0.term(r), b.term(r))) }
        else go = false
      }
      a
    }
    private def parseUnary(): Ex = {
      ws()
      if (accept("!")) { val e = parseUnary(); boolEx(r => !e.boolC(r)) }
      else if (peekChar == '-' && !(pos + 1 < n && input.charAt(pos + 1).isDigit)) {
        pos += 1; val e = parseUnary(); Ex(r => SparqlFunctions.negate(e.term(r)))
      }
      else parsePrimaryExpr()
    }

    private val fnNames = Set("STR", "LANG", "DATATYPE", "IRI", "URI", "STRDT",
      "STRLANG", "UUID", "STRUUID", "ISIRI", "ISURI", "ISBLANK", "ISLITERAL",
      "ISNUMERIC", "BOUND", "SAMETERM", "STRLEN", "SUBSTR", "UCASE", "LCASE",
      "STRSTARTS", "STRENDS", "CONTAINS", "STRBEFORE", "STRAFTER", "CONCAT",
      "ENCODE_FOR_URI", "REGEX", "REPLACE", "LANGMATCHES", "ABS", "ROUND",
      "CEIL", "FLOOR", "RAND", "NOW", "YEAR", "MONTH", "DAY", "HOURS",
      "MINUTES", "SECONDS", "TIMEZONE", "TZ", "MD5", "SHA1", "SHA256",
      "SHA384", "SHA512", "IF", "COALESCE", "BNODE", "TRIPLE", "ISTRIPLE")

    /** SPARQL-star component accessors → the decomposition-quad predicate
      * their lookup joins on (S7). Handled as a parse-time REWRITE in BIND /
      * SELECT-expression position ([[starAccessor]]), not in the scalar
      * function table: the components of a quoted triple live in its
      * decomposition quads, so `SUBJECT(?t)` is a LeftJoin, not an expression.
      */
    private val starAccessors = Map(
      "SUBJECT" -> Rdf.QtSubj, "PREDICATE" -> Rdf.QtPred, "OBJECT" -> Rdf.QtObj)

    /** Try `ACCESSOR ( ?var )` at the cursor; returns (decomposition
      * predicate, argument var) or restores the cursor. Non-variable
      * arguments fall through to the function table's clear error.
      */
    private def starAccessor(): Option[(String, String)] = {
      val save = pos
      val word = readWord().toUpperCase
      starAccessors.get(word) match {
        case Some(pred) =>
          ws()
          if (peekChar == '(') {
            pos += 1; ws()
            if (peekChar == '?' || peekChar == '$') {
              val tv = parseVarName()
              ws()
              if (peekChar == ')') { pos += 1; return Some((pred, tv)) }
            }
          }
          pos = save; None
        case None => pos = save; None
      }
    }

    val aggNames = Set("COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT")

    /** A constant primary parsed from `start`: in a slot being re-parsed,
      * the override.
      */
    private def constEx(start: Int, t0: RdfTerm, end: Int = pos): Ex = {
      val slot = slotOf(start, t0, end)
      val t = slot.flatMap(s => overrides.get(s.start)).getOrElse(t0)
      Ex(_ => E.termLit(t), srcIri = Some(t.value).filter(_ => t.isIri),
        slot = slot)
    }

    private def parsePrimaryExpr(): Ex = {
      ws()
      val start = pos
      peekChar match {
        case '(' => parseBracketedExpr()
        case '?' | '$' => val v = parseVarName(); Ex(r => r(v), srcVar = Some(v))
        case '"' | '\'' => constEx(start, parseLiteralTerm())
        case c if c.isDigit || c == '.' || c == '+' || c == '-' =>
          constEx(start, parseLiteralTerm())
        case '<' =>
          val iri = parseIriRef()
          val end = pos
          // IRI-named function call, e.g. <http://…/geosparql/distance>(…)
          if (peekChar == '(') {
            val args = parseExprList()
            Ex(r => SparqlFunctions.callIri(iri, args.map(_.term(r))))
          } else constEx(start, RdfTerm.iri(iri), end)
        case _ =>
          if (peek("true") || peek("false")) { val t = parseLiteralTerm(); Ex(_ => E.termLit(t)) }
          else {
            val save = pos
            val word = readWord()
            val up = word.toUpperCase
            if (up == "EXISTS" ||
                (up == "NOT" && { ws(); peek("EXISTS") })) {
              // EXISTS{…} as a primary expression: queue a mark variable
              // (see pendingEx) and read it — the group drains it into a
              // BindExistsOp around the evaluation scope.
              val positive = up == "EXISTS"
              if (!positive) expect("EXISTS")
              val pat = parseGroup(exGraph)
              val nm = fresh()
              pendingEx += ((nm, pat, positive))
              Ex(r => r(nm), Some(r => SparqlFunctions.ebv(r(nm))))
            } else if (fnNames.contains(up)) {
              val args = parseExprList()
              val b = base // capture BASE at parse time (IRI/URI resolve)
              Ex(r => SparqlFunctions.call(up, args.map(_.term(r)), b))
            } else if (aggNames.contains(up)) {
              if (inAggArg)
                err(s"aggregate calls cannot be nested (18.2.4): $up inside an aggregate argument")
              if (havingAggs == null)
                err(s"aggregate $up only allowed in SELECT projection or HAVING")
              val fn = parseAggregate(up)
              val nm = fresh()
              havingAggs += (nm -> fn)
              Ex(r => r(nm))
            } else {
              pos = save
              val iri = parsePName()
              val end = pos
              // prefixed-name function call: geof:distance(?a, ?b)
              if (peekChar == '(') {
                val args = parseExprList()
                Ex(r => SparqlFunctions.callIri(iri, args.map(_.term(r))))
              } else constEx(start, RdfTerm.iri(iri), end)
            }
          }
      }
    }

    private def readWord(): String = {
      ws()
      val s = pos
      while (pos < n && (input.charAt(pos).isLetterOrDigit || input.charAt(pos) == '_')) pos += 1
      input.substring(s, pos)
    }

    // ---------------- aggregates in SELECT

    /** Aggregate over a full expression operand (`SUM(?a*?b)` etc.). MIN/MAX
      * aggregate the SPARQL term total order (O2's sort key) and return the
      * witness term, so strings/dates work; DISTINCT is honored for
      * COUNT/SUM/AVG/GROUP_CONCAT and a legal no-op for MIN/MAX/SAMPLE.
      */
    private def parseAggregate(name: String): E.Fn = {
      expect("(")
      val distinct = accept("DISTINCT")
      if (accept("*")) {
        if (name != "COUNT") err(s"$name(*) is not valid SPARQL")
        expect(")")
        return if (distinct) Aggs.countDistinctStar else Aggs.countStar
      }
      val exMark = pendingEx.length
      val aggArgSave = inAggArg
      inAggArg = true
      val e = try parseExpr() finally inAggArg = aggArgSave
      // EXISTS inside the argument evaluates per PRE-group solution: move
      // its marks to the aggregate queue, drained right before the Group
      val moved = pendingEx.drop(exMark).toList
      pendingEx.remove(exMark, pendingEx.length - exMark)
      aggEx ++= moved
      var sep = " "
      if (name == "GROUP_CONCAT") {
        if (accept(";")) { expect("SEPARATOR"); expect("="); sep = parseStringLit() }
      }
      expect(")")
      val ef: E.Fn = r => e.term(r)
      name match {
        case "COUNT" => if (distinct) Aggs.countDistinctE(ef) else Aggs.countE(ef)
        case "SUM" => if (distinct) Aggs.sumDistinctE(ef) else Aggs.sumE(ef)
        case "AVG" => if (distinct) Aggs.avgDistinctE(ef) else Aggs.avgE(ef)
        case "MIN" => Aggs.minTermE(ef)
        case "MAX" => Aggs.maxTermE(ef)
        case "SAMPLE" => Aggs.sampleE(ef)
        case "GROUP_CONCAT" => Aggs.groupConcatE(ef, sep, distinct)
      }
    }

    // ---------------- query forms

    private def parsePrologue(): Unit = {
      ws()
      while (peek("PREFIX") || peek("BASE")) {
        if (accept("PREFIX")) {
          ws()
          val colon = input.indexOf(':', pos)
          val name = input.substring(pos, colon).trim
          pos = colon + 1
          prefixes(name) = parseIriRef()
        } else { expect("BASE"); base = parseIriRef() }
        ()
      }
    }

    def parseQuery(): QueryForm = {
      parsePrologue()
      if (peek("SELECT")) parseSelect()
      else if (peek("ASK")) {
        expect("ASK")
        // AskQuery ::= 'ASK' DatasetClause* WhereClause SolutionModifier
        // (grammar [12], r17 probe-found): the modifiers are legal on ASK
        // and NOT all no-ops — `LIMIT 0` empties the solution sequence
        // (false), HAVING gates the implicit group, and the trailing
        // ValuesClause (grammar [1]) joins the pattern.
        val fromGs = parseDatasetClauses()
        ws(); if (peek("WHERE")) expect("WHERE")
        var op = parseGroup(I(Rdf.DefaultGraph))
        if (fromGs.nonEmpty) op = SparqlParser.rescope(op, fromGs)
        AskQ(applyTailModifiers(op))
      }
      else if (peek("CONSTRUCT")) parseConstruct()
      else if (peek("DESCRIBE")) parseDescribe()
      else err("expected SELECT / ASK / CONSTRUCT / DESCRIBE")
    }

    /** `DESCRIBE ((<iri>|?var)+ | *) [WHERE {…}] SolutionModifier`
      * (SPARQL 16.4, grammar [11]).
      */
    private def parseDescribe(): DescribeQ = {
      expect("DESCRIBE")
      val terms = collection.mutable.ArrayBuffer[PTerm]()
      ws()
      // `DESCRIBE *` (r17): every variable of the query — expanded to the
      // WHERE pattern's in-scope variables once the group is parsed
      val star = accept("*")
      var go = !star
      while (go) {
        ws()
        if (peekChar == '?' || peekChar == '$') terms += V(parseVarName())
        else if (peekChar == '<') terms += I(parseIriRef())
        // ':' admits the empty-prefix pname form `:a` (tranche 12); the
        // clause keywords that may FOLLOW the resource list (WHERE /
        // DatasetClause / any SolutionModifier, r17) end it — but only as
        // keyword TOKENS: `DESCRIBE LIMIT:a` keeps the PNAME (r18)
        else if (pos < n && (pnameChar(input.charAt(pos)) ||
          input.charAt(pos) == ':') && !peekKw("WHERE") && !peekKw("FROM") &&
          !peekKw("GROUP") && !peekKw("HAVING") && !peekKw("ORDER") &&
          !peekKw("LIMIT") && !peekKw("OFFSET") && !peekKw("VALUES"))
          terms += I(parsePName())
        else go = false
      }
      if (!star && terms.isEmpty)
        err("DESCRIBE needs at least one resource or variable")
      ws()
      // DescribeQuery ::= 'DESCRIBE' ... DatasetClause* WhereClause? (19.8);
      // the dataset scopes the WHERE pattern (the CBD itself reads the
      // full store, like the explicit-IRI form)
      val fromGs = parseDatasetClauses()
      var where =
        if (peek("WHERE") || peekChar == '{') {
          if (peek("WHERE")) expect("WHERE")
          val op = parseGroup(I(Rdf.DefaultGraph))
          Some(if (fromGs.nonEmpty) SparqlParser.rescope(op, fromGs) else op)
        } else None
      if (star) {
        val op0 = where.getOrElse(
          err("DESCRIBE * needs a WHERE clause to draw variables from"))
        // all USER variables of the pattern (internal fresh vars excluded)
        terms ++= scopeVars(op0).filterNot(_.startsWith("__q"))
          .toSeq.sorted.map(V)
        if (terms.isEmpty) err("DESCRIBE *: the WHERE pattern binds no " +
          "variables")
      }
      // DescribeQuery carries a full SolutionModifier (19.8): GROUP BY /
      // HAVING / ORDER BY / LIMIT / OFFSET apply to the WHERE solution
      // sequence BEFORE the CBD expands — `DESCRIBE ?x WHERE {…} ORDER BY
      // ?x LIMIT 1` describes the first resource only. Parsed through the
      // SAME clause parsers as SELECT (r17: the r16 mini-parser missed the
      // Constraint order-condition branch) and consumed even WITHOUT a
      // WHERE clause (grammatical; over the single empty solution every
      // modifier is a no-op, so it is dropped).
      val hadWhere = where.isDefined
      val dop = applyTailModifiers(where.getOrElse(Unit0))
      where = if (hadWhere) Some(dop) else None
      DescribeQ(terms.toSeq, where)
    }

    // ---------------- SPARQL Update (S6)

    def parseUpdates(): Seq[UpdateForm] = {
      val forms = collection.mutable.ArrayBuffer[UpdateForm]()
      var go = true
      while (go) {
        parsePrologue() // each operation may carry its own prologue
        ws()
        if (pos >= n) go = false
        else {
          if (accept("CLEAR")) {
            val s = accept("SILENT"); forms += ClearU(parseGraphTarget(), s)
          } else if (accept("DROP")) {
            val s = accept("SILENT"); forms += DropU(parseGraphTarget(), s)
          } else if (accept("CREATE")) {
            val s = accept("SILENT"); ws(); expect("GRAPH")
            forms += CreateU(parseGraphIri(), s)
          } else if (accept("LOAD")) {
            val s = accept("SILENT"); val src = parseGraphIri()
            val into =
              if (accept("INTO")) { expect("GRAPH"); Some(parseGraphIri()) }
              else None
            forms += LoadU(src, into, s)
          } else if (peek("COPY") || peek("MOVE") || peek("ADD")) {
            val kind = readWord().toUpperCase
            val s = accept("SILENT")
            val from = parseGraphOrDefault()
            expect("TO")
            forms += CopyMoveAddU(kind, from, parseGraphOrDefault(), s)
          } else {
            // `WITH <g>`: g is the default graph for BOTH templates and the
            // WHERE clause (the latter unless USING overrides — §3.1.3).
            val withG: Option[String] =
              if (accept("WITH")) Some(parseGraphIri()) else None
            val dg: PTerm = I(withG.getOrElse(Rdf.DefaultGraph))
            if (accept("INSERT")) {
              if (accept("DATA"))
                forms += InsertDataU(groundQuads(
                  parseQuadBlock(dg, allowBnode = true)))
              else forms += parseModifyTail(Nil,
                parseQuadBlock(dg, allowBnode = true), dg)
            } else if (accept("DELETE")) {
              if (accept("DATA"))
                forms += DeleteDataU(groundQuads(parseQuadBlock(dg, emitQtDecomp = false)))
              else if (peek("WHERE")) {
                // DELETE WHERE {p}: the pattern doubles as the delete template.
                expect("WHERE")
                val tmpl = parseQuadBlock(dg)
                forms += ModifyU(tmpl, Nil, templateOp(tmpl))
              } else {
                val del = parseQuadBlock(dg)
                val ins = if (accept("INSERT"))
                  parseQuadBlock(dg, allowBnode = true) else Nil
                forms += parseModifyTail(del, ins, dg)
              }
            } else err("expected INSERT / DELETE / CLEAR / DROP / CREATE / LOAD / COPY / MOVE / ADD / WITH")
          }
          ws()
          if (!accept(";")) go = false
        }
      }
      forms.toSeq
    }

    private def parseGraphIri(): String =
      { ws(); if (peekChar == '<') parseIriRef() else parsePName() }

    /** `GRAPH <g> | DEFAULT | NAMED | ALL` (CLEAR/DROP target). */
    private def parseGraphTarget(): GraphTarget = {
      ws()
      if (accept("DEFAULT")) DefaultT
      else if (accept("NAMED")) NamedT
      else if (accept("ALL")) AllT
      else { accept("GRAPH"); GraphT(parseGraphIri()) }
    }

    /** `DEFAULT | [GRAPH] <g>` (COPY/MOVE/ADD operand). */
    private def parseGraphOrDefault(): GraphTarget = {
      ws()
      if (accept("DEFAULT")) DefaultT
      else { accept("GRAPH"); GraphT(parseGraphIri()) }
    }

    /** `(USING [NAMED] <g>)* WHERE {…}` tail of DELETE/INSERT..WHERE: USING
      * graphs form the WHERE clause's default graph (like FROM, §3.1.4) and
      * USING NAMED restricts its GRAPH patterns; otherwise WITH's graph (in
      * `dg`) scopes the pattern.
      */
    private def parseModifyTail(del: Seq[TriplePattern],
        ins: Seq[TriplePattern], dg: PTerm): ModifyU = {
      val using = collection.mutable.ArrayBuffer[String]()
      val usingNamed = collection.mutable.ArrayBuffer[String]()
      while ({ ws(); peek("USING") }) {
        expect("USING")
        if (accept("NAMED")) usingNamed += parseGraphIri()
        else using += parseGraphIri()
      }
      ws(); if (peek("WHERE")) expect("WHERE")
      val (saveNamed, saveHas) = (namedGraphs, hasDataset)
      if (using.nonEmpty || usingNamed.nonEmpty) {
        hasDataset = true; namedGraphs = usingNamed.toSeq
      }
      var w = parseGroup(if (using.nonEmpty) I(Rdf.DefaultGraph) else dg)
      if (using.nonEmpty) w = SparqlParser.rescope(w, using.toSeq)
      namedGraphs = saveNamed; hasDataset = saveHas
      ModifyU(del, ins, w)
    }

    /** Group a quad template into a joinable pattern (for DELETE WHERE). */
    private def templateOp(tmpl: Seq[TriplePattern]): Op = Bgp(tmpl)

    /** `{ triples (GRAPH <g> { triples })* }` — quad template block. Plain
      * predicate-object lists only (`;`/`,`/`a`); paths, bnode property lists
      * and collections are query syntax, not template syntax.
      */
    private def parseQuadBlock(dg: PTerm = I(Rdf.DefaultGraph),
        emitQtDecomp: Boolean = true,
        allowBnode: Boolean = false): Seq[TriplePattern] = {
      expect("{")
      val out = collection.mutable.ArrayBuffer[TriplePattern]()
      while ({ ws(); peekChar != '}' }) {
        if (peek("GRAPH")) {
          expect("GRAPH")
          // §19.8 QuadsNotTriples: 'GRAPH' VarOrIri — a VARIABLE graph is
          // legal in modify templates (bound by WHERE; the DATA forms
          // reject variables wholesale elsewhere)
          val g: PTerm =
            if (peekChar == '?' || peekChar == '$') V(parseVarName())
            else if (peekChar == '<') I(parseIriRef())
            else I(parsePName())
          expect("{")
          while ({ ws(); peekChar != '}' }) {
            parseTemplateTriple(g, out, emitQtDecomp, allowBnode)
            accept("."); ()
          }
          expect("}")
          accept(".")
        } else {
          parseTemplateTriple(dg, out, emitQtDecomp, allowBnode); accept(".")
        }
        ()
      }
      expect("}")
      out.toSeq
    }

    /** GROUND `<< s p o >>` in an update template (INSERT/DELETE DATA):
      * computes the same deterministic id the Turtle-star reader assigns
      * and — on INSERT only (`emitQtDecomp`) — appends the three
      * decomposition triples, so updated annotations join loaded ones.
      * DELETE DATA removes only the annotation triple itself: deleting the
      * decomposition quads would orphan any OTHER annotation on the same
      * quoted triple (its SPARQL-star patterns would stop matching).
      * Leftover decomposition quads with no annotation are inert — a
      * quoted-triple pattern always joins through an asserted annotation.
      * Variables inside quoted template triples are not supported (the id
      * would be per-binding — out of the documented subset).
      */
    private def parseQuotedTripleTemplate(graph: PTerm,
        out: collection.mutable.ArrayBuffer[TriplePattern],
        emitQtDecomp: Boolean): PTerm = {
      expect("<<")
      def ground(what: String): PTerm = {
        ws()
        if (input.startsWith("<<", pos))
          parseQuotedTripleTemplate(graph, out, emitQtDecomp)
        else parseTerm() match {
          case V(v) => err(s"variable ?$v in a quoted template triple ($what)")
          case t => t
        }
      }
      val s = ground("subject")
      val p = ground("predicate")
      val o = ground("object")
      expect(">>")
      def tok(t: PTerm): String = t match {
        case I(i) => NTriplesReader.termToken(RdfTerm.iri(i))
        case L(l) => NTriplesReader.termToken(l)
        case other => err(s"unexpected term $other in quoted triple")
      }
      val key = tok(s) + " " + tok(p) + " " + tok(o)
      val id = Rdf.QtPrefix + java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val qt = I(id)
      if (emitQtDecomp) {
        out += TriplePattern(qt, I(Rdf.QtSubj), s, graph)
        out += TriplePattern(qt, I(Rdf.QtPred), p, graph)
        out += TriplePattern(qt, I(Rdf.QtObj), o, graph)
      }
      qt
    }

    private def parseTemplateTriple(graph: PTerm,
        out: collection.mutable.ArrayBuffer[TriplePattern],
        emitQtDecomp: Boolean = true, allowBnode: Boolean = false): Unit = {
      // `_:l` is legal in INSERT templates (fresh bnode per solution /
      // per DATA block, 19.6) and FORBIDDEN in every DELETE form.
      def sOrO(): PTerm = {
        ws()
        if (input.startsWith("<<", pos))
          parseQuotedTripleTemplate(graph, out, emitQtDecomp)
        else if (input.startsWith("_:", pos)) {
          if (!allowBnode)
            err("blank nodes are not permitted in DELETE templates (19.6)")
          parseTemplateTerm()
        } else parseTerm()
      }
      val s = sOrO()
      var morePreds = true
      while (morePreds) {
        val p = if (bareA) { pos += 1; I(Rdf.RdfType) }
        else if (peekChar == '?' || peekChar == '$') V(parseVarName())
        else if (peekChar == '<') I(parseIriRef())
        else I(parsePName())
        var moreObjs = true
        while (moreObjs) {
          out += TriplePattern(s, p, sOrO(), graph)
          if (!accept(",")) moreObjs = false
        }
        if (!accept(";")) morePreds = false
        else { ws(); if (peekChar == '.' || peekChar == '}') morePreds = false }
      }
    }

    /** DATA blocks must be ground: vars are a parse error (SPARQL 19.8). */
    private def groundQuads(tps: Seq[TriplePattern]): Seq[Quad] = tps.map { tp =>
      // An INSERT DATA bnode label is scoped to its request EXECUTION
      // (19.6: fresh per execution, never joining store bnodes or an
      // earlier run of the same text) — label ⊕ text ⊕ a per-execution
      // sequence, hashed: the same label twice in one request is ONE node;
      // the identical request re-executed mints NEW nodes (r9 ADVICE).
      def fresh(l: String): String =
        "_:u" + java.security.MessageDigest.getInstance("MD5")
          .digest((l + "\u0000" + input + "\u0000" + execId).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      def iriOf(t: PTerm, what: String): String = t match {
        case I(i) => i
        case B(l) => fresh(l)
        case _ => err(s"$what must be a ground IRI in a DATA block")
      }
      val o = tp.o match {
        case I(i) => RdfTerm.iri(i)
        case L(l) => l
        case B(l) => RdfTerm.blank(fresh(l))
        case V(v) => err(s"object ?$v must be ground in a DATA block")
      }
      Quad(iriOf(tp.graph, "graph"), iriOf(tp.s, "subject"),
        iriOf(tp.p, "predicate"), o)
    }

    /** `(FROM [NAMED] <g>)*` — sets the named-graph state, returns the
      * merged-default FROM list (19.8 DatasetClause, shared by every query
      * form).
      */
    private def parseDatasetClauses(): Seq[String] = {
      val fromGraphs = collection.mutable.ArrayBuffer[String]()
      while (peek("FROM")) {
        expect("FROM")
        hasDataset = true
        if (accept("NAMED"))
          namedGraphs = namedGraphs :+ (if (peekChar == '<') parseIriRef() else parsePName())
        else fromGraphs += (if (peekChar == '<') parseIriRef() else parsePName())
      }
      fromGraphs.toSeq
    }

    /** OrderClause conditions (grammar [23]-[27]): DESC()/ASC(), a bare
      * variable, a bracketted expression, or a bare Constraint builtin-call
      * key (`ORDER BY STR(?x)`, §19.8) — keyword-guarded so the modifier
      * keywords that may follow (LIMIT/OFFSET/VALUES) end the list. Shared
      * by SELECT and DESCRIBE (r17: the DESCRIBE mini-parser missed the
      * Constraint branch; one parser now serves both).
      */
    private def parseOrderConditions(): Seq[(E.Fn, Boolean)] = {
      val orderKeys = collection.mutable.ArrayBuffer[(E.Fn, Boolean)]()
      ws()
      if (peek("ORDER")) {
        expect("ORDER"); expect("BY")
        var go = true
        while (go) {
          ws()
          if (accept("DESC")) { val e = parseBracketedExpr(); orderKeys += (((r: String => Column) => e.term(r), false)) }
          else if (accept("ASC")) { val e = parseBracketedExpr(); orderKeys += (((r: String => Column) => e.term(r), true)) }
          else if (peekChar == '?' || peekChar == '$') { val v = parseVarName(); orderKeys += (((r: String => Column) => r(v), true)) }
          else if (peekChar == '(') { val e = parseBracketedExpr(); orderKeys += (((r: String => Column) => e.term(r), true)) }
          else {
            val save = pos
            val word = { ws(); readWord() }
            if (fnNames.contains(word.toUpperCase) && { ws(); peekChar == '(' }) {
              val args = parseExprList()
              val b = base
              orderKeys += (((r: String => Column) =>
                SparqlFunctions.call(word.toUpperCase, args.map(_.term(r)), b), true))
            } else { pos = save; go = false }
          }
        }
        if (orderKeys.isEmpty) err("ORDER BY needs at least one condition")
      }
      orderKeys.toSeq
    }

    /** GroupClause (grammar [19]/[20]): variable, `(expr [AS ?v])`, or a
      * bare BuiltInCall key (`GROUP BY STR(?x)`). Expression keys Extend
      * the input op with a (possibly fresh, 18.2.4.1) binding. Shared by
      * SELECT and DESCRIBE.
      */
    private def parseGroupByClause(op0: Op): (Op, Seq[String], Boolean) = {
      var op = op0
      ws()
      if (!peek("GROUP")) return (op, Nil, false)
      expect("GROUP"); expect("BY")
      val keys = collection.mutable.ArrayBuffer[String]()
      var keyGo = true
      while (keyGo) {
        ws()
        if (peekChar == '?' || peekChar == '$') keys += parseVarName()
        else if (peekChar == '(') { // GROUP BY (expr [AS ?v])
          expect("(")
          val exMark = pendingEx.length
          val e = parseExpr()
          // without AS the key is legal but not projectable (18.2.4.1) —
          // bind it to a fresh internal var; EXISTS marks inside the key
          // evaluate against the PRE-group op (the key is computed per
          // input solution, 18.2.4.1)
          val kv = if (accept("AS")) parseVarName() else fresh()
          expect(")")
          op = Extend(kv, r => e.term(r), drainExists(op, exMark))
          keys += kv
        } else {
          // bare builtin-call key, e.g. GROUP BY STR(?x) (GroupCondition:
          // BuiltInCall) — keyword-guarded like the ORDER BY counterpart
          val save = pos
          val word = readWord()
          if (fnNames.contains(word.toUpperCase) && { ws(); peekChar == '(' }) {
            val args = parseExprList()
            val kv = fresh()
            val b = base
            op = Extend(kv,
              r => SparqlFunctions.call(word.toUpperCase, args.map(_.term(r)), b), op)
            keys += kv
          } else { pos = save; keyGo = false }
        }
      }
      if (keys.isEmpty) err("GROUP BY needs at least one group condition")
      (op, keys.toSeq, true)
    }

    /** HavingClause (grammar [21]): one or more Constraints, conjoined.
      * Caller must set [[havingAggs]] to a live buffer first so aggregate
      * calls inside the constraints register as extra Group outputs.
      */
    private def parseHavingClause(): Seq[Ex] = {
      val havingExs = collection.mutable.ArrayBuffer[Ex]()
      ws()
      if (peek("HAVING")) {
        expect("HAVING")
        havingExs += parseBracketedExpr()
        ws()
        while (peekChar == '(') { havingExs += parseBracketedExpr(); ws() }
      }
      havingExs.toSeq
    }

    /** The full SolutionModifier + trailing ValuesClause applied to a
      * projection-less query form's WHERE solutions (ASK / CONSTRUCT /
      * DESCRIBE, r17): GROUP BY → HAVING → (Group) → ORDER BY →
      * LIMIT/OFFSET → VALUES, through the SAME clause parsers as SELECT.
      * HAVING/ORDER aggregates become Group outputs (implicit grouping
      * when no GROUP BY); EXISTS marks in the clauses bind against the
      * (possibly grouped) solutions like SELECT's (18.2.4-18.2.5).
      */
    private def applyTailModifiers(op0: Op): Op = {
      var op = op0
      val exMark = pendingEx.length
      val (opG, groupKeys, grouped) = parseGroupByClause(op)
      op = opG
      havingAggs = collection.mutable.ArrayBuffer()
      val havingExs = parseHavingClause()
      val orderKeys = parseOrderConditions()
      val modAggs = havingAggs.toSeq
      havingAggs = null
      if (grouped || modAggs.nonEmpty) op = Group(groupKeys, modAggs, op)
      op = drainExists(op, exMark)
      havingExs.foreach(e => op = FilterOp(r => e.boolC(r), op))
      if (orderKeys.nonEmpty) op = OrderBy(orderKeys, op)
      val (offset, limit) = parseLimitOffset()
      if (offset > 0 || limit.isDefined) op = Slice(offset, limit, op)
      ws()
      if (peek("VALUES")) op = JoinOp(op, parseValues())
      op
    }

    /** LimitOffsetClauses (grammar [25]): either order, at most one each. */
    private def parseLimitOffset(): (Long, Option[Long]) = {
      var offset = 0L; var limit: Option[Long] = None
      var go = true
      while (go) {
        ws()
        if (accept("LIMIT")) { ws(); limit = Some(readWord().toLong) }
        else if (accept("OFFSET")) { ws(); offset = readWord().toLong }
        else go = false
      }
      (offset, limit)
    }

    private def parseSelect(): SelectQ = {
      expect("SELECT")
      // EXISTS marks queued by PROJECTION expressions (parsed before the
      // WHERE op exists) drain onto the op right before the computed
      // Extends apply — 18.2.4 evaluates projection expressions per
      // solution of the modified pattern, which is exactly that point
      val selExMark = pendingEx.length
      val selAggExMark = aggEx.length
      val distinct = accept("DISTINCT")
      val reduced = !distinct && accept("REDUCED")
      var star = false
      // projection items: var | (expr AS ?v) where expr may be an aggregate
      val plainVars = collection.mutable.ArrayBuffer[String]()
      val computed = collection.mutable.ArrayBuffer[(String, Either[E.Fn, Ex])]() // agg or scalar
      val exprAggs = collection.mutable.ArrayBuffer[(String, E.Fn)]() // aggs nested in exprs
      // (SUBJECT/PREDICATE/OBJECT(?t) AS ?v) projections — applied as
      // decomposition-quad LeftJoins after the WHERE group is parsed (S7)
      val starProj = collection.mutable.ArrayBuffer[(String, String, String)]()
      ws()
      if (accept("*")) star = true
      else {
        var go = true
        while (go) {
          ws()
          if (peekChar == '?' || peekChar == '$') plainVars += parseVarName()
          else if (peekChar == '(') {
            expect("(")
            ws()
            starAccessor() match {
              case Some((pred, tv)) =>
                expect("AS")
                val out = parseVarName()
                expect(")")
                starProj += ((out, pred, tv))
              case None =>
                val save = pos
                val word = readWord().toUpperCase
                // A leading aggregate is only the WHOLE item when `AS`
                // follows directly — `(MAX(?t) - MIN(?t) AS ?span)` is an
                // EXPRESSION over aggregates (grammar [127] Aggregate sits
                // inside PrimaryExpression), so backtrack and take the
                // expression path, un-queuing any EXISTS marks the trial
                // parse moved (tranche 42).
                val exSave = pendingEx.length
                val aggExSave = aggEx.length
                val aggOnly = aggNames.contains(word) && {
                  val trialStart = pos
                  val ok = try { parseAggregate(word); ws(); peek("AS") }
                  catch { case _: Exception => false }
                  pendingEx.remove(exSave, pendingEx.length - exSave)
                  aggEx.remove(aggExSave, aggEx.length - aggExSave)
                  pos = trialStart
                  ok
                }
                if (aggOnly) {
                  val agg = parseAggregate(word)
                  expect("AS")
                  val out = parseVarName()
                  expect(")")
                  computed += out -> Left(agg)
                } else {
                  pos = save
                  // aggregates may appear INSIDE the expression (`(SUM(?a)/
                  // COUNT(?b) AS ?r)`): they register as extra fresh-named Group
                  // outputs (same mechanism as HAVING) and the expression reads
                  // them back as vars in the post-Group Extend.
                  havingAggs = collection.mutable.ArrayBuffer()
                  val e = parseExpr()
                  exprAggs ++= havingAggs
                  havingAggs = null
                  expect("AS")
                  val out = parseVarName()
                  expect(")")
                  computed += out -> Right(e)
                }
            }
          } else go = false
        }
      }
      // dataset clause: FROM <g> (merged default graph) / FROM NAMED <g>
      val fromGraphs = parseDatasetClauses()
      ws(); if (peek("WHERE")) expect("WHERE")
      var op = parseGroup(I(Rdf.DefaultGraph))
      // 19.8 projection restrictions (tranche 36): the SELECT clause's
      // output names must be DISTINCT, and an (expr AS ?v) target may not
      // rebind a variable in scope of the WHERE group — both are SYNTAX
      // errors, not silently-duplicated/overwritten columns. Scope is
      // probed BEFORE the star-accessor decomposition joins append their
      // own AS-targets to the op.
      locally {
        val outs = plainVars.toSeq ++ computed.map(_._1) ++ starProj.map(_._1)
        outs.diff(outs.distinct).distinct.foreach(v =>
          err(s"variable ?$v appears more than once in the SELECT clause (19.8)"))
        val inScope = scopeVars(op)
        (computed.map(_._1) ++ starProj.map(_._1)).filter(inScope).foreach(v =>
          err(s"(expression AS ?$v) would rebind in-scope variable ?$v (19.8)"))
      }
      // star-accessor projections join the decomposition quads (unbound when
      // the argument is not a quoted triple — LeftJoin, not Join). Appended
      // BEFORE the dataset rescope so that under FROM <g> the decomposition
      // quads are looked up in the same merged default graph as the pattern
      // (BIND-position accessors already use the current graph context).
      starProj.foreach { case (out, pred, tv) =>
        op = LeftJoin(op, Bgp(Seq(TriplePattern(V(tv), I(pred), V(out)))))
      }
      if (fromGraphs.nonEmpty) op = SparqlParser.rescope(op, fromGraphs)
      // solution modifiers
      val (opG, groupKeys, grouped) = parseGroupByClause(op)
      op = opG
      // HAVING may use aggregates directly (`HAVING (COUNT(*) > 5)`): parse
      // it BEFORE building the Group so its aggregates become extra (fresh-
      // named) Group outputs the filter then reads as vars. The grammar
      // admits Constraint+ — every further '('-led constraint conjoins
      // (tranche 28: the second constraint was silently DROPPED before).
      havingAggs = collection.mutable.ArrayBuffer()
      val havingExs = parseHavingClause()
      val extraAggs = Option(havingAggs).map(_.toSeq).getOrElse(Nil)
      havingAggs = null
      // ORDER BY is parsed BEFORE the Group op is built (the statements
      // between consume no tokens) so order conditions may use AGGREGATES
      // of the grouped query (18.2.4, e.g. `ORDER BY DESC(SUM(?x))`):
      // they register as extra fresh-named Group outputs through the same
      // mechanism as HAVING, and the sort key reads them back as vars.
      havingAggs = collection.mutable.ArrayBuffer()
      val orderKeys = parseOrderConditions()
      val orderAggs = havingAggs.toSeq
      havingAggs = null
      val aggs = computed.collect { case (name, Left(agg)) => name -> agg }.toSeq ++
        exprAggs ++ extraAggs ++ orderAggs
      if (grouped || aggs.nonEmpty) {
        // 18.2.4.1 projection restriction: in a grouped query only GROUP BY
        // keys and computed (expr AS ?v) columns may be projected — a plain
        // variable outside the keys (or SELECT *) is a SYNTAX error, not a
        // silently-unbound column (tranche 27)
        if (star) err("SELECT * cannot be combined with aggregates/GROUP BY")
        plainVars.filterNot(groupKeys.contains).foreach(v =>
          err(s"variable ?$v is projected but not a GROUP BY key (18.2.4.1)"))
        // EXISTS marks queued inside aggregate ARGUMENTS bind against the
        // pre-group solutions (18.2.4 evaluates the argument per input row)
        op = Group(groupKeys, aggs, drainAggExists(op, selAggExMark))
      }
      // EXISTS marks from the SELECT list, HAVING and ORDER BY all bind
      // against the (possibly grouped) op at this point: HAVING/ORDER BY
      // run over group solutions (18.2.4-18.2.5), so their EXISTS patterns
      // correlate on the group keys + aggregate outputs (see selExMark)
      op = drainExists(op, selExMark)
      havingExs.foreach(e => op = FilterOp(r => e.boolC(r), op))
      computed.collect { case (name, Right(e)) => (name, e) }.foreach { case (name, e) =>
        op = Extend(name, r => e.term(r), op)
      }
      // Without DISTINCT/REDUCED, ordering sits below the projection so sort
      // keys may use non-projected variables (18.2.5.1 before 18.2.5.2).
      // WITH them it must sit ABOVE the duplicate elimination — a shuffled
      // distinct would destroy the order before LIMIT/OFFSET (then the keys
      // are projected expressions, the only well-defined case: distinct
      // collapses rows that differ in hidden variables).
      if (orderKeys.nonEmpty && !distinct && !reduced)
        op = OrderBy(orderKeys.toSeq, op)
      var offset = 0L; var limit: Option[Long] = None
      var modGo = true
      while (modGo) {
        ws()
        if (accept("LIMIT")) { ws(); limit = Some(readWord().toLong) }
        else if (accept("OFFSET")) { ws(); offset = readWord().toLong }
        else if (peek("VALUES")) { op = JoinOp(op, parseValues()) }
        else modGo = false
      }
      val projection: Seq[String] =
        if (star) Nil // resolved by caller from visible vars
        else plainVars.toSeq ++ computed.map(_._1) ++ starProj.map(_._1)
      var res: Op = if (star) op else Project(projection, op)
      if (distinct) res = DistinctOp(res)
      if (reduced) res = ReducedOp(res)
      if (orderKeys.nonEmpty && (distinct || reduced)) {
        // The algebra (18.2.4) applies OrderBy BELOW Project with Distinct
        // above, so keys referencing non-projected variables are legal.
        // When all keys are projected the sort runs ABOVE the duplicate
        // elimination (a shuffled distinct would destroy the order before
        // LIMIT); otherwise [[DistinctOrdered]] evaluates the keys on the
        // pre-projection solution and keeps the first-in-order row per
        // projected group. Keys are probed with a recording resolver.
        val referenced = collection.mutable.Set[String]()
        orderKeys.foreach { case (fn, _) =>
          fn { name => referenced += name; E.nullTerm }
          ()
        }
        val missing = if (star) Set.empty[String]
          else referenced.diff(projection.toSet)
        if (missing.isEmpty) res = OrderBy(orderKeys.toSeq, res)
        else if (distinct) res = DistinctOrdered(projection, orderKeys.toSeq, op)
        else res = Project(projection, OrderBy(orderKeys.toSeq, op)) // REDUCED
      }
      if (offset > 0 || limit.isDefined) res = Slice(offset, limit, res)
      SelectQ(res, projection)
    }

    /** `{ s p o ; q v , w . … }` template triples (shared by both CONSTRUCT
      * forms).
      */
    /** Template term: like [[parseTerm]] plus labeled blank nodes `_:l`
      * (16.2.1 — fresh per solution at instantiation time).
      */
    private def parseTemplateTerm(): PTerm = {
      ws()
      if (input.startsWith("_:", pos)) {
        pos += 2
        val s = pos
        while (pos < n && pnameChar(input.charAt(pos))) pos += 1
        if (pos == s) err("expected blank node label after '_:'")
        B(input.substring(s, pos))
      } else parseTerm()
    }

    private def parseTemplateTriples(): Seq[TriplePattern] = {
      expect("{")
      val template = collection.mutable.ArrayBuffer[TriplePattern]()
      while ({ ws(); peekChar != '}' }) {
        val s = parseTemplateTerm()
        var morePreds = true
        while (morePreds) {
          val p = if (peek("a")) { expect("a"); I(Rdf.RdfType) }
          else if (peekChar == '<') I(parseIriRef())
          else if (peekChar == '?' || peekChar == '$') V(parseVarName())
          else I(parsePName())
          var moreObjs = true
          while (moreObjs) {
            template += TriplePattern(s, p, parseTemplateTerm())
            if (!accept(",")) moreObjs = false
          }
          if (!accept(";")) morePreds = false
          else { ws(); if (peekChar == '.' || peekChar == '}') morePreds = false }
        }
        accept(".")
        ()
      }
      expect("}")
      template.toSeq
    }

    private def parseConstruct(): ConstructQ = {
      expect("CONSTRUCT")
      ws()
      // in the SHORTHAND form the DatasetClause* sits directly after
      // CONSTRUCT ('CONSTRUCT' DatasetClause* 'WHERE' TriplesTemplate, 19.8)
      val fromShort = parseDatasetClauses()
      ws()
      val (op0, tpl) =
        if (peek("WHERE")) {
          // §10.2.2 shorthand `CONSTRUCT WHERE { BGP }`: the pattern doubles
          // as the template (spec restricts the group to a basic pattern).
          // A template bnode matches like a plain (non-projected) variable
          // on the pattern side.
          expect("WHERE")
          val t = parseTemplateTriples()
          def deB(x: PTerm): PTerm = x match {
            case B(l) => V("_bnq_" + l)
            case other => other
          }
          val op = Bgp(t.map(tp => tp.copy(s = deB(tp.s), o = deB(tp.o)))): Op
          (if (fromShort.nonEmpty) SparqlParser.rescope(op, fromShort) else op, t)
        } else {
          if (fromShort.nonEmpty)
            err("dataset clauses precede the template only in the " +
              "CONSTRUCT WHERE shorthand")
          val t = parseTemplateTriples()
          ws()
          // ConstructQuery ::= ... DatasetClause* WhereClause (19.8)
          val fromGs = parseDatasetClauses()
          ws(); if (peek("WHERE")) expect("WHERE")
          val op = parseGroup(I(Rdf.DefaultGraph))
          (if (fromGs.nonEmpty) SparqlParser.rescope(op, fromGs) else op, t)
        }
      // solution modifiers apply to the WHERE solutions BEFORE template
      // instantiation (spec: CONSTRUCT uses the SELECT solution
      // modifiers) — the SHARED tail parser (r17: the r15 mini-parser
      // here missed GROUP BY/HAVING, Constraint ORDER keys, and the
      // trailing ValuesClause)
      ConstructQ(applyTailModifiers(op0), tpl)
    }
  }
}
