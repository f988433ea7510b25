package graft.algebra

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{Rdf, RdfTerm}
import graft.graph.PathSearch
import graft.sources.{DirectMapper, GraphCatalog}

/** A compiled solution set: DataFrame whose columns are the SPARQL variables
  * (term structs), plus the bound-ness bookkeeping SPARQL join compatibility
  * needs (SURVEY §7.4 risk #1):
  *
  *   - `cert`  — variables bound in EVERY solution (plain equi-join keys;
  *               Catalyst gets hash/broadcast joins).
  *   - `maybe` — variables that may be unbound (post-OPTIONAL/UNION); shared
  *               joins on these add the `isnull OR equal` compatibility clause
  *               and coalesce the merged column.
  */
final case class Sol(df: DataFrame, cert: Set[String], maybe: Set[String]) {
  def visible: Set[String] = cert ++ maybe
}

/** Algebra → DataFrame compiler (SURVEY §3 EP1 "Spark design").
  *
  * Declarative throughout: every operator lowers to DataFrame transformations
  * so Catalyst supplies pushdown, pruning, join selection, partial aggregation
  * and AQE (SURVEY §4.2). The two scan paths:
  *
  *   - **Star-BGP collapse** (SURVEY §4.3): all patterns sharing one subject
  *     variable whose predicates are constant columns of ONE mapped table
  *     compile to a single property-table scan — no self-joins at all. This is
  *     the fast path for the reference's flagship star query
  *     (`README.md:73-77`, a 3-pattern star).
  *   - **Routed pattern scan**: other patterns read
  *     `catalog.forPredicate(p)` — a two-column scan of one table (predicate
  *     list analog, `init-graphdb.sh:61-65`) — then join on shared variables.
  */
final class Compiler(val catalog: GraphCatalog) {
  import Compiler._

  /** Variable resolution for expressions: a variable with no column in the
    * current solution is UNBOUND (SPARQL 17.2 — evaluates as the unbound
    * value, a type error in most operators, which COALESCE/BOUND handle),
    * not an analyzer crash.
    */
  private def resolver(c: Sol): String => Column =
    n => if (c.df.columns.contains(n)) c.df(n) else E.nullTerm

  def compile(op: Op): Sol = op match {
    // Statistics rewrite: global COUNT(*) over a single all-variable pattern
    // needs no quad lift — per-table cell-count aggregates suffice (the
    // reference's verification query shape, init-graphdb.sh:133).
    case Group(Nil, Seq((name, agg)),
        Bgp(Seq(TriplePattern(V(s), V(p), V(o), I(Rdf.DefaultGraph)))))
        if (agg eq Aggs.countStar) && s != p && p != o && s != o =>
      val cnt = catalog.statsCountAll
      Sol(cnt.select(E.numTerm(cnt("cnt")).as(name)), Set.empty, Set(name))
    case Bgp(patterns) => compileBgp(patterns)
    case FilterOp(cond, child) =>
      val c = compile(child)
      Sol(c.df.filter(cond(resolver(c))), c.cert, c.maybe)
    // Adjacent BGPs behave identically joined or merged (both join on shared
    // vars, all-cert); merging lets star groups that SPAN ops — e.g. the text
    // parser's one-op-per-triples-block output — collapse to single scans.
    case JoinOp(Bgp(a), Bgp(b)) => compile(Bgp(a ++ b))
    case JoinOp(JoinOp(x, Bgp(a)), Bgp(b)) => compile(JoinOp(x, Bgp(a ++ b)))
    case JoinOp(Bgp(a), JoinOp(Bgp(b), y)) => compile(JoinOp(Bgp(a ++ b), y))
    // Federation bound-join rewrite: a SERVICE joined with a local side
    // ships the sub-query WITH the local side's shared bindings (VALUES
    // injection). Inner joins commute, so the SERVICE-first form reorders.
    case JoinOp(l, ServiceOp(I(iri), inner, silent, text))
        if iri != PathSearch.ServiceIri && catalog.serviceFor(iri).isDefined =>
      boundJoinService(compile(l), catalog.serviceFor(iri).get,
        inner, silent, text)
    case JoinOp(ServiceOp(I(iri), inner, silent, text), r)
        if iri != PathSearch.ServiceIri && catalog.serviceFor(iri).isDefined =>
      boundJoinService(compile(r), catalog.serviceFor(iri).get,
        inner, silent, text)
    case JoinOp(l, r) => joinSols(compile(l), compile(r), "inner", None)
    case LeftJoin(l, r, cond, Nil, Nil) => joinSols(compile(l), compile(r), "left_outer", cond)
    case LeftJoin(l, r, cond, existsCs, exMarks) =>
      leftJoinExists(compile(l), r, cond, existsCs, exMarks)
    case NamedGraphsOp(name) =>
      // one distinct-scan of the graph column (partition-listing cheap when
      // the store is graph-partitioned); default graph never enumerates
      Sol(catalog.allQuads.filter(col("graph") =!= Rdf.DefaultGraph)
        .select(col("graph")).distinct()
        .select(E.iriTerm(col("graph")).as(name)), Set(name), Set.empty)
    case PseudoNamedArmOp(iri, name, inner) =>
      // keep the arm only for a REGISTERED pseudo-graph; a plain iri is
      // already covered by the store-filter arm → empty solution as a
      // zero-row LocalRelation, which PropagateEmptyRelation prunes out
      // of the Union at optimize time (Range(0,0) would NOT be pruned),
      // so plain FROM NAMED lists keep their single-scan plan
      if (catalog.pseudoGraph(iri).isDefined) compile(inner)
      else {
        val session = catalog.spark
        import session.implicits._
        Sol(Seq.empty[Int].toDF("__e")
          .select(E.iriTerm(lit(iri)).as(name)), Set(name), Set.empty)
      }
    case UnionOp(l, r) => unionSols(compile(l), compile(r))
    case MinusOp(l, r) => minusSols(compile(l), compile(r))
    case ExistsOp(l, r, positive) =>
      semiSols(compile(l), compile(r), if (positive) "left_semi" else "left_anti")
    case BindExistsOp(name, pattern, positive, child) =>
      // mark join via the SAME compatibility machinery as FILTER EXISTS:
      // semi + anti partition the child's rows exactly (multiplicity
      // preserved), each side binding the boolean term
      val l = compile(child)
      val r = compile(pattern)
      def b(v: Boolean) = E.termLit(graft.model.RdfTerm.typed(
        if (v) "true" else "false", Rdf.XsdBoolean))
      val yes = semiSols(l, r, "left_semi").df.withColumn(name, b(positive))
      val no = semiSols(l, r, "left_anti").df.withColumn(name, b(!positive))
      Sol(yes.unionByName(no), l.cert + name, l.maybe)
    case Extend(name, expr, child) =>
      val c = compile(child)
      Sol(c.df.withColumn(name, expr(resolver(c))), c.cert, c.maybe + name)
    case Project(vars, child) =>
      val c = compile(child)
      val cols = vars.map(v => if (c.visible(v)) c.df(v).as(v) else E.nullTerm.as(v))
      Sol(c.df.select(cols: _*), c.cert.intersect(vars.toSet), vars.toSet -- c.cert)
    case DistinctOp(child) =>
      val c = compile(child); Sol(c.df.distinct(), c.cert, c.maybe)
    case ReducedOp(child) => compile(child) // identity is a legal REDUCED
    case DistinctOrdered(vars, keys, child) =>
      // One shuffle (window partition by the projected values) picks the
      // first-in-sort-order representative per group; the global sort then
      // orders the survivors — same cost class as distinct + sort, no
      // driver materialization.
      val c = compile(child)
      val sortCols = keys.map { case (f, asc) =>
        val k = E.sortKey(f)(resolver(c)); if (asc) k.asc else k.desc
      }
      val partCols = vars.map(v => if (c.visible(v)) c.df(v) else E.nullTerm)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(partCols: _*).orderBy(sortCols: _*)
      val picked = c.df.withColumn("__do_rn", row_number().over(w))
        .filter(col("__do_rn") === 1).orderBy(sortCols: _*)
      val cols = vars.map(v => if (c.visible(v)) picked(v).as(v) else E.nullTerm.as(v))
      Sol(picked.select(cols: _*), c.cert.intersect(vars.toSet), vars.toSet -- c.cert)
    case Group(keys, aggs, child) =>
      val c = compile(child)
      val aggCols = aggs.map { case (n, f) =>
        // COUNT(DISTINCT *): distinct over the FULL solution row (all columns).
        if (f eq Aggs.countDistinctStar)
          E.typedNumTerm(count_distinct(
            struct(c.df.columns.toSeq.sorted.map(c.df(_)): _*)), lit(0)).as(n)
        else f(resolver(c)).as(n)
      }
      val df =
        if (keys.isEmpty) c.df.agg(aggCols.head, aggCols.tail: _*)
        else c.df.groupBy(keys.map(c.df(_)): _*).agg(aggCols.head, aggCols.tail: _*)
      // Aggregates over empty groups can be NULL (e.g. SUM of nothing is
      // unbound in SPARQL) — keep agg outputs in `maybe`.
      Sol(df, keys.toSet.intersect(c.cert), keys.toSet -- c.cert ++ aggs.map(_._1))
    case OrderBy(keys, child) =>
      val c = compile(child)
      val sortCols = keys.map { case (f, asc) =>
        val k = E.sortKey(f)(resolver(c)); if (asc) k.asc else k.desc
      }
      Sol(c.df.orderBy(sortCols: _*), c.cert, c.maybe)
    case Slice(offset, limit, child) =>
      val c = compile(child)
      val off = if (offset > 0) c.df.offset(offset.toInt) else c.df
      Sol(limit.fold(off)(l => off.limit(l.toInt)), c.cert, c.maybe)
    case ValuesOp(vars, rows) =>
      val dfs = rows.map { row =>
        val cols = vars.zip(row).map { case (v, t) =>
          t.fold(E.nullTerm)(E.termLit).as(v)
        }
        catalog.spark.range(1).select(cols: _*)
      }
      val df = dfs.reduce(_.unionAll(_))
      val cert = vars.zipWithIndex.collect {
        case (v, i) if rows.forall(_(i).isDefined) => v
      }.toSet
      Sol(df, cert, vars.toSet -- cert)
    case Unit0 =>
      Sol(catalog.spark.range(1).select(), Set.empty, Set.empty)
    // SERVICE: ship the captured sub-query TEXT to the registered endpoint
    // client (the HTTP wire shape — SparqlEndpoint), parse the results JSON
    // back into a local solution; it joins with the outer group like any
    // compiled sub-solution (shared-var equi-joins, broadcast when small —
    // Catalyst decides). SILENT maps ANY failure — unknown endpoint, remote
    // parse/execution error, malformed response — to the unit solution
    // (spec §5: a SILENT failure is "a single solution with no bindings").
    // Graph Path Search (the GraphDB plugin's `SERVICE path:search`
    // surface): the endpoint IRI is a VIRTUAL service — the inner block's
    // pseudo-property triples are CONFIGURATION, not patterns, and compile
    // to a PathSearch run over the store's resource-edge view.
    case ServiceOp(I(PathSearch.ServiceIri), inner, _, _) =>
      compilePathSearch(inner)
    case ServiceOp(I(iri), _, silent, text) =>
      catalog.serviceFor(iri) match {
        case Some(ep) => serviceSol(ep, text, silent)
        case None if silent => compile(Unit0)
        case None => throw new IllegalArgumentException(
          s"SERVICE: unknown endpoint <$iri> (register it with GraphCatalog.registerService)")
      }
    // Variable endpoint: iterate ALL registered services, binding the var
    // to each endpoint's IRI (the bound-endpoint semantics of spec §2.4 over
    // the catalog's known-endpoint set); no services registered → unit if
    // SILENT, else error.
    case ServiceOp(V(v), _, silent, text) =>
      val subs = catalog.serviceEntries
      if (subs.isEmpty) {
        if (silent) compile(Unit0)
        else throw new IllegalArgumentException(
          s"SERVICE ?$v: no endpoints registered (GraphCatalog.registerService)")
      } else subs.map { case (iri, ep) =>
        val s = serviceSol(ep, text, silent)
        Sol(s.df.withColumn(v, E.termLit(RdfTerm.iri(iri))), s.cert + v, s.maybe)
      }.reduce(unionSols)
    case ServiceOp(ep, _, _, _) =>
      throw new IllegalArgumentException(s"SERVICE endpoint must be an IRI, got $ep")
    case Wrap(df, cert, maybe) => Sol(df, cert, maybe)
    case PathClosureOp(s, step, o, zero, graph, mg) =>
      val sol = graft.paths.PropertyPaths.closureSol(this, step, "__cs", "__co",
        zero, graph, mg, endpoints = Seq(s, o))
      constrain(constrain(sol, s, "__cs"), o, "__co")
    case PathZeroOrOneOp(s, step, o, graph, mg) =>
      val sol = graft.paths.PropertyPaths.zeroOrOneSol(this, step, "__cs", "__co",
        graph, mg, endpoints = Seq(s, o))
      constrain(constrain(sol, s, "__cs"), o, "__co")
  }

  /** Evaluate a SERVICE sub-query through the endpoint client: ship the
    * text, parse the results JSON, rebuild a local solution frame. The
    * result materializes driver-side (as any federated response does — the
    * reference engine holds the HTTP response the same way) and joins in
    * as a broadcast-sized frame; `cert`/`maybe` derive from per-variable
    * bound-ness across the response rows, exactly like VALUES.
    */
  /** May-bind variables of an algebra term — the compiler-side walker the
    * bound-join rewrite uses to find the vars a SERVICE body shares with
    * the outer solution.
    */
  private def opVars(op: Op): Set[String] = op match {
    case Bgp(ps) => ps.flatMap(p => Seq(p.s, p.p, p.o, p.graph))
      .collect { case V(n) => n }.toSet
    case FilterOp(_, c) => opVars(c)
    case JoinOp(l, r) => opVars(l) ++ opVars(r)
    case lj: LeftJoin => opVars(lj.left) ++ opVars(lj.right)
    case UnionOp(l, r) => opVars(l) ++ opVars(r)
    case MinusOp(l, _) => opVars(l)
    case ExistsOp(l, _, _) => opVars(l)
    case BindExistsOp(n, _, _, c) => opVars(c) + n
    case Extend(n, _, c) => opVars(c) + n
    case Project(vs, _) => vs.toSet
    case DistinctOp(c) => opVars(c)
    case ReducedOp(c) => opVars(c)
    case d: DistinctOrdered => d.vars.toSet
    case Group(keys, aggs, _) => keys.toSet ++ aggs.map(_._1)
    case OrderBy(_, c) => opVars(c)
    case Slice(_, _, c) => opVars(c)
    case ValuesOp(vs, _) => vs.toSet
    case NamedGraphsOp(n) => Set(n)
    case p: PseudoNamedArmOp => opVars(p.inner) + p.name
    case s: ServiceOp => (s.endpoint match {
      case V(n) => Set(n); case _ => Set.empty[String]
    }) ++ opVars(s.inner)
    case w: Wrap => w.cert ++ w.maybe
    case p: PathClosureOp => Seq(p.s, p.o).collect { case V(n) => n }.toSet
    case p: PathZeroOrOneOp => Seq(p.s, p.o).collect { case V(n) => n }.toSet
    case _ => Set.empty
  }

  /** SPARQL text of a bound term struct (for VALUES injection); None for
    * blank nodes — bnode identity does not survive the federation wire,
    * so a bnode binding falls the whole join back to the unbound path.
    */
  private def sparqlTermText(t: org.apache.spark.sql.Row): Option[String] = {
    val kind = t.getByte(0); val value = t.getString(1)
    if (kind == Rdf.KindIri) Some(s"<$value>")
    else if (kind == Rdf.KindBlank) None
    else {
      val lex = "\"" + value.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\r", "\\r") + "\""
      val dtype = if (t.isNullAt(2)) null else t.getString(2)
      val lang = if (t.isNullAt(3)) null else t.getString(3)
      if (lang != null) Some(lex + "@" + lang)
      else if (dtype != null && dtype != Rdf.XsdString)
        Some(lex + "^^<" + dtype + ">")
      else Some(lex)
    }
  }

  /** BOUND-JOIN federation (the FedX/SPARQL-fed standard optimization,
    * r13): when a SERVICE body shares certain-bound variables with the
    * already-compiled outer side, ship the sub-query WITH a `VALUES`
    * block of the outer side's DISTINCT shared bindings — the endpoint
    * then returns only compatible rows, so the wire carries ∝ the join's
    * relevant fraction instead of the whole remote result. Falls back to
    * the plain unbound exchange when the binding set exceeds the cap
    * (a 100 TB outer side must not collect to the driver), contains
    * blank nodes, or nothing is shared. Exact: a remote solution leaving
    * a shared var unbound joins every VALUES row — the same multiset the
    * unbound exchange yields after the local compatibility join.
    */
  private val BoundJoinCap = 64
  private def boundJoinService(lSol: Sol, ep: graft.sources.SparqlEndpoint,
      inner: Op, silent: Boolean, text: String): Sol = {
    val shared = lSol.cert.intersect(opVars(inner)).toSeq.sorted
    val marker = "SELECT * WHERE {"
    val idx = text.indexOf(marker)
    def plain() = joinSols(lSol, serviceSol(ep, text, silent), "inner", None)
    if (shared.isEmpty || idx < 0) return plain()
    // Plan-only compilation (Engine.explain) must stay free of eager Spark
    // jobs: skip the binding probe and compile the unbound shape.
    if (Compiler.planOnly.value) return plain()
    val bindings = lSol.df.select(shared.map(lSol.df(_)): _*)
      .distinct().limit(BoundJoinCap + 1).collect()
    // Empty outer side: the inner join is necessarily empty — do NOT fall
    // back to plain(), which would ship the full unbound remote query for
    // a result we already know. Join against an empty remote solution so
    // the schema/cert bookkeeping matches the normal path.
    if (bindings.isEmpty) {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{StructField, StructType}
      val innerVars = opVars(inner).toSeq.sorted
      val schema = StructType(innerVars.map(v => StructField(v, E.termSchema)))
      val empty = Sol(catalog.spark.createDataFrame(
        new java.util.ArrayList[Row](), schema), Set.empty, innerVars.toSet)
      return joinSols(lSol, empty, "inner", None)
    }
    if (bindings.length > BoundJoinCap) return plain()
    val rendered: Option[Seq[String]] =
      bindings.toSeq.foldLeft(Option(Seq.empty[String])) { (acc, r) =>
        acc.flatMap { rows =>
          val cells = shared.indices.map { i =>
            if (r.isNullAt(i)) Some("UNDEF")
            else sparqlTermText(r.getStruct(i))
          }
          if (cells.exists(_.isEmpty)) None
          else Some(rows :+ cells.map(_.get).mkString("(", " ", ")"))
        }
      }
    rendered match {
      case None => plain() // a bnode binding cannot ship
      case Some(rows) =>
        val hdr = shared.map("?" + _).mkString("(", " ", ")")
        val bound = text.substring(0, idx + marker.length) +
          s" VALUES $hdr { ${rows.mkString(" ")} } " +
          text.substring(idx + marker.length)
        joinSols(lSol, serviceSol(ep, bound, silent), "inner", None)
    }
  }

  private def serviceSol(ep: graft.sources.SparqlEndpoint, text: String,
      silent: Boolean): Sol = {
    val parsed =
      try {
        val (body, ctype) = ep.queryTyped(text)
        val (vars, rows) = graft.sources.SparqlResults.parse(body, ctype)
        Some((vars, rows))
      } catch {
        case e: Exception if silent => None
        case e: Exception => throw new IllegalArgumentException(
          s"SERVICE failed: ${e.getMessage}", e)
      }
    parsed match {
      case None => compile(Unit0) // SILENT failure → unit solution
      case Some((vars, rows)) =>
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{StructField, StructType}
        val schema = StructType(vars.map(v => StructField(v, E.termSchema)))
        val data = rows.map { row =>
          Row(row.map(_.map(t => Row(t.kind, t.value, t.dtype.orNull,
            t.lang.orNull, t.num.map(java.lang.Double.valueOf).orNull))
            .orNull): _*)
        }
        val df = catalog.spark.createDataFrame(
          new java.util.ArrayList[Row](data.asJava), schema)
        val cert = vars.zipWithIndex.collect {
          case (v, i) if rows.nonEmpty && rows.forall(_(i).isDefined) => v
        }.toSet
        Sol(df, cert, vars.toSet -- cert)
    }
  }

  /** Bind a path endpoint column `c` to the pattern term (shared by the
    * recursive-path ops, whose endpoints come back as generic columns).
    */
  private def constrain(in: Sol, term: PTerm, c: String): Sol = term match {
    case V(n) if in.df.columns.contains(n) => // `?x path+ ?x`
      Sol(in.df.filter(in.df(c) === in.df(n)).drop(c), in.cert - c, in.maybe)
    case V(n) =>
      Sol(in.df.withColumnRenamed(c, n), in.cert - c + n, in.maybe)
    case I(iri) =>
      Sol(in.df.filter(in.df(c).getField("kind") === Rdf.KindIri &&
        in.df(c).getField("value") === iri).drop(c), in.cert - c, in.maybe)
    case L(t) => // endpoints carry full term structs, so literals can match
      val tc = in.df(c)
      Sol(in.df.filter(tc.getField("kind") === Rdf.KindLiteral &&
        tc.getField("value") === t.value &&
        tc.getField("dtype") <=> lit(t.dtype.orNull) &&
        tc.getField("lang") <=> lit(t.lang.orNull)).drop(c), in.cert - c, in.maybe)
  }

  /** OPTIONAL whose group carries FILTER [NOT] EXISTS constraints. The EXISTS
    * can't go into the join condition as a Column, so: tag each left solution
    * with an id (left side materialized ONCE so the two consumers see the same
    * ids), compute the fully-constrained matches (inner join + cond + exists
    * semi/anti), and retain unmatched left rows by id anti-join — exact
    * per-solution LeftJoin retention, no compatibility approximation.
    */
  private def leftJoinExists(l0: Sol, r: Op, cond: Option[E.Fn],
      existsCs: Seq[(Op, Boolean)],
      exMarks: Seq[(String, Op, Boolean)] = Nil): Sol = {
    val lid = "__lid"
    val ldf = graft.exec.Generations.cut(
      l0.df.withColumn(lid, monotonically_increasing_id()))
    val l = Sol(ldf, l0.cert + lid, l0.maybe)
    val rSol = compile(r)
    // expression-position EXISTS marks in the condition (r12 cont.): the
    // condition evaluates over the MERGED solution (18.2.5), so the inner
    // join runs first WITHOUT it, the marks partition the merged rows via
    // the same semi/anti machinery as BindExistsOp, and the condition then
    // filters reading the mark columns as ordinary boolean terms.
    val base =
      if (exMarks.isEmpty) joinSols(l, rSol, "inner", cond)
      else {
        val joined0 = joinSols(l, rSol, "inner", None)
        val withMarks = exMarks.foldLeft(joined0) {
          case (m, (n, p, positive)) =>
            val pc = compile(p)
            def b(v: Boolean) = E.termLit(graft.model.RdfTerm.typed(
              if (v) "true" else "false", Rdf.XsdBoolean))
            val yes = semiSols(m, pc, "left_semi").df.withColumn(n, b(positive))
            val no = semiSols(m, pc, "left_anti").df.withColumn(n, b(!positive))
            Sol(yes.unionByName(no), m.cert, m.maybe + n)
        }
        cond.fold(withMarks)(f => Sol(
          withMarks.df.filter(f(resolver(withMarks))),
          withMarks.cert, withMarks.maybe))
      }
    val markNames = exMarks.map(_._1).toSet
    val matched0 = existsCs.foldLeft(base) {
      case (m, (p, positive)) =>
        semiSols(m, compile(p), if (positive) "left_semi" else "left_anti")
    }
    // the internal mark columns never leave the join
    val matched = if (markNames.isEmpty) matched0
      else Sol(matched0.df.drop(markNames.toSeq: _*),
        matched0.cert -- markNames, matched0.maybe -- markNames)
    val rOnly = (matched.visible -- l.visible).toSeq.sorted
    val lCols = l.visible.toSeq.sorted
    val mOut = matched.df.select(
      (lCols.map(v => matched.df(v).as(v)) ++ rOnly.map(v => matched.df(v).as(v))): _*)
    val un = ldf.join(matched.df.select(matched.df(lid)), Seq(lid), "left_anti")
    val unPadded = un.select(
      (lCols.map(v => un(v).as(v)) ++ rOnly.map(v => E.nullTerm.as(v))): _*)
    Sol(mOut.unionAll(unPadded).drop(lid), l0.cert,
      (l0.visible ++ rSol.visible) -- l0.cert)
  }

  // ---------------------------------------------------------------- BGP

  // GeoSPARQL QUERY-REWRITE extension (Req. 22 — the reference engine's
  // GeoSPARQL plugin rewrites `?a geo:sfWithin ?b` TRIPLE PATTERNS into
  // geometry computations): a topology predicate used as a PROPERTY between
  // features/geometries expands to each side's WKT association — `x
  // geo:hasGeometry/geo:asWKT ?w` for features, `x geo:asWKT ?w` for bare
  // geometries, as a UNION — joined and filtered by the corresponding
  // geof: function. The expansion compiles through the ordinary BGP
  // machinery (internal `__geo` vars stay invisible to SELECT *).
  private val GeoOnt = "http://www.opengis.net/ont/geosparql#"
  private val GeoFn = "http://www.opengis.net/def/function/geosparql/"
  private val geoRelates: Set[String] = Set(
    "sfEquals", "sfDisjoint", "sfIntersects", "sfTouches", "sfCrosses",
    "sfWithin", "sfContains", "sfOverlaps",
    "ehEquals", "ehDisjoint", "ehMeet", "ehOverlap", "ehCovers",
    "ehCoveredBy", "ehInside", "ehContains",
    "rcc8eq", "rcc8dc", "rcc8ec", "rcc8po", "rcc8tpp", "rcc8ntpp",
    "rcc8tppi", "rcc8ntppi")
  private def geoRelateOf(tp: TriplePattern): Option[String] = tp.p match {
    case I(p) if p.startsWith(GeoOnt) && geoRelates(p.stripPrefix(GeoOnt)) =>
      Some(p.stripPrefix(GeoOnt))
    case _ => None
  }

  private def compileGeoRewrite(patterns: Seq[TriplePattern]): Sol = {
    val (geo, normal) = patterns.partition(tp => geoRelateOf(tp).isDefined)
    def side(x: PTerm, g: PTerm, gv: String, wv: String): Op = UnionOp(
      Bgp(Seq(TriplePattern(x, I(GeoOnt + "hasGeometry"), V(gv), g),
        TriplePattern(V(gv), I(GeoOnt + "asWKT"), V(wv), g))),
      Bgp(Seq(TriplePattern(x, I(GeoOnt + "asWKT"), V(wv), g))))
    var op: Op = if (normal.nonEmpty) Bgp(normal) else Unit0
    geo.zipWithIndex.foreach { case (tp, i) =>
      val rel = geoRelateOf(tp).get
      val (wa, wb) = (s"__geo${i}wa", s"__geo${i}wb")
      val expansion = JoinOp(
        side(tp.s, tp.graph, s"__geo${i}ga", wa),
        side(tp.o, tp.graph, s"__geo${i}gb", wb))
      val joined = if (op == Unit0) expansion else JoinOp(op, expansion)
      op = FilterOp(r => graft.functions.SparqlFunctions.ebv(
        graft.functions.SparqlFunctions.callIri(GeoFn + rel,
          Seq(r(wa), r(wb)))), joined)
    }
    compile(op)
  }

  // RDF Rank pseudo-property (the GraphDB RDF Rank plugin, r12 cont.):
  // `?s rank:hasRDFRank ?r` reads the PRECOMPUTED rank table (see
  // GraphCatalog.computeRdfRank) as an ordinary BGP member — the rank
  // value binds as an xsd:double literal with the num shadow populated,
  // so FILTER/ORDER BY compose like any numeric.
  private val RankIri = "http://www.ontotext.com/owlim/RDFRank#hasRDFRank"
  private def compileRank(tp: TriplePattern): Sol = {
    val ranks = catalog.rdfRanks.getOrElse(throw new IllegalStateException(
      "RDF Rank is not computed — call GraphCatalog.computeRdfRank() " +
        "first (the plugin's 'compute full rank' operation)"))
    val term = struct(
      lit(Rdf.KindLiteral).cast(org.apache.spark.sql.types.ByteType).as("kind"),
      col("rank").cast("string").as("value"),
      lit(Rdf.XsdDouble).as("dtype"),
      lit(null).cast("string").as("lang"),
      col("rank").as("num"))
    // same bnode-aware subject binding as compilePattern
    val subjTerm = when(col("iri").startsWith("_:"),
      struct(lit(Rdf.KindBlank).cast("tinyint").as("kind"),
        col("iri").as("value"), lit(null).cast("string").as("dtype"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("double").as("num")))
      .otherwise(E.iriTerm(col("iri")))
    (tp.s, tp.o) match {
      case (V(sn), V(on)) =>
        Sol(ranks.select(subjTerm.as(sn), term.as(on)), Set(sn, on), Set.empty)
      case (I(iri), V(on)) =>
        Sol(ranks.filter(col("iri") === iri).select(term.as(on)),
          Set(on), Set.empty)
      case _ => throw new IllegalArgumentException(
        "rank:hasRDFRank needs an IRI or variable subject and a variable " +
          "object")
    }
  }

  /** `SERVICE path:search { … }` (the GraphDB Graph-Path-Search plugin):
    * the block is CONFIGURATION — `path:` pseudo-property triples naming a
    * mode (`path:findPath` → `path:shortestPath` | `path:allPaths` |
    * `path:distance`), the endpoints (`path:sourceNode` /
    * `path:destinationNode`, constant IRIs), options (`path:maxPathLength`
    * int, default 8; `path:bidirectional` boolean) and the EXPORT variables
    * (`path:pathIndex`, `path:resultBindingIndex`, `path:startNode`,
    * `path:propertyBinding`, `path:endNode`; `path:distanceBinding` for the
    * distance mode). By default the search runs over the store's
    * resource-edge view — every default-graph triple whose object is an
    * IRI or blank node (wildcard edges).
    *
    * PATTERN-RESTRICTED edges (r14, the plugin's graph-pattern mode): a
    * nested `SERVICE <urn:path.search:wildcard> { …pattern… }` block
    * inside the search defines the edge SET — the pattern compiles through
    * the ordinary SPARQL compiler and its solutions, projected on the
    * declared `path:startNode` / `path:propertyBinding` / `path:endNode`
    * variables (the plugin's convention: the wildcard pattern reuses the
    * export variables), become the directed edges the search walks. Any
    * group pattern works (property tables, FILTERs, UNIONs, paths);
    * literal-endpoint solutions drop. Results are deterministic (see
    * [[graft.graph.PathSearch]]) so a SQL oracle replays them as a
    * filtered recursive walk over the same edge definition.
    */
  private val PathWildcardIri = "urn:path.search:wildcard"
  private def compilePathSearch(inner: Op): Sol = {
    var wildcardBody: Option[Op] = None
    val pats: Seq[TriplePattern] = {
      def flat(op: Op): Seq[TriplePattern] = op match {
        case Bgp(ps) => ps
        case JoinOp(a, b) => flat(a) ++ flat(b)
        case ServiceOp(I(PathWildcardIri), body, _, _) =>
          require(wildcardBody.isEmpty, "SERVICE path:search: at most one " +
            s"nested SERVICE <$PathWildcardIri> edge-pattern block")
          wildcardBody = Some(body); Nil
        case _ => throw new IllegalArgumentException(
          "SERVICE path:search: the block must contain only path: " +
            "configuration triples (plus an optional nested " +
            s"SERVICE <$PathWildcardIri> edge-pattern block)")
      }
      flat(inner)
    }
    val byPred: Map[String, Seq[TriplePattern]] = pats.groupBy {
      case TriplePattern(_, I(p), _, _) if p.startsWith(PathSearch.Ns) =>
        p.stripPrefix(PathSearch.Ns)
      case tp => throw new IllegalArgumentException(
        s"SERVICE path:search: non-configuration pattern $tp (every " +
          "predicate must be a constant path: IRI)")
    }
    val known = Set("findPath", "sourceNode", "destinationNode",
      "maxPathLength", "bidirectional", "pathIndex", "resultBindingIndex",
      "startNode", "propertyBinding", "endNode", "distanceBinding")
    byPred.keys.find(!known(_)).foreach(k =>
      throw new IllegalArgumentException(
        s"SERVICE path:search: unknown configuration property path:$k"))
    def one(name: String): Option[PTerm] = byPred.get(name).map { ps =>
      require(ps.size == 1,
        s"SERVICE path:search: path:$name given ${ps.size} times")
      ps.head.o
    }
    def iriOf(name: String): Option[String] = one(name).map {
      case I(iri) => iri
      case o => throw new IllegalArgumentException(
        s"SERVICE path:search: path:$name needs a constant IRI, got $o")
    }
    def varOf(name: String): Option[String] = one(name).map {
      case V(v) => v
      case o => throw new IllegalArgumentException(
        s"SERVICE path:search: path:$name needs a variable, got $o")
    }
    val mode = iriOf("findPath").getOrElse(throw new IllegalArgumentException(
      "SERVICE path:search: path:findPath is required"))
      .stripPrefix(PathSearch.Ns)
    require(Set("shortestPath", "allPaths", "distance")(mode),
      s"SERVICE path:search: unknown path:findPath mode path:$mode")
    val src = iriOf("sourceNode").getOrElse(throw new IllegalArgumentException(
      "SERVICE path:search: path:sourceNode is required"))
    val dst = iriOf("destinationNode").getOrElse(
      throw new IllegalArgumentException(
        "SERVICE path:search: path:destinationNode is required"))
    val maxLen = one("maxPathLength").map {
      case L(t) => t.value.toInt
      case o => throw new IllegalArgumentException(
        s"SERVICE path:search: path:maxPathLength needs an integer, got $o")
    }.getOrElse(8)
    val bidi = one("bidirectional").exists {
      case L(t) => t.value == "true"
      case o => throw new IllegalArgumentException(
        s"SERVICE path:search: path:bidirectional needs a boolean, got $o")
    }
    // resource-edge view: every default-graph triple with an IRI/bnode
    // object (rdf:type edges included — wildcard search walks ALL edges).
    // catalog.resourceEdgeSet is the once-per-catalog materialized
    // DISTINCT edge set (FK columns + rdf:type only — literal columns are
    // never read; the allQuads lift would scan and explode them just to
    // filter on o.kind afterwards), so each search walks, never rebuilds.
    // With a nested wildcard block, the edge set is instead the compiled
    // pattern's solutions projected on (startNode, propertyBinding,
    // endNode) — the full compiler applies (pushdown, star collapse,
    // broadcast dims), so a restricted edge definition SHRINKS the walk
    // instead of post-filtering it.
    val edges = wildcardBody match {
      case None => catalog.resourceEdgeSet
      case Some(body) =>
        val startV = varOf("startNode").getOrElse(
          throw new IllegalArgumentException("SERVICE path:search: a " +
            "pattern-restricted search needs path:startNode ?var (the " +
            "wildcard pattern's edge source)"))
        val endV = varOf("endNode").getOrElse(
          throw new IllegalArgumentException("SERVICE path:search: a " +
            "pattern-restricted search needs path:endNode ?var (the " +
            "wildcard pattern's edge target)"))
        val propV = varOf("propertyBinding")
        val sol = compile(body)
        val cols = sol.df.columns.toSet
        require(cols.contains(startV) && cols.contains(endV),
          s"SERVICE path:search: the <$PathWildcardIri> pattern must " +
            s"bind ?$startV and ?$endV")
        val boundProp = propV.filter(cols.contains)
        val pc: Column = boundProp.map(pv => sol.df(pv).getField("value"))
          .getOrElse(lit(PathSearch.Ns + "edge"))
        val pk: Column = boundProp
          .map(pv => sol.df(pv).getField("kind") === Rdf.KindIri)
          .getOrElse(lit(true))
        sol.df.filter(
          sol.df(startV).getField("kind") =!= Rdf.KindLiteral &&
            sol.df(endV).getField("kind") =!= Rdf.KindLiteral && pk)
          .select(sol.df(startV).getField("value").as("src"), pc.as("p"),
            sol.df(endV).getField("value").as("dst"))
    }
    def nodeTerm(c: Column): Column =
      when(c.startsWith("_:"),
        struct(lit(Rdf.KindBlank).cast("tinyint").as("kind"),
          c.as("value"), lit(null).cast("string").as("dtype"),
          lit(null).cast("string").as("lang"),
          lit(null).cast("double").as("num")))
        .otherwise(E.iriTerm(c))
    def intTerm(c: Column): Column = struct(
      lit(Rdf.KindLiteral).cast(org.apache.spark.sql.types.ByteType).as("kind"),
      c.cast("string").as("value"), lit(Rdf.XsdInteger).as("dtype"),
      lit(null).cast("string").as("lang"), c.cast("double").as("num"))
    // a pattern-built edge frame is NOT pre-deduplicated/materialized —
    // edgeView distincts and caches it once per search
    val preSet = wildcardBody.isEmpty
    if (mode == "distance") {
      val v = varOf("distanceBinding").getOrElse(
        throw new IllegalArgumentException("SERVICE path:search: the " +
          "distance mode needs path:distanceBinding ?var"))
      // export vars don't apply to distance; with a wildcard block,
      // startNode/propertyBinding/endNode name the pattern's edge
      // variables instead of exports and are allowed
      (Seq("pathIndex", "resultBindingIndex") ++
        (if (wildcardBody.isEmpty)
          Seq("startNode", "propertyBinding", "endNode") else Nil))
        .foreach(k => require(byPred.get(k).isEmpty,
          s"SERVICE path:search: path:$k does not apply to path:distance"))
      val d = PathSearch.shortestDistance(edges, src, dst, maxLen, bidi,
        assumeSet = preSet)
      Sol(d.select(intTerm(col("dist")).as(v)), Set(v), Set.empty)
    } else {
      require(byPred.get("distanceBinding").isEmpty,
        "SERVICE path:search: path:distanceBinding applies only to " +
          "path:distance")
      val res =
        if (mode == "allPaths")
          PathSearch.allPaths(edges, src, dst, maxLen, bidi,
            assumeSet = preSet)
        else
          PathSearch.shortestPath(edges, src, dst, maxLen, bidi,
            assumeSet = preSet)
      val binds: Seq[(String, Column)] = Seq(
        varOf("pathIndex").map(v => v -> intTerm(col("path_idx"))),
        varOf("resultBindingIndex").map(v => v -> intTerm(col("edge_idx"))),
        varOf("startNode").map(v => v -> nodeTerm(col("start"))),
        varOf("propertyBinding").map(v => v -> E.iriTerm(col("pred"))),
        varOf("endNode").map(v => v -> nodeTerm(col("end")))).flatten
      require(binds.nonEmpty, "SERVICE path:search: at least one export " +
        "variable (path:pathIndex/path:resultBindingIndex/path:startNode/" +
        "path:propertyBinding/path:endNode) is required")
      Sol(res.select(binds.map { case (v, c) => c.as(v) }: _*),
        binds.map(_._1).toSet, Set.empty)
    }
  }

  // FTS plugin pseudo-property (the GraphDB legacy Lucene plugin's query
  // surface): `?s luc:<index> "term1 term2 pref*"` matches subjects whose
  // indexed literal tokens contain EVERY term (conjunctive, Lucene's
  // default for the plugin); a trailing `*` makes a term a prefix match.
  // The index is built explicitly (GraphCatalog.createFtsIndex — the
  // plugin's `luc:createIndex` batch op); an `analyzed` index runs the
  // Analyzer chain over query terms too (stopworded terms drop, stems
  // match — Lucene's analyzer behavior; prefixes stay surface-form, like
  // Lucene wildcards). `luc:score ?v` (r14) binds the match's relevance
  // score — the engine's deterministic integer tf·idf (the rankedSearch
  // kernel: per matched clause, tf * (N·1e6 div df_t), summed per doc) as
  // an xsd:integer literal, composing with ORDER BY / FILTER like any
  // binding. GraphDB's plugin binds Lucene's float score here; ours is
  // the same ranking FAMILY but deterministic, so the DuckDB oracle
  // replays it exactly.
  private val LucNs = "http://www.ontotext.com/owlim/lucene#"
  private def lucIndexOf(tp: TriplePattern): Option[String] = tp.p match {
    case I(iri) if iri.startsWith(LucNs) => Some(iri.stripPrefix(LucNs))
    case _ => None
  }
  private def compileLuc(tp: TriplePattern, name: String,
      scoreVar: Option[String] = None): Sol = {
    val (idx, nDocs, analyzed) = catalog.ftsIndex(name).getOrElse(
      throw new IllegalArgumentException(s"luc:$name — no such FTS index " +
        "(create it with GraphCatalog.createFtsIndex, the plugin's " +
        "luc:createIndex operation)"))
    val query = tp.o match {
      case L(t) if t.kind == Rdf.KindLiteral => t.value
      case o => throw new IllegalArgumentException(
        s"luc:$name needs a constant string query object, got $o")
    }
    val chunks = query.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    require(chunks.nonEmpty, s"luc:$name: empty query")
    val parsed: Seq[(String, Boolean)] = chunks.map { c =>
      val wild = c.endsWith("*")
      val core = if (wild) c.dropRight(1) else c
      require(core.nonEmpty && core.matches("\\w+"),
        s"luc:$name: unsupported query term '$c' (a term or a " +
          "trailing-* prefix)")
      (core, wild)
    }
    val exact0 = parsed.filter(!_._2).map(_._1)
    val exact =
      (if (analyzed) graft.pipeline.Analyzer.analyzeQuery(catalog.spark, exact0)
       else exact0).distinct
    val prefixes = parsed.filter(_._2).map(_._1).distinct
    // one postings pass for ALL exact terms (term-IN + per-doc distinct
    // count), one pruned pass per prefix; sets intersect on doc
    val docSets: Seq[DataFrame] =
      (if (exact.nonEmpty)
        Seq(idx.filter(col("term").isin(exact: _*))
          .groupBy(col("doc")).agg(countDistinct(col("term")).as("_nt"))
          .filter(col("_nt") === exact.size).select(col("doc")))
       else Nil) ++
        prefixes.map(p =>
          idx.filter(col("term").startsWith(p)).select(col("doc")).distinct())
    require(docSets.nonEmpty,
      s"luc:$name: query '$query' has no effective terms (all stopworded)")
    val docs = docSets.reduce((a, b) => a.join(b, "doc"))
    // luc:score — per query clause (an exact term / a prefix), every
    // matched posting row contributes the integer tf·idf
    // tf * (N·1e6 div df_t); clause contributions sum per doc, restricted
    // to the conjunctive match set. df_t is clause-local (the matched
    // term's doc frequency over the whole index — each clause's hits ARE
    // the index rows of its matched terms), so no extra index pass.
    val out: DataFrame = scoreVar match {
      case None => docs
      case Some(_) =>
        val clauses: Seq[DataFrame] =
          exact.map(t => idx.filter(col("term") === t)) ++
            prefixes.map(p => idx.filter(col("term").startsWith(p)))
        val contribs = clauses.map { hits =>
          val dft = hits.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
          hits.join(broadcast(dft), Seq("term"))
            .select(col("doc"),
              expr(s"tf * (${nDocs * 1000000L}L div df_t)").as("_c"))
        }.reduce(_ unionAll _)
        contribs.join(docs, "doc").groupBy(col("doc"))
          .agg(sum(col("_c")).cast("bigint").as("_score"))
    }
    val subjTerm = when(col("doc").startsWith("_:"),
      struct(lit(Rdf.KindBlank).cast("tinyint").as("kind"),
        col("doc").as("value"), lit(null).cast("string").as("dtype"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("double").as("num")))
      .otherwise(E.iriTerm(col("doc")))
    val scoreBind: Seq[(String, Column)] =
      scoreVar.map(v => v -> E.typedNumTerm(col("_score"), lit(0))).toSeq
    tp.s match {
      case V(sn) =>
        val binds = Seq(sn -> subjTerm) ++ scoreBind
        Sol(out.select(binds.map { case (n, c) => c.as(n) }: _*),
          binds.map(_._1).toSet, Set.empty)
      case I(iri) =>
        val f = out.filter(col("doc") === iri)
        if (scoreBind.isEmpty) Sol(f.select(), Set.empty, Set.empty)
        else Sol(f.select(scoreBind.map { case (n, c) => c.as(n) }: _*),
          scoreBind.map(_._1).toSet, Set.empty)
      case s => throw new IllegalArgumentException(
        s"luc:$name needs an IRI or variable subject, got $s")
    }
  }

  // Similarity plugin pseudo-properties (the GraphDB text-similarity
  // plugin's query surface, r13): a BGP group of the plugin's shape
  //   ?search a inst:<index> ;
  //           similarity:searchTerm "free text"            (term search)
  //         | similarity:searchDocumentID <doc>            (doc-to-doc)
  //         | similarity:searchVector "v1,v2,..."          (embedding)
  //         | psi:searchEntity <entity> ;                  (predication)
  //           similarity:searchParameters "-numsearchresults N" ;  (opt)
  //           similarity:documentResult ?r .   (psi: entityResult ?r)
  //   ?r similarity:value ?doc ;
  //      similarity:score ?score .                          (opt)
  // compiles against the EXPLICITLY built index
  // (GraphCatalog.createSimilarityIndex — the plugin's createIndex batch
  // op): tf postings join the query vector (broadcast — query-sized or
  // one stored doc vector), one partial+final aggregate per candidate
  // doc, cosine against the PRECOMPUTED norms, top-k. Deterministic
  // (integer tf dots, round-4 cosine, ties on doc id) so a SQL oracle
  // replays scoring end-to-end.
  private val SimNs = "http://www.ontotext.com/graphdb/similarity/"
  private val SimInstNs: String = SimNs + "instance/"
  private def isSimPattern(tp: TriplePattern): Boolean = (tp.p, tp.o) match {
    case (I(p), _) if p.startsWith(SimNs) => true
    case (I(p), I(o)) if p == Rdf.RdfType && o.startsWith(SimInstNs) => true
    case _ => false
  }
  private def compileSimilarity(ps: Seq[TriplePattern]): Seq[Sol] = {
    val spark = catalog.spark
    import spark.implicits._
    val anchors = ps.collect {
      case TriplePattern(s, I(p), I(o), _)
        if p == Rdf.RdfType && o.startsWith(SimInstNs) =>
        (s, o.stripPrefix(SimInstNs))
    }
    require(anchors.nonEmpty, "similarity: plugin properties need a " +
      "`?search a inst:<index>` anchor in the same group")
    require(anchors.map(_._1).distinct.size == anchors.size,
      "similarity: one index instance per search node")
    val searchSubjects = anchors.map(_._1).toSet
    val consumed = collection.mutable.Set[TriplePattern]()
    val sols = anchors.map { case (searchS, name) =>
      val textIdx = catalog.similarityIndex(name)
      val vecIdx =
        if (textIdx.isEmpty) catalog.embeddingIndex(name) else None
      // predication mode (r14): psi:searchEntity over per-entity
      // predication vectors — same stored (tf, norms) shape as text, so
      // the doc-to-doc scoring path below is shared verbatim.
      val psiIdx =
        if (textIdx.isEmpty && vecIdx.isEmpty) catalog.predicationIndex(name)
        else None
      if (textIdx.isEmpty && vecIdx.isEmpty && psiIdx.isEmpty)
        throw new IllegalArgumentException(s"similarity: no such index " +
          s"'$name' (create it with GraphCatalog.createSimilarityIndex / " +
          "createEmbeddingIndex / createPredicationIndex, the plugin's " +
          "createIndex operation)")
      val sps = ps.filter(t => t.s == searchS && isSimPattern(t))
      sps.foreach(consumed += _)
      def one(local: String): Option[PTerm] = {
        val hits = sps.collect {
          case TriplePattern(_, I(p), o, _) if p == SimNs + local => o }
        require(hits.size <= 1, s"similarity:$local given ${hits.size} times")
        hits.headOption
      }
      val allowedProps =
        if (vecIdx.isDefined)
          Set("searchVector", "searchParameters", "documentResult")
        else if (psiIdx.isDefined)
          // psi:searchEntity lives under SimNs + "psi/", so its LOCAL
          // name through stripPrefix(SimNs) is "psi/searchEntity"
          Set("psi/searchEntity", "searchParameters", "entityResult")
        else Set("searchTerm", "searchDocumentID", "searchParameters",
          "documentResult")
      sps.foreach {
        case TriplePattern(_, I(p), _, _) =>
          val local = p.stripPrefix(SimNs)
          require(p == Rdf.RdfType || allowedProps(local),
            s"similarity: unknown search property similarity:$local" +
              (if (vecIdx.isDefined) " (embedding-index search)"
               else if (psiIdx.isDefined) " (predication-index search)"
               else ""))
        case tp => throw new IllegalArgumentException(
          s"similarity: non-constant predicate in plugin group: $tp")
      }
      val termQ = one("searchTerm").map {
        case L(t) => t.value
        case o => throw new IllegalArgumentException(
          s"similarity:searchTerm needs a constant literal, got $o")
      }
      val docQ = one("searchDocumentID").map {
        case I(iri) => iri
        case o => throw new IllegalArgumentException(
          s"similarity:searchDocumentID needs a constant IRI, got $o")
      }
      val vecQ = one("searchVector").map {
        case L(t) => t.value
        case o => throw new IllegalArgumentException(
          s"similarity:searchVector needs a constant literal, got $o")
      }
      val entQ = one("psi/searchEntity").map {
        case I(iri) => iri
        case o => throw new IllegalArgumentException(
          s"psi:searchEntity needs a constant IRI, got $o")
      }
      if (vecIdx.isDefined)
        require(vecQ.isDefined, "similarity: an embedding-index search " +
          "needs similarity:searchVector \"v1,v2,...\"")
      else if (psiIdx.isDefined)
        require(entQ.isDefined, "similarity: a predication-index search " +
          "needs psi:searchEntity <entity>")
      else
        require(termQ.isDefined ^ docQ.isDefined, "similarity: exactly one " +
          "of similarity:searchTerm / similarity:searchDocumentID is required")
      val params: Map[String, Int] = one("searchParameters").map {
        case L(t) =>
          val toks = t.value.trim.split("\\s+").filter(_.nonEmpty).toSeq
          require(toks.size % 2 == 0 && toks.grouped(2).forall(a =>
            Set("-numsearchresults", "-nprobe")(a.head) &&
              a(1).matches("\\d+")),
            s"similarity:searchParameters: unsupported '${t.value}' " +
              "(supported: -numsearchresults N; -nprobe N on embedding " +
              "indexes)")
          toks.grouped(2).map(a => a.head -> a(1).toInt).toMap
        case o => throw new IllegalArgumentException(
          s"similarity:searchParameters needs a constant literal, got $o")
      }.getOrElse(Map.empty)
      require(vecIdx.isDefined || !params.contains("-nprobe"),
        "similarity: -nprobe applies only to embedding indexes")
      val topk = params.getOrElse("-numsearchresults", 10)
      val nprobe = params.getOrElse("-nprobe", 3)
      // psi results flow through similarity:entityResult (the plugin's
      // predication-search shape); the other modes use documentResult
      val resultProp =
        if (psiIdx.isDefined) "entityResult" else "documentResult"
      val resultVar = one(resultProp) match {
        case Some(V(r)) => r
        case other => throw new IllegalArgumentException(
          s"similarity:$resultProp ?var is required, got $other")
      }
      val rps = ps.filter(t => t.s == V(resultVar))
      rps.foreach(consumed += _)
      def rvar(local: String): Option[String] = {
        val hits = rps.collect {
          case TriplePattern(_, I(p), o, _) if p == SimNs + local => o }
        require(hits.size <= 1, s"similarity:$local given ${hits.size} times")
        hits.headOption.map {
          case V(v) => v
          case o => throw new IllegalArgumentException(
            s"similarity:$local needs a variable object, got $o")
        }
      }
      rps.foreach {
        case TriplePattern(_, I(p), _, _)
          if Set(SimNs + "value", SimNs + "score")(p) => ()
        case tp => throw new IllegalArgumentException(
          s"similarity: the result node only carries similarity:value / " +
            s"similarity:score, got $tp")
      }
      val docVar = rvar("value").getOrElse(throw new IllegalArgumentException(
        "similarity: the result node needs `similarity:value ?doc`"))
      val scoreVar = rvar("score")
      // ranked: (doc, score, _rk) in plugin top-k order, either mode.
      val ranked: DataFrame = vecIdx match {
        case Some((idx, prefix)) =>
          // embedding mode (r14): probe the persisted IVF index — the
          // hit cids prune the posting scan to the probed buckets
          // (SelectedBucketsCount, plan-asserted in SimilarityPluginSpec)
          // and scores are the shared round-4 cosine with (score desc,
          // doc asc) ties, so the SQL oracle replays them.
          val vals = vecQ.get.split(",").map(_.trim).filter(_.nonEmpty)
            .map(v => try v.toDouble catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"similarity:searchVector: '$v' is not a number")
            }).toSeq
          require(vals.nonEmpty, "similarity:searchVector: empty vector")
          val qdf = Seq((-1L, vals)).toDF("query_id", "qv")
          idx.topK(qdf, "query_id", "qv", k = topk, nprobe = nprobe)
            .select(
              concat(lit(prefix), col("neighbor_id").cast("string"))
                .as("doc"),
              col("cos").as("score"), col("rank").as("_rk"))
        case None =>
          val (tf, norms, analyzed) = textIdx
            .getOrElse((psiIdx.get._1, psiIdx.get._2, false))
          val scored: DataFrame = termQ match {
            case Some(text) =>
              val raw = text.trim.toLowerCase.split("\\W+")
                .filter(_.nonEmpty).toSeq
              val terms = if (analyzed)
                graft.pipeline.Analyzer.analyzeQuery(spark, raw) else raw
              require(terms.nonEmpty,
                s"similarity: query '$text' has no effective terms")
              val qtf = terms.groupBy(identity).view
                .mapValues(_.size.toLong).toSeq
              val qn = math.sqrt(
                qtf.map { case (_, c) => (c * c).toDouble }.sum)
              tf.join(broadcast(qtf.toDF("term", "qtf")), "term")
                .groupBy(col("doc"))
                .agg(sum(col("tf") * col("qtf")).as("num"))
                .join(norms, "doc")
                .select(col("doc"),
                  round(col("num") / (sqrt(col("nn")) * lit(qn)), 4)
                    .as("score"))
            case None =>
              val qid = docQ.orElse(entQ).get
              val q = tf.filter(col("doc") === qid)
                .select(col("term"), col("tf").as("qtf"))
              val qn1 = norms.filter(col("doc") === qid)
                .select(sqrt(col("nn")).as("_qn"))
              tf.filter(col("doc") =!= qid).join(broadcast(q), "term")
                .groupBy(col("doc"))
                .agg(sum(col("tf") * col("qtf")).as("num"))
                .join(norms, "doc").crossJoin(broadcast(qn1))
                .select(col("doc"),
                  round(col("num") / (sqrt(col("nn")) * col("_qn")), 4)
                    .as("score"))
          }
          val w = org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("doc").asc)
          scored.orderBy(col("score").desc, col("doc").asc)
            .limit(topk).withColumn("_rk", row_number().over(w))
      }
      def bnodeTerm(v: Column): Column = struct(
        lit(Rdf.KindBlank).cast("tinyint").as("kind"), v.as("value"),
        lit(null).cast("string").as("dtype"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("double").as("num"))
      val docTerm = when(col("doc").startsWith("_:"), bnodeTerm(col("doc")))
        .otherwise(E.iriTerm(col("doc")))
      val binds: Seq[(String, Column)] =
        Seq(docVar -> docTerm) ++
          scoreVar.map(v => v -> E.numTerm(col("score"))) ++
          Seq(resultVar ->
            bnodeTerm(concat(lit(s"_:sim_${name}_"), col("_rk")))) ++
          (searchS match {
            case V(sv) => Seq(sv ->
              E.termLit(RdfTerm.blank(s"_:simsearch_$name")))
            case _ => Nil
          })
      Sol(ranked.select(binds.map { case (n, c) => c.as(n) }: _*),
        binds.map(_._1).toSet, Set.empty)
    }
    // every plugin-namespace pattern must belong to a search/result group
    ps.filterNot(consumed).foreach { tp =>
      if (!searchSubjects.contains(tp.s))
        throw new IllegalArgumentException(
          s"similarity: pattern $tp is not attached to a search or " +
            "result node of this group")
    }
    sols
  }

  // --- proof plugin (r15 — GraphDB's proof plugin surface) --------------
  private val ProofNs = graft.inference.Proof.Ns
  private def isProofPattern(tp: TriplePattern): Boolean = tp.p match {
    case I(p) => p.startsWith(ProofNs)
    case _ => false
  }

  /** Compile a proof-plugin group — GraphDB's documented shape:
    * {{{
    *   ?sol proof:explain (?s ?p ?o) .   # or constants in the list
    *   ?sol proof:rule ?rule .
    *   ?sol proof:subject ?as . ?sol proof:predicate ?ap .
    *   ?sol proof:object ?ao . ?sol proof:context ?g .
    * }}}
    * Each solution row is ONE antecedent of ONE rule application
    * concluding the explained triple ([[graft.inference.Proof]]); `?sol`
    * binds a deterministic per-application IRI, so grouping/counting by
    * it reconstructs whole applications. The `(s p o)` collection arrives
    * parser-expanded as rdf:first/rest patterns on a fresh list variable;
    * this consumes that chain from `others`. Constant list positions
    * filter the conclusion columns (pushed into the rule joins' store
    * scans); variable positions bind, so joining the group against a
    * VALUES block of target triples is the GraphDB usage, verbatim.
    */
  private def compileProof(proofPs: Seq[TriplePattern],
      others: Seq[TriplePattern]): (Seq[Sol], Seq[TriplePattern]) = {
    val bySol = proofPs.groupBy(_.s)
    var remaining = others
    val sols = bySol.toSeq.sortBy(_._1.toString).map { case (solTerm, sps) =>
      def one(local: String): Option[PTerm] = {
        val hits = sps.collect {
          case TriplePattern(_, I(p), o, _) if p == ProofNs + local => o }
        require(hits.size <= 1, s"proof:$local given ${hits.size} times")
        hits.headOption
      }
      sps.foreach {
        case TriplePattern(_, I(p), _, _) =>
          val local = p.stripPrefix(ProofNs)
          require(Set("explain", "rule", "subject", "predicate", "object",
            "context")(local), s"proof: unknown property proof:$local")
        case tp => throw new IllegalArgumentException(
          s"proof: non-constant predicate in plugin group: $tp")
      }
      // the explain list: walk the parser-expanded rdf:first/rest chain
      val listHead = one("explain").getOrElse(throw new
          IllegalArgumentException("proof: the group needs " +
        "`?sol proof:explain (s p o)`"))
      def walk(head: PTerm, acc: List[PTerm],
          used: List[TriplePattern]): (List[PTerm], List[TriplePattern]) =
        head match {
          case I(Rdf.RdfNil) => (acc.reverse, used)
          case v =>
            val first = remaining.find(tp =>
              tp.s == v && tp.p == I(Rdf.RdfFirst))
            val rest = remaining.find(tp =>
              tp.s == v && tp.p == I(Rdf.RdfRest))
            require(first.isDefined && rest.isDefined,
              "proof:explain needs a 3-element collection `(s p o)`")
            walk(rest.get.o, first.get.o :: acc,
              first.get :: rest.get :: used)
        }
      val (elems, used) = walk(listHead, Nil, Nil)
      require(elems.size == 3,
        s"proof:explain needs exactly (subject predicate object), " +
          s"got ${elems.size} elements")
      remaining = remaining.filterNot(used.contains)
      var df = graft.inference.Proof.explanations(catalog.allQuads,
        catalog.pseudoGraph(Rdf.OntoExplicit), catalog.proofRules)
      var conds = List.empty[Column]
      var bind = Map.empty[String, Column]
      def bindOrEq(t: PTerm, term: Column): Unit = t match {
        case V(n) if bind.contains(n) => conds ::= (bind(n) === term)
        case V(n) => bind += (n -> term)
        case I(iri) => conds ::= (term === E.termLit(RdfTerm.iri(iri)))
        case L(lt) => conds ::= (term === E.termLit(lt))
      }
      def nodeTerm(c: Column): Column = when(c.startsWith("_:"),
        struct(lit(Rdf.KindBlank).cast("tinyint").as("kind"), c.as("value"),
          lit(null).cast("string").as("dtype"),
          lit(null).cast("string").as("lang"),
          lit(null).cast("double").as("num"))).otherwise(E.iriTerm(c))
      // target positions: constants filter the CONCLUSION columns
      // (pushdown into the rule joins), variables bind
      elems(0) match {
        case I(iri) => conds ::= (col("cs") === iri)
        case L(_) => conds ::= lit(false) // literal subject: no solutions
        case V(n) if bind.contains(n) => conds ::= (bind(n) === nodeTerm(col("cs")))
        case V(n) => bind += (n -> nodeTerm(col("cs")))
      }
      elems(1) match {
        case I(iri) => conds ::= (col("cp") === iri)
        case L(_) => conds ::= lit(false)
        case V(n) if bind.contains(n) => conds ::= (bind(n) === E.iriTerm(col("cp")))
        case V(n) => bind += (n -> E.iriTerm(col("cp")))
      }
      bindOrEq(elems(2), col("co"))
      // accessors
      val ruleTerm = struct(lit(Rdf.KindLiteral).cast("tinyint").as("kind"),
        col("rule").as("value"), lit(null).cast("string").as("dtype"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("double").as("num"))
      one("rule").foreach(bindOrEq(_, ruleTerm))
      one("subject").foreach(bindOrEq(_, nodeTerm(col("a_s"))))
      one("predicate").foreach(bindOrEq(_, E.iriTerm(col("a_p"))))
      one("object").foreach(bindOrEq(_, col("a_o")))
      one("context").foreach(bindOrEq(_, E.iriTerm(col("a_g"))))
      solTerm match {
        case V(sv) => bind += (sv ->
          E.iriTerm(concat(lit("urn:graft:proof:"), col("sol"))))
        case _ => () // a constant ?sol never matches the fresh ids
      }
      conds.foreach(c => df = df.filter(c))
      val out = df.select(bind.toSeq.sortBy(_._1)
        .map { case (n, c) => c.as(n) }: _*)
      Sol(out, bind.keySet, Set.empty)
    }
    (sols, remaining)
  }

  private def compileBgp(patterns0: Seq[TriplePattern]): Sol = {
    if (patterns0.exists(tp => geoRelateOf(tp).isDefined))
      return compileGeoRewrite(patterns0)
    // rank pseudo-property members compile against the precomputed table
    val (rankPs, patterns1) = patterns0.partition(_.p == I(RankIri))
    val rankSols = rankPs.map(tp => (compileRank(tp), estimate(tp)))
    // FTS-plugin members: selective by construction — a low estimate puts
    // them early in the greedy join order. `luc:score ?v` (r14) is not an
    // index lookup: it attaches the relevance score to the luc: match
    // pattern with the same subject.
    val (lucAll, patterns2) = patterns1.partition(tp => lucIndexOf(tp).isDefined)
    val (lucScorePs, lucPs) = lucAll.partition(_.p == I(LucNs + "score"))
    val lucScoreVar: Map[PTerm, String] = lucScorePs.map { tp =>
      val v = tp.o match {
        case V(n) => n
        case o => throw new IllegalArgumentException(
          s"luc:score needs a variable object, got $o")
      }
      require(lucPs.count(_.s == tp.s) == 1,
        s"luc:score on ${tp.s} needs exactly one luc:<index> match " +
          "pattern with the same subject in this group")
      tp.s -> v
    }.toMap
    require(lucScoreVar.size == lucScorePs.size,
      "luc:score given twice for one subject")
    val lucSols = lucPs.map(tp =>
      (compileLuc(tp, lucIndexOf(tp).get, lucScoreVar.get(tp.s)), 10.0))
    // Similarity-plugin groups: one Sol per search node, top-k-sized —
    // also selective by construction. Result-node patterns (value/score)
    // are absorbed into the group, so they leave `patterns`.
    val (simRaw, patterns3) = patterns2.partition(isSimPattern)
    val simResultSubjects: Set[PTerm] = simRaw.collect {
      case TriplePattern(_, I(p), o, _)
        if p == SimNs + "documentResult" || p == SimNs + "entityResult" => o
    }.toSet
    val (simResPs, patternsS) = patterns3.partition(
      tp => simResultSubjects.contains(tp.s))
    val simSols =
      if (simRaw.isEmpty) Nil
      else compileSimilarity(simRaw ++ simResPs).map(s => (s, 10.0))
    // Proof-plugin groups (r15): consume the proof: patterns plus the
    // parser-expanded explain-collection chain; constant targets make the
    // group selective, open targets scan rule derivations (estimate high).
    val (proofPs, patternsQ) = patternsS.partition(isProofPattern)
    val (proofSols0, patterns) =
      if (proofPs.isEmpty) (Nil: Seq[Sol], patternsQ)
      else compileProof(proofPs, patternsQ)
    val proofSols = proofSols0.map(s => (s, 100.0))
    // Star groups: same subject var, constant predicates of one table, default
    // graph → one property-table scan per group (SURVEY §4.3).
    val (starrable, rest) = patterns.partition(p => starTable(p).isDefined)
    val groups = starrable.groupBy(p => (p.s.asInstanceOf[V].name, starTable(p).get))
    val starSols = groups.toSeq.sortBy(_._1).map { case ((sv, t), pats) =>
      (compileStar(sv, t, pats), pats.map(estimate).min / pats.size)
    }
    val patSols = rest.map(tp => (compilePattern(tp), estimate(tp)))
    val all = starSols ++ patSols ++ rankSols ++ lucSols ++ simSols ++
      proofSols
    require(all.nonEmpty, "empty BGP")
    // Greedy selectivity-ordered join construction (the engine-side analog
    // of GraphDB's statistics-driven pattern reorder, SURVEY §4.1): start
    // from the cheapest estimated member, then always extend with the
    // cheapest member SHARING a variable with the accumulated solution —
    // a disconnected member (unavoidable Cartesian product) joins last and
    // only when nothing connected remains. Pure inner joins on all-cert
    // vars are commutative/associative, so any order is semantics-exact;
    // the order decides intermediate sizes and avoids accidental cross
    // joins that syntactic order produces when a bridging pattern appears
    // after two disconnected ones. Ties break on syntactic position.
    val cands = all.zipWithIndex
      .map { case ((sol, est), i) => (sol, est, i) }.sortBy(t => (t._2, t._3))
    var acc = cands.head._1
    var remaining = cands.tail
    while (remaining.nonEmpty) {
      val vars = acc.visible
      val next = remaining.find(_._1.visible.intersect(vars).nonEmpty)
        .getOrElse(remaining.head)
      acc = joinSols(acc, next._1, "inner", None)
      remaining = remaining.filterNot(_._3 == next._3)
    }
    acc
  }

  /** Cardinality estimate of one pattern: per-predicate statement count
    * when the catalog has statistics (constant-predicate patterns), a flat
    * prior otherwise. A bound SUBJECT discounts 100× (variable-counting —
    * bound terms select, variables scan); a bound OBJECT uses the
    * per-predicate DISTINCT-OBJECT count when statistics carry it
    * (r12 stats v2: `count(p) / distinct_objects(p)` — a key-like
    * predicate estimates ~1 row, a 3-category flag ~N/3 — falling back to
    * the flat 100× discount otherwise).
    */
  private def estimate(tp: TriplePattern): Double = {
    val stats = catalog.statistics
    val base: Double = tp.p match {
      case I(p) => stats.flatMap(_.get(p)).map(_.toDouble.max(1.0))
        .getOrElse(1e6)
      case _ => stats.map(_.values.sum.toDouble.max(1.0)).getOrElse(1e8)
    }
    val sSel = if (tp.s.isInstanceOf[V]) 1.0 else 1e-2
    val oSel: Double =
      if (tp.o.isInstanceOf[V]) 1.0
      else (tp.p match {
        case I(p) => catalog.objectStatistics.flatMap(_.get(p))
          .map(d => 1.0 / d.toDouble.max(1.0))
        case _ => None
      }).getOrElse(1e-2)
    base * sSel * oSel
  }

  /** Table this pattern can star-collapse onto, if any. */
  private def starTable(tp: TriplePattern): Option[String] = tp match {
    case TriplePattern(V(_), I(p), o, I(g)) =>
      val t =
        if (p == Rdf.RdfType) o match {
          case I(cls) => catalog.tableForClass(cls)
          case _ => None // `?s a ?t` over all tables — not a star member
        }
        else catalog.columnForPredicate(p).map(_._1)
      t.filter(name => catalog.table(name).exists(_._2.graph == g))
    case _ => None
  }

  private def compileStar(sv: String, table: String, pats: Seq[TriplePattern]): Sol = {
    val (tdf, spec) = catalog.table(table).get
    var df = tdf
    var conds = List.empty[Column]
    var bind = Map[String, Column](sv -> E.iriTerm(DirectMapper.subjectOf(spec)))
    pats.foreach { tp =>
      val I(p) = tp.p: @unchecked
      if (p == Rdf.RdfType) tp.o match {
        case I(_) => () // class membership: every row of this table qualifies
        case V(n) => bind += (n -> E.iriTerm(lit(DirectMapper.classIri(table))))
        case L(_) => conds ::= lit(false)
      } else {
        val c = catalog.columnForPredicate(p).get._3
        val term = spec.fks.get(c) match {
          case Some(target) => DirectMapper.iriTerm(DirectMapper.entityIri(target, col(c)))
          case None => DirectMapper.literalTerm(col(c), tdf.schema(c).dataType)
        }
        conds ::= col(c).isNotNull // absent cell = no triple = pattern fails
        tp.o match {
          case V(n) if bind.contains(n) => conds ::= (bind(n) === term)
          case V(n) => bind += (n -> term)
          case I(iri) => // FK-backed object: compare on the raw key (pushdown-friendly)
            spec.fks.get(c) match {
              case Some(target) if iri.startsWith(s"${DirectMapper.Base}/$target/") =>
                conds ::= (col(c).cast("string") === iri.stripPrefix(s"${DirectMapper.Base}/$target/"))
              case _ => conds ::= (term === E.termLit(RdfTerm.iri(iri)))
            }
          case L(t) => conds ::= t.num.fold(col(c).cast("string") === t.value)(n => col(c) === n)
        }
      }
    }
    conds.foreach(c => df = df.filter(c))
    val out = df.select(bind.toSeq.sortBy(_._1).map { case (n, c) => c.as(n) }: _*)
    Sol(out, bind.keySet, Set.empty)
  }

  /** One triple pattern over the routed quad source. A constant graph
    * naming a registered PSEUDO-GRAPH (`onto:explicit` / `onto:implicit` /
    * `onto:disable-sameAs` — GraphDB's special query graphs) scans that
    * view instead: the view's own `graph` column is the statement's
    * ORIGINAL context, so no graph condition applies, and the per-table
    * predicate routing is bypassed (the view is a quad frame; a constant
    * predicate still filters `p = <iri>`, pushdown-eligible when the view
    * is parquet-backed).
    */
  private def compilePattern(tp: TriplePattern): Sol = {
    val pseudoDf = tp.graph match {
      case I(g) => catalog.pseudoGraph(g)
      case _ => None
    }
    var df = pseudoDf match {
      case Some(view) => view
      case None => tp.p match {
        case I(p) =>
          val hint = (p, tp.o) match {
            case (Rdf.RdfType, I(cls)) => Some(cls)
            case _ => None
          }
          catalog.forPredicate(p, hint)
        case _ => catalog.allQuads
      }
    }
    var conds = List.empty[Column]
    var bind = Map.empty[String, Column]
    def handle(term: PTerm, c: Column, asTerm: Column => Column): Unit = term match {
      case I(iri) => conds ::= (c === iri)
      case L(t) => conds ::= (c === E.termLit(t)) // only reachable for `o`
      case V(n) if bind.contains(n) => conds ::= (bind(n) === asTerm(c))
      case V(n) => bind += (n -> asTerm(c))
    }
    // GRAPH ?g ranges over the NAMED graphs only (SPARQL 13.3) — the
    // default graph is never enumerated by a graph variable.
    tp.graph match {
      case V(_) => conds ::= (col("graph") =!= Rdf.DefaultGraph)
      case _ => ()
    }
    if (pseudoDf.isEmpty) handle(tp.graph, col("graph"), E.iriTerm)
    tp.s match {
      case I(iri) => conds ::= (col("s") === iri)
      case L(_) => conds ::= lit(false) // literal subject: no solutions
      case V(n) =>
        val t = when(col("s").startsWith("_:"),
          struct(lit(Rdf.KindBlank).cast("tinyint").as("kind"), col("s").as("value"),
            lit(null).cast("string").as("dtype"), lit(null).cast("string").as("lang"),
            lit(null).cast("double").as("num"))).otherwise(E.iriTerm(col("s")))
        if (bind.contains(n)) conds ::= (bind(n) === t) else bind += (n -> t)
    }
    handle(tp.p, col("p"), E.iriTerm)
    tp.o match {
      case I(iri) => conds ::= (col("o.kind") === Rdf.KindIri && col("o.value") === iri)
      case L(t) =>
        conds ::= (col("o.kind") === Rdf.KindLiteral && col("o.value") === t.value &&
          col("o.dtype") <=> lit(t.dtype.orNull) && col("o.lang") <=> lit(t.lang.orNull))
      case V(n) if bind.contains(n) => conds ::= (bind(n) === col("o"))
      case V(n) => bind += (n -> col("o"))
    }
    conds.foreach(c => df = df.filter(c))
    val out = df.select(bind.toSeq.sortBy(_._1).map { case (n, c) => c.as(n) }: _*)
    Sol(out, bind.keySet, Set.empty)
  }

  // ---------------------------------------------------------------- joins

  /** Inner/left join with SPARQL compatibility on shared variables. */
  private def joinSols(l: Sol, r: Sol, how: String, extra: Option[E.Fn]): Sol = {
    val shared = l.visible.intersect(r.visible).toSeq.sorted
    val rdf = renameAll(r.df, r.visible)
    val lv = (n: String) => l.df(n)
    val rv = (n: String) => rdf(ren(n))
    val condParts = shared.map { v =>
      if (l.cert(v) && r.cert(v)) lv(v) === rv(v)
      else lv(v).isNull || rv(v).isNull || lv(v) === rv(v)
    }
    // Merged-scope resolver: OPTIONAL's FILTER evaluates over the merged
    // solution (SURVEY §7.4 risk #2 — it must go INTO the join condition).
    // A variable on NEITHER side (a not-well-designed pattern's FILTER
    // referencing an outer-only var, 18.2.2 — tranche 36) resolves to
    // UNBOUND, so the filter errors to false instead of failing analysis.
    val resolve: String => Column = n =>
      if (shared.contains(n)) coalesce(lv(n), rv(n))
      else if (l.visible(n)) lv(n)
      else if (r.visible(n)) rv(n)
      else E.nullTerm
    val allCond = (condParts ++ extra.map(f => f(resolve)).toSeq)
      .reduceOption(_ && _)
    val joined = allCond match {
      case Some(c) => l.df.join(rdf, c, how)
      case None if how == "inner" => l.df.crossJoin(rdf)
      case None => l.df.join(rdf, lit(true), how)
    }
    val outCols =
      l.visible.toSeq.sorted.map { v =>
        if (shared.contains(v) && !l.cert(v)) coalesce(lv(v), rv(v)).as(v)
        else lv(v).as(v)
      } ++ (r.visible -- l.visible).toSeq.sorted.map(v => rv(v).as(v))
    val out = joined.select(outCols: _*)
    how match {
      case "inner" =>
        val cert = l.cert ++ r.cert ++ shared.filter(v => l.cert(v) || r.cert(v))
        Sol(out, cert, (l.visible ++ r.visible) -- cert)
      case _ => // left_outer
        Sol(out, l.cert, (l.visible ++ r.visible) -- l.cert)
    }
  }

  private def unionSols(l: Sol, r: Sol): Sol = {
    val allVars = (l.visible ++ r.visible).toSeq.sorted
    def pad(s: Sol) = s.df.select(allVars.map { v =>
      if (s.visible(v)) s.df(v).as(v) else E.nullTerm.as(v)
    }: _*)
    val cert = l.cert.intersect(r.cert)
    Sol(pad(l).unionAll(pad(r)), cert, allVars.toSet -- cert)
  }

  /** MINUS: drop left rows having a compatible right row with overlapping
    * domain; disjoint domains keep everything (J4 vs NOT EXISTS, §7.4 #5).
    */
  private def minusSols(l: Sol, r: Sol): Sol = {
    val shared = l.visible.intersect(r.visible).toSeq.sorted
    if (shared.isEmpty) return l
    val rdf = renameAll(r.df, r.visible)
    val lv = (n: String) => l.df(n); val rv = (n: String) => rdf(ren(n))
    val compat = shared.map { v =>
      if (l.cert(v) && r.cert(v)) lv(v) === rv(v)
      else lv(v).isNull || rv(v).isNull || lv(v) === rv(v)
    }
    val overlap = shared.map(v => lv(v).isNotNull && rv(v).isNotNull).reduce(_ || _)
    Sol(l.df.join(rdf, (compat :+ overlap).reduce(_ && _), "left_anti"), l.cert, l.maybe)
  }

  private def semiSols(l: Sol, r: Sol, how: String): Sol = {
    val shared = l.visible.intersect(r.visible).toSeq.sorted
    val rdf = renameAll(r.df, r.visible)
    val lv = (n: String) => l.df(n); val rv = (n: String) => rdf(ren(n))
    val cond = shared.map { v =>
      if (l.cert(v) && r.cert(v)) lv(v) === rv(v)
      else lv(v).isNull || rv(v).isNull || lv(v) === rv(v)
    }.reduceOption(_ && _).getOrElse(lit(true))
    Sol(l.df.join(rdf, cond, how), l.cert, l.maybe)
  }
}

object Compiler {
  /** True while compiling for plan inspection only (Engine.explain): the
    * bound-join binding probe — an eager Spark job — is skipped so that
    * explaining a federated query never runs jobs.
    */
  private[graft] val planOnly = new scala.util.DynamicVariable[Boolean](false)
  private def ren(n: String) = s"__r_$n"
  private def renameAll(df: DataFrame, vars: Set[String]): DataFrame =
    df.select(vars.toSeq.sorted.map(v => df(v).as(ren(v))): _*)
}
