package graft.paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algebra._
import graft.exec.Generations
import graft.model.Rdf

/** SPARQL 1.1 property paths (SURVEY §2.9 G3-G6).
  *
  * Non-recursive paths rewrite into plain algebra (joins/unions/filters) so
  * Catalyst plans them like any BGP. The recursive forms (`+`/`*`, G5) have no
  * Catalyst primitive — they run a driver-side SEMI-NAIVE fixpoint: each
  * iteration joins only the newly-discovered frontier against the (small,
  * broadcastable when possible) edge set, unions, dedups, and persists to cut
  * lineage (SURVEY §7.4 risk #4). Whole-graph analytics beyond reachability
  * (components, PageRank) would bridge to GraphX per BASELINE.json.
  */
sealed trait Path
final case class Pred(iri: String) extends Path
final case class PSeq(a: Path, b: Path) extends Path
final case class PAlt(a: Path, b: Path) extends Path
final case class PInv(p: Path) extends Path
final case class POneOrMore(p: Path) extends Path
final case class PZeroOrOne(p: Path) extends Path
final case class PNegated(preds: Seq[String]) extends Path

object PropertyPaths {
  private val fresh = new java.util.concurrent.atomic.AtomicInteger()
  private def freshVar(): String = s"__pv${fresh.incrementAndGet()}"

  /** Rewrite `s path o` into algebra. Recursive/optional forms become their
    * dedicated algebra nodes ([[graft.algebra.PathClosureOp]] /
    * [[graft.algebra.PathZeroOrOneOp]]) which the compiler evaluates via
    * [[closureSol]] / [[zeroOrOneSol]]. `graph` scopes every step pattern
    * (GRAPH / single-FROM datasets).
    */
  def toOp(s: PTerm, path: Path, o: PTerm,
      graph: PTerm = I(Rdf.DefaultGraph)): Op = path match {
    case Pred(p) => Bgp(Seq(TriplePattern(s, I(p), o, graph)))
    case PSeq(a, b) =>
      val mid = V(freshVar())
      JoinOp(toOp(s, a, mid, graph), toOp(mid, b, o, graph))
    case PAlt(a, b) => UnionOp(toOp(s, a, o, graph), toOp(s, b, o, graph))
    case PInv(p) => toOp(o, p, s, graph)
    case PNegated(preds) =>
      val pv = V(freshVar())
      FilterOp(r => !r(pv.name).getField("value").isin(preds: _*),
        Bgp(Seq(TriplePattern(s, pv, o, graph))))
    case POneOrMore(step) => PathClosureOp(s, step, o, zeroLength = false, graph)
    case PZeroOrOne(POneOrMore(step)) => PathClosureOp(s, step, o, zeroLength = true, graph) // `*`
    case PZeroOrOne(step) => PathZeroOrOneOp(s, step, o, graph)
  }

  /** Pairs below this count are broadcast in the closure joins: a cut
    * frame carries no partitioning info, so a shuffle join would
    * re-shuffle BOTH sides every iteration. Most real edge sets (ontology
    * hierarchies, location forests) are far below it; at/above it the loop
    * falls back to shuffle joins, which is the right plan for huge graphs.
    */
  private val BroadcastPairLimit = 1000000L

  /** Transitive closure of an edge set (`src`,`dst` columns of any equatable
    * type — strings or term structs) — semi-naive: join only the frontier
    * with the edges each round. Each round's frontier and accumulator are
    * [[graft.exec.Generations]] cuts; superseded ones are released as their
    * successors materialize, and the returned accumulator stays pinned
    * until the caller drops it.
    */
  def closure(spark: SparkSession, edges0: DataFrame, maxIters: Int = 30,
      withG: Boolean = false): DataFrame = {
    // `withG`: edges carry a `g` column (GRAPH ?g scope) and the closure is
    // computed WITHIN each graph — a hop may never cross graphs (13.3: the
    // pattern evaluates per named graph). g joins as an extra equality key.
    if (withG) {
      val keyed = edges0.select(struct(col("g"), col("src")).as("src"),
        struct(col("g"), col("dst")).as("dst"))
      return closure(spark, keyed, maxIters)
        .select(col("src.g").as("g"), col("src.src").as("src"),
          col("dst.dst").as("dst"))
    }
    Generations.scope { gen =>
      val (edges, eCount) = gen.cut(edges0.select("src", "dst").distinct())
      val e = if (eCount <= BroadcastPairLimit) broadcast(edges) else edges
      var all = edges
      var allCount = eCount
      var frontier = edges
      var iter = 0
      var done = eCount == 0
      while (!done && iter < maxIters) {
        val next = frontier.alias("f")
          .join(e.alias("e"), col("f.dst") === col("e.src"))
          .select(col("f.src").as("src"), col("e.dst").as("dst"))
          .distinct()
        val allB = if (allCount <= BroadcastPairLimit) broadcast(all) else all
        val (newPairs, npCount) =
          gen.cut(next.join(allB, Seq("src", "dst"), "left_anti"))
        if (frontier ne edges) gen.release(frontier)
        frontier = newPairs
        if (npCount == 0) done = true
        else {
          val all2 = gen.cut(all.unionAll(newPairs))._1
          if (all ne edges) gen.release(all)
          all = all2
          allCount += npCount
        }
        iter += 1
      }
      all
    }
  }

  /** Conf key selecting the zero-length-path domain: `incident` (default —
    * nodes touching the path, the practically useful domain at 100 TB) or
    * `all` (spec-exact, SPARQL 18.4 ZeroLengthPath: EVERY term of the scoped
    * graph binds to itself — a full term scan of the store, opt-in because
    * of its cost at scale).
    */
  val ZeroDomainKey = "spark.graft.pathZeroDomain"

  /** Lift a subject string (IRI-or-bnode) to the object term-struct shape
    * (cf. Compiler's subject binding).
    */
  private def subjectTerm(s: Column): Column =
    when(s.startsWith("_:"),
      struct(lit(Rdf.KindBlank).cast("tinyint").as("kind"), s.as("value"),
        lit(null).cast("string").as("dtype"), lit(null).cast("string").as("lang"),
        lit(null).cast("double").as("num"))).otherwise(E.iriTerm(s))

  /** The zero-length identity domain for `path*` / `path?` under the active
    * [[ZeroDomainKey]] mode, as distinct term-struct rows `n`.
    */
  private def zeroDomain(compiler: Compiler, edges: DataFrame,
      graph: PTerm, mergeGraphs: Seq[String] = Nil): DataFrame = {
    val spark = compiler.catalog.spark
    val incident = edges.select(col("src").as("n"))
      .unionAll(edges.select(col("dst").as("n")))
    val specExact =
      spark.conf.getOption(ZeroDomainKey).getOrElse("incident") == "all"
    if (!specExact) incident.distinct()
    else {
      val quads = compiler.catalog.allQuads
      val scoped =
        if (mergeGraphs.nonEmpty) {
          // a multi-FROM list may NAME pseudo-graphs (onto:explicit, …):
          // those IRIs never appear in the store's graph column, so filter
          // by the plain IRIs and UNION the registered views in — same
          // routing the single-FROM case below applies (advisory r15)
          val (views, plain) = mergeGraphs.partition(g =>
            compiler.catalog.pseudoGraph(g).isDefined)
          val parts =
            (if (plain.nonEmpty)
               Seq(quads.filter(col("graph").isin(plain: _*))) else Nil) ++
              views.map(g => compiler.catalog.pseudoGraph(g).get)
          parts.map(_.select(col("s"), col("o")))
            .reduceOption(_.unionAll(_))
            .getOrElse(quads.filter(lit(false)).select(col("s"), col("o")))
        }
        else graph match {
          // a pseudo-graph scope (onto:explicit / onto:implicit / …) draws
          // its zero-length domain from the VIEW, not the store
          case I(g) if compiler.catalog.pseudoGraph(g).isDefined =>
            compiler.catalog.pseudoGraph(g).get
          case I(g) => quads.filter(col("graph") === g)
          case _ => quads // var graph: all named graphs contribute terms
        }
      scoped.select(subjectTerm(col("s")).as("n"))
        .unionAll(scoped.select(col("o").as("n")))
        .unionAll(incident).distinct()
    }
  }

  /** Evaluate `?s path+ ?o` (or `*`/`?`) over the compiled single-step path,
    * returning a solution with `sVar`,`oVar` FULL term-struct columns (a
    * literal object of the step stays a literal — kinds/lang/dtype survive the
    * closure; [[closure]] joins/dedups on struct equality). Zero-length legs
    * bind each node to itself over the [[zeroDomain]] — path-incident nodes
    * by default, every graph term in spec-exact mode ([[ZeroDomainKey]]).
    */
  /** The path step's edge set: one compiled scan, or — under a multi-graph
    * FROM (`mergeGraphs`) — the UNION of the step over each source graph
    * (SPARQL 8.2 merged default graph): closures may hop across graphs.
    */
  private def stepEdges(compiler: Compiler, step: Path,
      graph: PTerm, mergeGraphs: Seq[String]): DataFrame = {
    val scopes: Seq[PTerm] =
      if (mergeGraphs.isEmpty) Seq(graph) else mergeGraphs.map(I(_))
    scopes.map { g =>
      val sol = compiler.compile(toOp(V("__s"), step, V("__o"), g))
      g match {
        // GRAPH ?g scope: keep the graph binding — the closure must stay
        // within one graph per ?g value (13.3), and ?g binds in the result.
        case V(gv) if sol.df.columns.contains(gv) =>
          sol.df.select(sol.df("__s").as("src"), sol.df("__o").as("dst"),
            sol.df(gv).as("g"))
        case _ =>
          sol.df.select(sol.df("__s").as("src"), sol.df("__o").as("dst"))
      }
    }.reduce(_.unionAll(_))
  }

  /** CONSTANT path endpoints as zero-length identity rows: 18.4
    * ZeroLengthPath binds a TERM endpoint to itself unconditionally —
    * `:c :p* :c` holds even when `:c` appears nowhere in the graph, so the
    * identity domain must include the query's constants, not only graph
    * terms (tranche 12).
    */
  private def endpointTerms(compiler: Compiler,
      endpoints: Seq[PTerm]): Option[DataFrame] = {
    val cols = endpoints.collect {
      case I(iri) => E.iriTerm(lit(iri))
      case L(t) => E.termLit(t)
    }
    if (cols.isEmpty) None
    else Some(cols.map(c => compiler.catalog.spark.range(1).select(c.as("n")))
      .reduce(_.unionAll(_)))
  }

  /** Per-graph zero-length identity rows (g, n) for a GRAPH ?g-scoped path:
    * incident nodes of each graph's edges, constants spread over the
    * incident graphs, and — in spec-exact mode — every term of every named
    * graph (13.3 × 18.4).
    */
  private def zeroDomainG(compiler: Compiler, edges: DataFrame,
      endpoints: Seq[PTerm]): DataFrame = {
    val spark = compiler.catalog.spark
    val incident = edges.select(col("g"), col("src").as("n"))
      .unionAll(edges.select(col("g"), col("dst").as("n")))
    val graphs = edges.select(col("g")).distinct()
    val consts = endpointTerms(compiler, endpoints)
      .map(c => graphs.crossJoin(c)).toSeq
    val specExact =
      spark.conf.getOption(ZeroDomainKey).getOrElse("incident") == "all"
    val allTerms =
      if (!specExact) Nil
      else {
        val quads = compiler.catalog.allQuads
          .filter(col("graph") =!= Rdf.DefaultGraph)
        val gTerm = E.iriTerm(col("graph"))
        Seq(quads.select(gTerm.as("g"), subjectTerm(col("s")).as("n")),
          quads.select(gTerm.as("g"), col("o").as("n")))
      }
    (Seq(incident) ++ consts ++ allTerms).reduce(_ unionAll _).distinct()
  }

  def closureSol(compiler: Compiler, step: Path, sVar: String, oVar: String,
      zeroLength: Boolean = false, graph: PTerm = I(Rdf.DefaultGraph),
      mergeGraphs: Seq[String] = Nil, endpoints: Seq[PTerm] = Nil): Sol = {
    val spark = compiler.catalog.spark
    val edges = stepEdges(compiler, step, graph, mergeGraphs)
    val withG = edges.columns.contains("g")
    val closed = closure(spark, edges, withG = withG)
    val withZero =
      if (!zeroLength) closed
      else if (withG) {
        val nodes = zeroDomainG(compiler, edges, endpoints)
        closed.unionAll(nodes.select(col("g"), col("n").as("src"),
          col("n").as("dst"))).distinct()
      } else {
        val nodes = endpointTerms(compiler, endpoints)
          .foldLeft(zeroDomain(compiler, edges, graph, mergeGraphs))(_ unionAll _)
        closed.unionAll(nodes.select(col("n").as("src"), col("n").as("dst"))).distinct()
      }
    graph match {
      case V(gv) if withG =>
        Sol(withZero.select(col("src").as(sVar), col("dst").as(oVar),
          col("g").as(gv)), Set(sVar, oVar, gv), Set.empty)
      case _ =>
        Sol(withZero.select(col("src").as(sVar), col("dst").as(oVar)),
          Set(sVar, oVar), Set.empty)
    }
  }

  /** Evaluate `?s step? ?o` (G4 zero-or-one): EXACTLY the one-hop pairs of the
    * step plus the zero-length identity over the step's incident nodes — no
    * fixpoint, no transitive closure (a 2-hop chain must NOT appear). A single
    * union + distinct; Catalyst plans it like any BGP. Endpoints keep their
    * full term structs (literal objects stay literals).
    */
  def zeroOrOneSol(compiler: Compiler, step: Path, sVar: String, oVar: String,
      graph: PTerm = I(Rdf.DefaultGraph), mergeGraphs: Seq[String] = Nil,
      endpoints: Seq[PTerm] = Nil): Sol = {
    // no early distinct: the final union below dedups (one shuffle, not two)
    val hop = stepEdges(compiler, step, graph, mergeGraphs)
    val withG = hop.columns.contains("g")
    if (withG) {
      val nodes = zeroDomainG(compiler, hop, endpoints)
      // align column ORDER before the positional unionAll (hop is src,dst,g)
      val withZero = hop.select(col("g"), col("src"), col("dst"))
        .unionAll(nodes.select(col("g"), col("n").as("src"),
          col("n").as("dst"))).distinct()
      val V(gv) = graph: @unchecked
      Sol(withZero.select(col("src").as(sVar), col("dst").as(oVar),
        col("g").as(gv)), Set(sVar, oVar, gv), Set.empty)
    } else {
      val nodes = endpointTerms(compiler, endpoints)
        .foldLeft(zeroDomain(compiler, hop, graph, mergeGraphs))(_ unionAll _)
      val withZero = hop.unionAll(nodes.select(col("n").as("src"), col("n").as("dst")))
        .distinct()
      Sol(withZero.select(col("src").as(sVar), col("dst").as(oVar)),
        Set(sVar, oVar), Set.empty)
    }
  }
}
