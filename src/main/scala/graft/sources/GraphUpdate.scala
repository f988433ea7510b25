package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.algebra.{B, Compiler, Op, PTerm, Sol, TriplePattern, V, I, L, E}
import graft.model.{Quad, Rdf}
import graft.parser.SparqlParser.{AllT, ClearU, CopyMoveAddU, CreateU,
  DefaultT, DeleteDataU, DropU, GraphT, GraphTarget, InsertDataU, LoadU,
  ModifyU, NamedT, UpdateForm}

/** SPARQL Update semantics (SURVEY §2.1 S6).
  *
  * The reference accepts updates on `/repositories/{id}/statements`
  * (`Dockerfile:2`; the repo itself only bulk-POSTs Turtle,
  * `init-graphdb.sh:90`). In Spark there is no in-place mutation: each update
  * produces a NEW immutable quad snapshot (`union` for INSERT, `left_anti`
  * for DELETE) — the natural shape for versioned Parquet storage where each
  * update epoch is a new partition/commit.
  */
object GraphUpdate {

  /** INSERT DATA: add ground quads (deduplicated, set semantics). */
  def insertData(store: DataFrame, quads: DataFrame): DataFrame =
    store.unionByName(quads).distinct()

  /** DELETE DATA: remove exactly the given ground quads. */
  def deleteData(store: DataFrame, quads: DataFrame): DataFrame =
    store.join(quads, Seq("graph", "s", "p", "o"), "left_anti")

  /** Instantiate a quad template with a pattern's solutions (the shared core
    * of DELETE/INSERT … WHERE, SPARQL 19.6). Solutions leaving any template
    * position unbound are skipped for that template quad, per spec.
    */
  def instantiate(sol: Sol, template: Seq[TriplePattern]): DataFrame = {
    // INSERT-template bnodes (19.6): fresh per SOLUTION, shared across the
    // template within one solution — label ⊕ a per-row id. Each template
    // quad reads the stamped frame in its own union branch, and a
    // repository's closed-view delta re-reads the inserted quads, so it is
    // cut: every reader sees the same drawn ids.
    val hasB = template.exists(tp =>
      tp.s.isInstanceOf[B] || tp.o.isInstanceOf[B])
    val df = if (hasB)
      graft.exec.Generations.cut(
        sol.df.withColumn("_ubn", monotonically_increasing_id()))
    else sol.df
    def bLabel(lbl: String) =
      concat(lit("_:u"), md5(concat(lit(lbl + " "), col("_ubn").cast("string"))))
    template.map { tp =>
      // Variables in subject/predicate/graph position must bind an IRI (or
      // bnode): a literal there makes the quad ill-formed and the solution
      // is skipped for this template quad (SPARQL 1.1 Update 19.6) — same
      // null-guard as an unbound variable.
      def sOf(t: PTerm, allowBlank: Boolean) = t match {
        case V(n) if sol.visible(n) =>
          val term = df(n)
          val ok =
            if (allowBlank)
              term.getField("kind") === graft.model.Rdf.KindIri ||
                term.getField("kind") === graft.model.Rdf.KindBlank
            else term.getField("kind") === graft.model.Rdf.KindIri
          when(ok, term.getField("value"))
        case V(_) => lit(null).cast("string")
        case B(l) if allowBlank => bLabel(l)
        case B(_) => lit(null).cast("string")
        case I(iri) => lit(iri)
        case L(l) => lit(l.value)
      }
      def oOf(t: PTerm) = t match {
        case V(n) if sol.visible(n) => df(n)
        case V(_) => E.nullTerm
        case B(l) => graft.functions.SparqlFunctions.term(
          lit(graft.model.Rdf.KindBlank), bLabel(l),
          lit(null).cast("string"), lit(null).cast("string"),
          lit(null).cast("double"))
        case I(iri) => E.termLit(graft.model.RdfTerm.iri(iri))
        case L(l) => E.termLit(l)
      }
      df.select(sOf(tp.graph, allowBlank = false).as("graph"),
          sOf(tp.s, allowBlank = true).as("s"),
          sOf(tp.p, allowBlank = false).as("p"), oOf(tp.o).as("o"))
        .filter(col("graph").isNotNull && col("s").isNotNull &&
          col("p").isNotNull && col("o").isNotNull)
    }.reduce(_.unionAll(_)).distinct()
  }

  /** DELETE WHERE: remove all quads matching a template instantiated by the
    * pattern's own solutions (the common `DELETE WHERE { ?s ?p ?o … }` form).
    */
  def deleteWhere(compiler: Compiler, store: DataFrame, pattern: Op,
      template: Seq[TriplePattern]): DataFrame =
    deleteData(store, instantiate(compiler.compile(pattern), template))

  /** Ground quads → DataFrame in store shape. */
  def quadsDf(spark: org.apache.spark.sql.SparkSession, quads: Seq[Quad]): DataFrame = {
    import spark.implicits._
    spark.createDataset(quads).toDF()
  }

  /** CLEAR/DROP: remove the target graph's quads. Graph existence is not
    * tracked in a quad snapshot (an empty graph IS absence), so DROP ≡ CLEAR
    * and the non-SILENT "graph does not exist" error cannot arise — set
    * semantics, the natural reading over versioned Parquet snapshots.
    */
  def clear(store: DataFrame, target: GraphTarget): DataFrame = target match {
    case DefaultT  => store.filter(col("graph") =!= Rdf.DefaultGraph)
    case NamedT    => store.filter(col("graph") === Rdf.DefaultGraph)
    case AllT      => store.filter(lit(false))
    case GraphT(g) => store.filter(col("graph") =!= g)
  }

  private def graphIri(t: GraphTarget): String = t match {
    case GraphT(g) => g
    case _ => Rdf.DefaultGraph
  }

  /** COPY/MOVE/ADD: source quads re-labeled to the destination graph; COPY
    * clears the destination first, MOVE also clears the source; same-graph
    * transfers are no-ops (SPARQL 1.1 Update §3.2.3-3.2.5).
    */
  def copyMoveAdd(store: DataFrame, kind: String, from: GraphTarget,
      to: GraphTarget): DataFrame =
    if (from == to) store
    else {
      val moved = store.filter(col("graph") === graphIri(from))
        .withColumn("graph", lit(graphIri(to)))
      kind match {
        case "ADD"  => insertData(store, moved)
        case "COPY" => insertData(clear(store, to), moved)
        case "MOVE" => insertData(clear(clear(store, to), from), moved)
        case other  => throw new IllegalArgumentException(s"unknown transfer op $other")
      }
    }

  /** LOAD: content-type dispatch by file extension (the engine's
    * content-negotiated load surface, reference `Dockerfile:2`).
    */
  def loadByExtension(spark: org.apache.spark.sql.SparkSession, path: String,
      graph: String): DataFrame = {
    val p = path.toLowerCase
    val ds =
      if (p.endsWith(".nq")) NQuadsReader.load(spark, path, graph)
      else if (p.endsWith(".nt")) NTriplesReader.load(spark, path, graph)
      else if (p.endsWith(".trig")) TrigReader.load(spark, path, graph)
      else if (p.endsWith(".jsonld") || p.endsWith(".json")) JsonLdReader.load(spark, path, graph)
      else if (p.endsWith(".rdf") || p.endsWith(".xml")) RdfXmlReader.load(spark, path, graph)
      else TurtleReader.load(spark, path, graph)
    ds.toDF()
  }

  /** Apply one parsed update operation to a quad snapshot → new snapshot.
    * WHERE patterns are evaluated against `matchStore` (default: the
    * snapshot itself), so chained operations in one request see each
    * other's effects — SPARQL 1.1 Update §3's sequential semantics. An
    * inference-enabled repository passes its CLOSED view as `matchStore`
    * while mutating the asserted set: WHERE sees entailments (the
    * reference's ruleset-aware update matching) but only explicit quads
    * are ever added to or removed from the store, per SPARQL 1.1 Update
    * on top of an entailment regime. `matchStore` is read only by a form
    * with a WHERE pattern.
    */
  def applyUpdate(store: DataFrame, form: UpdateForm,
      matchStore: => DataFrame = null,
      decorate: GraphCatalog => GraphCatalog = identity): DataFrame =
    form match {
    case InsertDataU(quads) => insertData(store, quadsDf(store.sparkSession, quads))
    case DeleteDataU(quads) => deleteData(store, quadsDf(store.sparkSession, quads))
    case ClearU(t, _) => clear(store, t)
    case DropU(t, _) => clear(store, t)
    // CREATE over a quad snapshot is a no-op: graphs exist by containing
    // quads. Recorded for protocol fidelity, never an error (≡ SILENT).
    case CreateU(_, _) => store
    case LoadU(src, into, silent) =>
      try {
        val path = src.stripPrefix("file://")
        insertData(store, loadByExtension(store.sparkSession, path,
          into.getOrElse(Rdf.DefaultGraph)))
      } catch { case _: Throwable if silent => store }
    case CopyMoveAddU(kind, from, to, silent) =>
      // COPY/ADD may SOURCE a pseudo-graph (r17): `COPY <urn:graft:hist:1>
      // TO <urn:backup>` materializes an epoch (or a change-feed side,
      // onto:explicit, …) into a real named graph. MOVE stays refused for
      // pseudo sources — it would have to delete a read-only view — unless
      // SILENT, which per Update 3.2.x turns the failure into a no-op
      // (r17 ADVICE: the flag was discarded here).
      val pseudoSrc = from match {
        case graft.parser.SparqlParser.GraphT(iri) =>
          Option(decorate).flatMap(d =>
            d(new GraphCatalog(store.sparkSession)).pseudoGraph(iri))
        case _ => None
      }
      pseudoSrc match {
        case Some(_) if kind == "MOVE" && silent => store
        case Some(view) =>
          if (kind == "MOVE") throw new IllegalArgumentException(
            s"MOVE from a pseudo-graph is not allowed (read-only view)")
          val moved = view.withColumn("graph", lit(graphIri(to)))
          if (kind == "ADD") insertData(store, moved)
          else insertData(clear(store, to), moved)
        case None => copyMoveAdd(store, kind, from, to)
      }
    case ModifyU(del, ins, where) =>
      // `decorate` lets the repository layer register its pseudo-graphs
      // (onto:explicit, urn:graft:hist:<k>, urn:graft:changes:…) on the
      // WHERE-matching catalog (r17): an update's WHERE is a query, so
      // `INSERT { … } WHERE { GRAPH <urn:graft:hist:1> { … } }` can
      // restore point-in-time facts. Templates still write plain graphs.
      val cat = decorate(new GraphCatalog(store.sparkSession)
        .addQuads(Option(matchStore).getOrElse(store)))
      val sol = new Compiler(cat).compile(where)
      // Spec order: both templates instantiate from the SAME solution set;
      // deletes apply before inserts (SPARQL 1.1 Update 3.1.3).
      val afterDel =
        if (del.nonEmpty) deleteData(store, instantiate(sol, del)) else store
      if (ins.nonEmpty) insertData(afterDel, instantiate(sol, ins)) else afterDel
  }

  /** Cut the logical plan every this many chained operations: each op layers
    * union/anti-join nodes over the previous snapshot, so a 100-op request
    * would otherwise build a 100-deep plan (analyzer blow-up at scale).
    */
  private[sources] val CutEvery = 8

  /** Apply a full SPARQL Update request (text) to a quad snapshot. Long
    * `;`-chained requests get a [[graft.exec.Generations]] lineage cut every
    * [[CutEvery]] ops; the previous cut is released as soon as the next
    * materializes, so at most ONE cached RDD is live per request — and none
    * at all for short requests.
    */
  def update(store: DataFrame, text: String,
      decorate: GraphCatalog => GraphCatalog = identity): DataFrame =
    graft.exec.Generations.scope { gen =>
      graft.parser.SparqlParser.parseUpdate(text).zipWithIndex.foldLeft(store) {
        case (s, (f, i)) =>
          val next = applyUpdate(s, f, decorate = decorate)
          // `next` reads the previous cut
          if ((i + 1) % CutEvery == 0) gen.advance(next, next) else next
      }
    }
}
