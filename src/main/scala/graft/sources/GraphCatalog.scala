package graft.sources

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Rdf

/** Catalog of the queryable graph (SURVEY.md EP3 → "GraphCatalog").
  *
  * Two complementary physical layouts back one logical quad store:
  *
  *   1. **Registered relational tables** (the driver's Parquet) exposed as
  *      quads through [[DirectMapper]] — the "property table" layout
  *      (SURVEY §1.3). A triple pattern with a constant predicate
  *      `urn:graft/{table}#{col}` is routed to a TWO-COLUMN scan of just that
  *      table — the Spark analog of the reference's per-predicate statement
  *      lists (`init-graphdb.sh:61-65`): predicate-constant patterns never
  *      touch other tables, and Parquet column pruning keeps the scan narrow.
  *   2. **Extra quads** (Turtle-loaded documents, inference output) held as a
  *      quad DataFrame; at scale this is Parquet partitioned by `p`.
  *
  * Both answer `forPredicate`, the single routing entry the compiler uses.
  */
final class GraphCatalog(val spark: SparkSession) {
  import DirectMapper.{TableSpec, predIri, classIri}

  private val tables = mutable.LinkedHashMap[String, (DataFrame, TableSpec)]()
  private var extras: List[DataFrame] = Nil

  private val versions = new java.util.concurrent.atomic.AtomicLong
  /** Bumped by every registration or computed index/statistic that can
    * change how a query compiles: the compiler's cached query shapes
    * ([[graft.algebra.ShapeCache]]) key on it.
    */
  def version: Long = versions.get
  private def changed(): this.type = { versions.incrementAndGet(); this }

  def register(spec: TableSpec, df: DataFrame): this.type = {
    tables(spec.name) = (df, spec); invalidateEdgeSet(); changed()
  }
  def table(name: String): Option[(DataFrame, TableSpec)] = tables.get(name)

  /** Append already-shaped quads (graph,s,p,o) — Turtle loads, inference. */
  def addQuads(q: DataFrame): this.type = {
    extras = q :: extras; invalidateEdgeSet(); changed()
  }

  // SERVICE endpoint registry: IRI → HTTP-shaped endpoint client
  // ([[SparqlEndpoint]]): the compiler ships sub-query TEXT and parses the
  // results JSON back — a remote HTTP endpoint drops in by implementing
  // `query`; local sub-engines register through the loopback client.
  private val services = mutable.LinkedHashMap[String, SparqlEndpoint]()
  def registerService(iri: String, cat: GraphCatalog): this.type =
    registerEndpoint(iri, new LoopbackEndpoint(cat))
  def registerEndpoint(iri: String, ep: SparqlEndpoint): this.type = {
    services(iri) = ep; changed()
  }
  def serviceFor(iri: String): Option[SparqlEndpoint] = services.get(iri)
  /** All registered endpoints — SERVICE with a VARIABLE iterates these. */
  def serviceEntries: Seq[(String, SparqlEndpoint)] = services.toSeq

  def extraQuads: Option[DataFrame] = extras.reduceOption(_.unionAll(_))

  // --- pseudo-graphs (GraphDB's special query graphs) -------------------
  // `http://www.ontotext.com/explicit` / `…/implicit` /
  // `…/disable-sameAs`: a GRAPH or FROM clause naming one of these IRIs
  // scans an ALTERNATE quad view instead of the store — asserted-only
  // statements, inferred-only statements, or the closure computed without
  // sameAs expansion (the shipped binary's documented pseudo-graph
  // surface; the repository layer registers them, `Repositories.catalog`).
  // Views register as THUNKS evaluated (then memoized) on first use — the
  // disable-sameAs view is a full re-materialization that must not run
  // unless a query actually asks for it. Pseudo-graphs never appear in
  // `GRAPH ?g` enumeration or `allQuads` — they are views OVER the store,
  // not part of it.
  private val pseudos = mutable.LinkedHashMap[String, () => DataFrame]()
  private val pseudoCache = mutable.Map[String, DataFrame]()
  // PARAMETRIC pseudo-graph families (r17): a resolver answers IRIs that
  // cannot be enumerated at registration time (the change-feed views
  // `urn:graft:changes:<from>:<to>:added|removed` are quadratic in
  // epochs). Consulted only when no exact registration matches; a
  // resolver returning None leaves the IRI a plain (empty) named graph.
  private val pseudoResolvers =
    mutable.ArrayBuffer[String => Option[() => DataFrame]]()
  def registerPseudoGraph(iri: String, view: () => DataFrame): this.type = {
    pseudos(iri) = view; pseudoCache.remove(iri); changed()
  }
  def registerPseudoGraphResolver(
      f: String => Option[() => DataFrame]): this.type = {
    pseudoResolvers += f; changed()
  }
  /** Does `iri` name a pseudo-graph? Unlike [[pseudoGraph]], builds no view. */
  def isPseudoGraph(iri: String): Boolean =
    pseudos.contains(iri) || pseudoResolvers.exists(_(iri).isDefined)
  def pseudoGraph(iri: String): Option[DataFrame] =
    pseudos.get(iri).map(f => pseudoCache.getOrElseUpdate(iri, f()))
      .orElse(pseudoResolvers.iterator.flatMap(_(iri)).nextOption()
        .map(f => pseudoCache.getOrElseUpdate(iri, f())))

  // The repository's custom ruleset, when one is configured — the proof
  // plugin explains derivations under it (`Repositories.catalog`
  // registers; empty = RDFS-Plus-only explanations).
  private var proofRuleset: Seq[graft.inference.CustomRules.Rule] = Nil
  def registerProofRules(
      rules: Seq[graft.inference.CustomRules.Rule]): this.type = {
    proofRuleset = rules; changed()
  }
  def proofRules: Seq[graft.inference.CustomRules.Rule] = proofRuleset

  // --- per-predicate statistics (opt-in) -------------------------------
  // The reference engine collects per-predicate statement-list sizes at
  // load time and reorders BGPs by them (SURVEY §4.1 predicate lists /
  // §3 EP1 step 4). The Spark analog: one count per registered table
  // (Parquet metadata — no data scan) + one groupBy(p) over the extra
  // quads, cached on the catalog; the compiler's BGP join ordering reads
  // them as cardinality estimates. Opt-in because a catalog is often
  // built per query (harness entries) where the heuristic ordering alone
  // is enough; a long-lived repository calls this once after load.
  @volatile private var predStats: Option[Map[String, Long]] = None
  @volatile private var objStats: Option[Map[String, Long]] = None
  def computeStatistics(): this.type = {
    import org.apache.spark.sql.functions.{approx_count_distinct, col}
    val fromTables = tables.toSeq.flatMap { case (name, (df, _)) =>
      val n = df.count() // column predicate cardinality ≈ table rows
      df.columns.toSeq.map(c => DirectMapper.predIri(name, c) -> n) :+
        (Rdf.RdfType -> n)
    }
    val fromQuads = extraQuads.toSeq.flatMap(q =>
      q.groupBy("p").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)))
    predStats = Some((fromTables ++ fromQuads).groupBy(_._1)
      .view.mapValues(_.map(_._2).sum).toMap)
    // r12 (stats v2): per-predicate DISTINCT-OBJECT counts — the
    // object-bound selectivity the compiler's estimate() divides by. One
    // multi-column approx_count_distinct aggregate per table (single
    // scan), one groupBy over the extra quads; rdf:type contributes one
    // class per table.
    val objFromTables = tables.toSeq.flatMap { case (name, (df, _)) =>
      if (df.columns.isEmpty) Nil
      else {
        val aggs = df.columns.toSeq.map(c => approx_count_distinct(col(c)).as(c))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        df.columns.toSeq.zipWithIndex.map { case (c, i) =>
          DirectMapper.predIri(name, c) -> row.getLong(i)
        } :+ (Rdf.RdfType -> 1L)
      }
    }
    val objFromQuads = extraQuads.toSeq.flatMap(q =>
      q.groupBy("p")
        .agg(approx_count_distinct(col("o.value")).as("d")).collect()
        .map(r => r.getString(0) -> r.getLong(1)))
    objStats = Some((objFromTables ++ objFromQuads).groupBy(_._1)
      .view.mapValues(_.map(_._2).sum).toMap)
    changed()
  }
  /** Per-predicate triple counts when [[computeStatistics]] has run. */
  def statistics: Option[Map[String, Long]] = predStats
  /** Per-predicate distinct-object counts (stats v2). */
  def objectStatistics: Option[Map[String, Long]] = objStats

  /** Predicate IRI → (table name, spec, column) if it is a mapped column. */
  def columnForPredicate(p: String): Option[(String, TableSpec, String)] =
    if (!p.startsWith(DirectMapper.Base + "/")) None
    else p.stripPrefix(DirectMapper.Base + "/").split("#", 2) match {
      case Array(t, c) => tables.get(t).collect {
        case (df, spec) if df.columns.contains(c) => (t, spec, c)
      }
      case _ => None
    }

  /** Class IRI → table name, if mapped. */
  def tableForClass(o: String): Option[String] = {
    val prefix = DirectMapper.Base + "/class/"
    if (o.startsWith(prefix)) {
      val t = o.stripPrefix(prefix); if (tables.contains(t)) Some(t) else None
    } else None
  }

  private def emptyQuads: DataFrame = {
    import spark.implicits._
    spark.emptyDataset[graft.model.Quad].toDF()
  }

  /** Quads for one table column only — a narrow (pk, col) scan. */
  private def columnQuads(t: String, spec: TableSpec, c: String): DataFrame = {
    val (df, _) = tables(t)
    val dt = df.schema(c).dataType
    val o = spec.fks.get(c) match {
      case Some(target) => DirectMapper.iriTerm(DirectMapper.entityIri(target, col(c)))
      case None => DirectMapper.literalTerm(col(c), dt)
    }
    df.select(lit(spec.graph).as("graph"), DirectMapper.subjectOf(spec).as("s"),
        lit(predIri(t, c)).as("p"), o.as("o"))
      .filter(col("o.value").isNotNull)
  }

  private def typeQuads(restrictTo: Option[String]): DataFrame = {
    val ts = restrictTo.map(Seq(_)).getOrElse(tables.keys.toSeq)
    ts.map { t =>
      val (df, spec) = tables(t)
      df.select(lit(spec.graph).as("graph"), DirectMapper.subjectOf(spec).as("s"),
        lit(Rdf.RdfType).as("p"),
        DirectMapper.iriTerm(lit(classIri(t))).as("o"))
    }.reduceOption(_.unionAll(_)).getOrElse(emptyQuads)
  }

  /** Routed quad source for a constant predicate (the predicate-list analog).
    * `oClassHint` narrows `rdf:type` scans to one table when the object is a
    * constant class IRI.
    */
  def forPredicate(p: String, oClassHint: Option[String] = None): DataFrame = {
    val fromTables: Option[DataFrame] =
      if (p == Rdf.RdfType) Some(typeQuads(oClassHint.flatMap(tableForClass)))
      else columnForPredicate(p).map { case (t, spec, c) => columnQuads(t, spec, c) }
    val fromExtras = extraQuads.map(_.filter(col("p") === p))
    (fromTables.toSeq ++ fromExtras.toSeq)
      .reduceOption(_.unionAll(_)).getOrElse(emptyQuads)
  }

  /** COUNT(*) over the whole quad store WITHOUT lifting quads: per table, one
    * narrow aggregate `Σ count(col) + count(*)` (non-null cells + the type
    * triple per row) — the lift multiplies row count by arity, so at 100 TB
    * the explode-then-count plan is arity× more work than this rewrite.
    * Returns a 1-row/1-column ("cnt", LongType) DataFrame.
    */
  def statsCountAll: DataFrame = {
    val perTable = tables.values
      .filter { case (_, spec) => spec.graph == Rdf.DefaultGraph }
      .map { case (df, spec) =>
      val cells = df.schema.fields.filter { f =>
        spec.fks.contains(f.name) || (f.dataType match {
          case _: org.apache.spark.sql.types.ArrayType |
               _: org.apache.spark.sql.types.MapType |
               org.apache.spark.sql.types.BinaryType |
               _: org.apache.spark.sql.types.StructType => false
          case _ => true
        })
      }.map(f => count(col(f.name)))
      df.agg((cells :+ count(lit(1))).reduce(_ + _).as("cnt"))
    }
    val extrasCnt = extraQuads.map(
      _.filter(col("graph") === Rdf.DefaultGraph).agg(count(lit(1)).as("cnt")))
    (perTable ++ extrasCnt.toSeq).reduce(_.unionAll(_))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
  }

  // ---- RDF Rank (the GraphDB RDF Rank plugin analog, r12 cont.): rank
  // values are COMPUTED EXPLICITLY (the plugin's "compute full rank"
  // operation — a batch job, like GraphDB's) and cached; queries then read
  // them through the `rank:hasRDFRank` pseudo-property, which the compiler
  // rewrites to a join against this table. localCheckpoint materializes
  // the fixed-iteration result once so every query reads, never recomputes;
  // it lives as long as the catalog, so it is no query-scoped generation.
  private var rdfRank: Option[DataFrame] = None
  def computeRdfRank(predicates: Seq[String] = Nil, iters: Int = 3): Unit = {
    rdfRank = Some(graft.graph.GraphAnalytics
      .pageRankFixed(allQuads, predicates, iters).localCheckpoint())
    changed()
  }
  def rdfRanks: Option[DataFrame] = rdfRank

  // ---- FTS plugin indexes (the GraphDB legacy Lucene plugin, final-r12):
  // an index is created EXPLICITLY (the plugin's `luc:createIndex`
  // operation — a batch job) as subject → DISTINCT tokens of the subject's
  // literal values under the configured predicates (the depth-1 "molecule"
  // restricted to those predicates); queries then match it through the
  // `luc:<name>` pseudo-property, which the compiler rewrites to
  // conjunctive token joins (see Compiler.compileLuc). localCheckpoint
  // materializes the index once, for the catalog's lifetime (no
  // query-scoped generation); at 100 TB the same postings persist
  // term-bucketed (FullTextIndex) — this is the in-store query surface.
  // Stored per index (r14, for `luc:score`): tf postings (doc, term, tf)
  // — unique per (doc, term), so the pre-r14 set queries run unchanged —
  // plus the indexed-doc COUNT (the idf numerator; counted once at build,
  // never per query).
  private val ftsIdx =
    mutable.LinkedHashMap[String, (DataFrame, Long, Boolean)]()
  /** Build (or rebuild) FTS index `name` over literal values of
    * `predicates`; `analyzed` runs the [[graft.pipeline.Analyzer]] chain
    * (stopwords + stemmer) over both index and query terms.
    */
  def createFtsIndex(name: String, predicates: Seq[String],
      analyzed: Boolean = false): Unit = {
    require(name.nonEmpty && predicates.nonEmpty,
      "createFtsIndex needs a name and at least one predicate")
    val lits = predicates.map(forPredicate(_)).reduce(_.unionAll(_))
      .filter(col("graph") === Rdf.DefaultGraph &&
        col("o.kind") === Rdf.KindLiteral)
    val toks0 = lits.select(col("s").as("doc"),
      explode(filter(split(lower(trim(col("o.value"))), "\\W+"),
        t => length(t) > 0)).as("term"))
    val toks = if (analyzed) graft.pipeline.Analyzer.analyzeTerms(toks0)
      else toks0
    val tf = toks.groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf")).localCheckpoint()
    ftsIdx(name) = (tf, tf.select(col("doc")).distinct().count(), analyzed)
    changed()
  }
  def ftsIndex(name: String): Option[(DataFrame, Long, Boolean)] =
    ftsIdx.get(name)

  // ---- Similarity plugin indexes (the GraphDB text-similarity plugin,
  // r13): an index is created EXPLICITLY (the plugin's `:createIndex`
  // batch op) as per-subject term-FREQUENCY vectors over the configured
  // predicates' literal values — the bag-of-words analog of the plugin's
  // semantic vectors, deterministic so the DuckDB oracle replays scoring
  // end-to-end. Stored: tf postings (doc, term, tf) + the precomputed
  // per-doc squared norm (so a query never re-aggregates the corpus).
  // Queries go through the `similarity:` pseudo-property group
  // (Compiler.compileSimilarity). At 100 TB the postings persist
  // term-bucketed exactly like FullTextIndex.
  private val simIdx =
    mutable.LinkedHashMap[String, (DataFrame, DataFrame, Boolean)]()
  def createSimilarityIndex(name: String, predicates: Seq[String],
      analyzed: Boolean = false): Unit = {
    require(name.nonEmpty && predicates.nonEmpty,
      "createSimilarityIndex needs a name and at least one predicate")
    val lits = predicates.map(forPredicate(_)).reduce(_.unionAll(_))
      .filter(col("graph") === Rdf.DefaultGraph &&
        col("o.kind") === Rdf.KindLiteral)
    val toks0 = lits.select(col("s").as("doc"),
      explode(filter(split(lower(trim(col("o.value"))), "\\W+"),
        t => length(t) > 0)).as("term"))
    val toks = if (analyzed) graft.pipeline.Analyzer.analyzeTerms(toks0)
      else toks0
    // catalog-lifetime index: localCheckpoint, not a query generation
    val tf = toks.groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf")).localCheckpoint()
    val norms = tf.groupBy(col("doc"))
      .agg(sum(col("tf") * col("tf")).cast("double").as("nn"))
      .localCheckpoint()
    simIdx(name) = (tf, norms, analyzed)
    changed()
  }
  def similarityIndex(name: String): Option[(DataFrame, DataFrame, Boolean)] =
    simIdx.get(name)

  // ---- Similarity plugin EMBEDDING indexes (r14): the plugin's numeric-
  // vector mode — a persisted IVF index ([[graft.pipeline.IvfIndex]]:
  // cid-bucketed posting lists, probes prune to the hit buckets) over an
  // embedding column, with a subject-IRI prefix mapping row ids back to
  // store resources. Queries go through `similarity:searchVector`
  // (Compiler.compileSimilarity). Registration takes a BUILT index so
  // callers control build memoization (the createIndex batch op).
  private val embIdx =
    mutable.LinkedHashMap[String, (graft.pipeline.IvfIndex, String)]()
  def registerEmbeddingIndex(name: String, idx: graft.pipeline.IvfIndex,
      subjectPrefix: String): Unit = {
    require(name.nonEmpty, "registerEmbeddingIndex needs a name")
    embIdx(name) = (idx, subjectPrefix)
    changed()
  }
  /** Build + register in one step (specs/ad-hoc use; the artifact name
    * is the plugin index name — pass a salted name for multi-sf JVMs).
    */
  def createEmbeddingIndex(name: String, df: DataFrame, id: String,
      vec: String, subjectPrefix: String, nlist: Int = 8,
      iters: Int = 3): Unit =
    registerEmbeddingIndex(name,
      graft.pipeline.IvfIndex.build(df, id, vec, s"simemb_$name",
        nlist = nlist, iters = iters), subjectPrefix)
  def embeddingIndex(name: String): Option[(graft.pipeline.IvfIndex, String)] =
    embIdx.get(name)

  // ---- Similarity plugin PREDICATION indexes (r14): the plugin's
  // predication-based mode (psi:) — an entity is the "document" and its
  // terms are its outgoing PREDICATIONS (predicate + object lexical
  // form), so two entities are similar when they participate in the
  // same statements. Same deterministic (tf, norms) shape and cosine
  // path as the text mode, so the DuckDB oracle replays scoring
  // end-to-end. The explicit predicate list keeps creation a narrow
  // per-predicate scan (one FK / literal column each, via
  // [[forPredicate]]) instead of a whole-store quad lift; at 100 TB the
  // postings persist term-bucketed exactly like FullTextIndex. Terms
  // project objects to their lexical form (IRI string or literal
  // value) — a literal and an IRI sharing a lexical form fall into one
  // term, the documented coarsening that keeps the term SQL-buildable.
  private val psiIdx = mutable.LinkedHashMap[String, (DataFrame, DataFrame)]()
  def createPredicationIndex(name: String, predicates: Seq[String]): Unit = {
    require(name.nonEmpty && predicates.nonEmpty,
      "createPredicationIndex needs a name and at least one predicate")
    val quads = predicates.map(forPredicate(_)).reduce(_.unionAll(_))
      .filter(col("graph") === Rdf.DefaultGraph)
    // catalog-lifetime index: localCheckpoint, not a query generation
    val tf = quads
      .select(col("s").as("doc"),
        concat(col("p"), lit("\u0001"), col("o.value")).as("term"))
      .groupBy(col("doc"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf")).localCheckpoint()
    val norms = tf.groupBy(col("doc"))
      .agg(sum(col("tf") * col("tf")).cast("double").as("nn"))
      .localCheckpoint()
    psiIdx(name) = (tf, norms)
    changed()
  }
  def predicationIndex(name: String): Option[(DataFrame, DataFrame)] =
    psiIdx.get(name)

  /** The full quad view (variable-predicate patterns; COUNT(*) over ?s ?p ?o). */
  def allQuads: DataFrame = {
    val lifted = tables.values.map { case (df, spec) => DirectMapper.quads(df, spec) }
    (lifted ++ extraQuads.toSeq).reduceOption(_.unionAll(_)).getOrElse(emptyQuads)
  }

  /** Directed resource-edge view `(src, p, dst)` — every DEFAULT-graph
    * triple whose object is an IRI or blank node. Unlike filtering
    * [[allQuads]] on `o.kind` (which cannot prune inside the per-row
    * `explode(array(...))` lift, so every literal column — comments,
    * dates — is still read, serialized to a term struct, and exploded
    * before the filter drops it), this lifts ONLY the FK columns and the
    * rdf:type edge: one narrow two-column Parquet scan per FK, a
    * constant-object projection for types, plus the resource-object
    * extra quads. At 100 TB this is the difference between scanning the
    * whole store (arity× rows) and scanning just the graph's edges.
    */
  def resourceEdges: DataFrame = {
    import spark.implicits._
    val fromTables = tables.toSeq
      .filter { case (_, (_, spec)) => spec.graph == Rdf.DefaultGraph }
      .flatMap { case (t, (df, spec)) =>
        val subj = DirectMapper.subjectOf(spec)
        val fkEdges = spec.fks.toSeq.map { case (c, target) =>
          df.filter(col(c).isNotNull)
            .select(subj.as("src"), lit(predIri(t, c)).as("p"),
              DirectMapper.entityIri(target, col(c)).as("dst"))
        }
        fkEdges :+ df.select(subj.as("src"), lit(Rdf.RdfType).as("p"),
          lit(classIri(t)).as("dst"))
      }
    val fromExtras = extraQuads.map(
      _.filter(col("graph") === Rdf.DefaultGraph &&
          col("o.kind") =!= Rdf.KindLiteral)
        .select(col("s").as("src"), col("p"), col("o.value").as("dst")))
    (fromTables ++ fromExtras.toSeq).reduceOption(_.unionAll(_))
      .getOrElse(Seq.empty[(String, String, String)].toDF("src", "p", "dst"))
  }

  // ---- materialized resource-edge SET (the Graph-Path-Search plugin's
  // walk structure): DISTINCT (src,p,dst) — GraphDB's plugin walks the
  // store's persistent statement lists, so rebuilding (and
  // re-deduplicating) the edge set on every path query would charge the
  // store build to each query. Two tiers (r14):
  //   1. PERSISTED (store-backed catalogs): [[ensureEdgeIndex]] writes
  //      the set ONCE as src-partitioned parquet keyed by the store's
  //      file fingerprint — like the FTS index, the artifact lives with
  //      the store and every later SESSION opens it instead of paying
  //      the full-store scan + distinct (the sf1 80 s cold path).
  //      Regenerated source data changes the fingerprint → rebuild.
  //   2. in-session localCheckpoint fallback (ad-hoc or mutated
  //      catalogs). Mutating the catalog (register/addQuads) invalidates
  //      both tiers for this catalog — queries fall back to tier 2.
  @volatile private var resEdgeSet: Option[DataFrame] = None
  /** Set by [[GraphCatalog.testdata]]: fingerprint of the store's source
    * files — the persistence key for store-level artifacts. None for
    * ad-hoc catalogs (no durable identity to key on).
    */
  private[graft] var storeFingerprint: Option[String] = None
  @volatile private var storeMutated = false
  private def edgeIndexPath: Option[java.io.File] =
    storeFingerprint.filter(_ => !storeMutated).map { fp =>
      val wh = spark.conf.get("spark.sql.warehouse.dir",
        new java.io.File("spark-warehouse").getAbsolutePath)
        .stripPrefix("file:")
      new java.io.File(wh, s"graft_resedges_$fp")
    }
  /** Build the persisted resource-edge index if absent (the plugin's
    * explicit batch op, like `computeRdfRank`/`createFtsIndex`) — a
    * no-op for ad-hoc/mutated catalogs and when the artifact already
    * exists, so callers invoke it unconditionally at store-open time.
    */
  /** Edge-set dedup in ONE shuffle: repartitioning on `src` already
    * satisfies the dedup's clustered distribution (hash(src) ⊆ keys
    * {src,p,dst} — every duplicate triple lands in the same partition),
    * so the deduplicate above it inserts NO second exchange. A plain
    * `.distinct().repartition(src)` shuffles the edge set twice.
    */
  private def dedupBySrc(edges: DataFrame, partitions: Int): DataFrame =
    edges.repartition(partitions, col("src")).dropDuplicates()

  /** One shuffle + one write is the whole build (a map-only variant is
    * NOT sound: duplicate-PK rows — present in real dirty data and in the
    * 10× sf1 blow-up — collide subjects, so the dedup is semantic, not
    * defensive). The post-dedup `sortWithinPartitions(src)` clusters each
    * subject's edges for parquet run/dict compression (~35% smaller) and
    * walk-read locality.
    */
  def ensureEdgeIndex(partitions: Int = 32): Unit = edgeIndexPath.foreach {
    dir =>
      if (!new java.io.File(dir, "_SUCCESS").exists())
        dedupBySrc(resourceEdges, partitions)
          .sortWithinPartitions("src")
          .write.mode("overwrite").parquet(dir.getPath)
  }
  def resourceEdgeSet: DataFrame = resEdgeSet.getOrElse(synchronized {
    resEdgeSet.getOrElse {
      // deliberately NOT session-cached: the walk's small-frontier hops
      // filter `src IN (nodes)` (PathSearch.frontierEdges) and the index
      // is src-SORTED parquet, so the In filter pushes to row-group
      // stats and each hop reads ~one row group off disk — a columnar
      // cache would only add a full-index materialization to the first
      // query and megabytes of executor-memory pressure, for equal warm
      // wall (measured at sf1: 2.4 s warm both ways, cold −10 s uncached)
      val persisted = edgeIndexPath
        .filter(dir => new java.io.File(dir, "_SUCCESS").exists())
        .map(dir => spark.read.parquet(dir.getPath))
      // localCheckpoint, not a Generations cut: it lives as long as the
      // catalog and keeps the src hash partitioning that path search joins on
      val e = persisted.getOrElse(
        dedupBySrc(resourceEdges, 32).localCheckpoint())
      resEdgeSet = Some(e); e
    }
  })
  private def invalidateEdgeSet(): Unit = synchronized {
    // Release the localCheckpoint's cached RDD blocks NOW — dropping the
    // reference alone leaks them until the context cleaner GCs, so
    // register()/addQuads()+path-search cycles would accumulate dead
    // generations. The checkpointed data lives on the LogicalRDD leaf's
    // RDD, not in the Dataset cache manager, so unpersist that directly.
    resEdgeSet.foreach { df =>
      df.unpersist(blocking = false) // the persisted-index columnar cache
      df.queryExecution.analyzed.collectLeaves().foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    }
    resEdgeSet = None
    // a mutated store no longer matches its persisted artifact — queries
    // on THIS catalog fall back to the in-session build (the artifact on
    // disk stays valid for the unmutated source data)
    if (storeFingerprint.isDefined) storeMutated = true
  }
}

object GraphCatalog {

  /** Scan-parallelism floor (r18 optimization, guide §2.5 "input skew: one
    * huge unsplittable file — repartition immediately after the read"): the
    * testdata tables are single-file, SINGLE-ROW-GROUP parquet, so the scan
    * is one task no matter what `maxPartitionBytes`/`minPartitionNum` say —
    * row groups are the split floor — and every narrow stage above it
    * inherited 1-way parallelism (profiled: dd_semantic spent 6+ s in
    * 1-task stages on a 32-core box). Scale-ADAPTIVE: when the planned
    * scan already has >= defaultParallelism partitions (every real
    * multi-row-group/multi-file layout), this is the identity.
    *
    * The repartition hashes on the table's declared primary key, not
    * round-robin: a keyless repartition(p) pays a LOCAL SORT of every row
    * first (sortBeforeRepartition, for retry determinism; guide §2.5),
    * profiled as the single biggest stage of dd_decontam's widen. The key
    * is unique, so the spread is uniform; a table with no declared key
    * falls back to round-robin.
    */
  private[graft] def widen(df: DataFrame,
      spec: Option[DirectMapper.TableSpec]): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else spec.flatMap(_.pks.headOption)
      .fold(df.repartition(p))(k => df.repartition(p, col(k)))
  }

  /** Catalog over a driver testdata scale-factor directory (TESTDATA.md).
    *
    * `events.ts` is a naive µs TIMESTAMP (read as TIMESTAMP_NTZ under
    * Spark 4's inferTimestampNTZ); the session time zone is pinned to UTC
    * at every entry point so its lexical form and epoch shadow are exact.
    */
  def testdata(spark: SparkSession, sfDir: String): GraphCatalog = {
    // r19: pair the scan widen below with the rule that removes it again
    // under pure cheap aggregates (the r18 "widen tax": a1/a2/a3 paid a
    // full-row exchange ahead of a near-free 1-task partial agg). The rule
    // is a session-level optimizer extension, registered once per session.
    graft.plans.OptimizerRules.setup(spark, Seq(ElideWidenUnderAgg))
    val cat = new GraphCatalog(spark)
    DirectMapper.testdataSpecs.toSeq.sortBy(_._1).foreach { case (t, spec) =>
      scala.util.Try(spark.read.parquet(s"$sfDir/$t.parquet"))
        .foreach { df =>
          // the quad LIFT (IRI string construction) is fused into the scan
          // stage, so widen tables whose source is big enough for the lift
          // to matter (≥ 1 MiB: measured net-negative below — the exchange
          // taxes every small-table query for nothing)
          val big = df.queryExecution.optimizedPlan.stats.sizeInBytes >= (1L << 20)
          cat.register(spec, if (big) widen(df, Some(spec)) else df)
        }
    }
    // store identity = md5 over every source file's (path, length, mtime)
    // — driver-side filesystem metadata only, no data read. Regenerated
    // testdata changes the fingerprint, so persisted store artifacts
    // (the resource-edge index) can never go stale silently. Set AFTER
    // the load-time register() calls so they don't mark the store
    // mutated.
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val meta = walk(new java.io.File(sfDir))
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}")
      .mkString("\n")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(meta.getBytes("UTF-8")).map("%02x".format(_)).mkString
    cat.storeFingerprint = Some(md.take(16))
    cat
  }
}
