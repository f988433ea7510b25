package graft.sources

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.model.Rdf

/** Per-repository configuration — the Spark analog of the reference's
  * repository JSON config (`init-graphdb.sh:41-72`):
  *   - `inference`: run the RDFS-Plus closure on load (the config's
  *     `"ruleset": "rdfsplus-optimized"`, `init-graphdb.sh:47`);
  *   - `partitionByPredicate`: persist snapshots predicate-partitioned
  *     ([[GraphStore]] — the predicate-list / context-index analog,
  *     `init-graphdb.sh:56-65`);
  *   - `location`: a base path for persisted snapshots; None keeps the
  *     repository as an in-session lazy DataFrame.
  *   - `queryTimeoutSec`: the config's `queryTimeout: 30`
  *     (`init-graphdb.sh:66-70`) — eager [[graft.Engine]] actions on this
  *     repository are cancelled (job-group watchdog) past the bound.
  *   - `shapesTtl`: a SHACL shapes document (Turtle). When set, every load
  *     and update is TRANSACTIONAL the way the reference engine's SHACL
  *     repositories are (GraphDB ships shape validation, `Dockerfile:2`):
  *     the candidate post-state is validated BEFORE commit and a violating
  *     mutation throws [[graft.shacl.ShaclViolationException]], leaving the
  *     repository unchanged. Shapes parse at `create` — bad shapes fail fast.
  */
final case class RepoConfig(inference: Boolean = false,
    partitionByPredicate: Boolean = true, location: Option[String] = None,
    queryTimeoutSec: Option[Int] = None, shapesTtl: Option[String] = None,
    rulesetPie: Option[String] = None,
    /** r17: keep at most this many epochs queryable (`urn:graft:hist:` /
      * change feed); older epochs DROP on commit — their views unregister
      * and their feed ranges refuse. None = unbounded (every epoch).
      * Epoch NUMBERS are stable: dropping never renumbers survivors.
      * Unpersisted (in-memory) repositories pin each epoch's recompute
      * plan, so update-heavy ones should set a cap; with a `location`
      * an epoch is a lazy parquet read and unbounded history only costs
      * disk.
      */
    historyRetention: Option[Int] = None) {
  require(historyRetention.forall(_ >= 1),
    s"historyRetention must be >= 1, got $historyRetention")
}

/** S4: repository DDL / catalog management — create, list, drop, load into,
  * update, and query named repositories (the `POST /rest/repositories`
  * surface, `init-graphdb.sh:41-72`; `README.md:103`).
  *
  * Each repository owns an immutable quad snapshot; loads and updates
  * produce new snapshots (the same versioned-Parquet posture as
  * [[GraphUpdate]]). With a `location`, each load writes the snapshot to
  * Parquet and re-reads it — the store survives the session and every later
  * query plans against plain partition-pruned file scans.
  */
final class Repositories(spark: SparkSession) {

  /** `quads` is the QUERY view (closure-materialized when inference is on);
    * `asserted` is the explicit statement set updates operate on. They
    * coincide for inference-off repositories. The split is what keeps the
    * materialization consistent across SPARQL Update — the reference fixes
    * the ruleset at repo creation (`init-graphdb.sh:47`) and every later
    * `/statements` update maintains the closure.
    */
  private final class Repo(var quads: Option[DataFrame],
      var asserted: Option[DataFrame], val config: RepoConfig,
      val shapes: Seq[graft.shacl.Shacl.NodeShape],
      val ruleset: graft.inference.CustomRules.Ruleset) {
    /** Memoized `onto:disable-sameAs` view — the RDFS-Plus closure WITHOUT
      * sameAs expansion. Computed only when a query names the pseudo-graph
      * (it is a second materialization); dropped on every commit.
      */
    var noSameAs: Option[DataFrame] = None
    /** Memoized `onto:implicit` view (query view ∖ asserted, lineage-cut):
      * a multi-count query plans the anti-join ONCE per snapshot instead
      * of once per action (r15 verdict nit). Lazy like [[noSameAs]];
      * dropped on every commit.
      */
    var implicitV: Option[DataFrame] = None
    /** Point-in-time HISTORY (r16): every commit's query view, in commit
      * order — epochs are immutable snapshots already (updates build NEW
      * frames), so keeping them is pure bookkeeping, no copy. Epoch k
      * (1-based) is `history(k-1)`, registered as the
      * `urn:graft:hist:<k>` pseudo-graph and served by [[changeFeed]].
      * With a `location` configured each epoch is its own persisted
      * parquet snapshot; in-memory repositories re-run the epoch's plan
      * on demand (documented: history on an unpersisted repo is a
      * recompute, not a read).
      */
    var history: Vector[DataFrame] = Vector.empty
    /** Epochs dropped by the retention cap (r17): `history(i)` is epoch
      * `droppedEpochs + i + 1` — numbering is stable across drops.
      */
    var droppedEpochs: Int = 0
    /** First epoch still queryable (1-based). */
    def firstEpoch: Int = droppedEpochs + 1
    /** Total epochs ever committed (= the latest epoch's number). */
    def lastEpoch: Int = droppedEpochs + history.size
    /** The snapshot of (1-based, retained) epoch `k`. */
    def epoch(k: Int): DataFrame = history(k - 1 - droppedEpochs)
  }
  private val repos = mutable.LinkedHashMap[String, Repo]()

  private def repo(id: String): Repo =
    repos.getOrElse(id, throw new IllegalArgumentException(
      s"repository '$id' does not exist"))

  def create(id: String, config: RepoConfig = RepoConfig()): this.type = {
    require(!repos.contains(id), s"repository '$id' already exists")
    val shapes = config.shapesTtl.map(ttl =>
      graft.shacl.Shacl.parseShapes(TurtleReader.parse(ttl))).getOrElse(Nil)
    // the SIXTH config axis (r14): a CUSTOM RULESET — GraphDB repositories
    // take either a built-in ruleset name or a user .pie file; here the
    // built-in RDFS-Plus is `inference = true` and a custom ruleset is the
    // parsed PIE-subset text. One ruleset per repository, like the binary.
    require(!(config.inference && config.rulesetPie.isDefined),
      s"repository '$id': pick ONE ruleset — built-in RDFS-Plus " +
        "(inference = true) or a custom rulesetPie, not both")
    val ruleset = config.rulesetPie // parse at create: fail-fast like shapes
      .map(graft.inference.CustomRules.parseRuleset)
      .getOrElse(graft.inference.CustomRules.Ruleset(Nil, Nil))
    repos(id) = new Repo(None, None, config, shapes, ruleset)
    this
  }

  /** The configured closure over a candidate store (built-in RDFS-Plus,
    * custom ruleset, or identity).
    */
  private def close(r: Repo, merged: DataFrame): DataFrame =
    if (r.ruleset.rules.nonEmpty || r.ruleset.axioms.nonEmpty)
      graft.inference.CustomRules.materializeRuleset(spark, merged, r.ruleset)
    else if (r.config.inference)
      graft.inference.Inference.materialize(spark, merged)
    else merged

  /** Transactional CONSISTENCY gate (r15 — GraphDB .pie Consistency
    * sections): every consistency rule of the custom ruleset must hold on
    * the candidate closure; a violation aborts with a bounded sample.
    */
  private def requireConsistent(r: Repo, candidate: DataFrame): Unit =
    r.ruleset.consistencies.foreach { c =>
      val sample = graft.inference.CustomRules.violations(candidate, c)
        .limit(4).collect()
      if (sample.nonEmpty) throw new IllegalStateException(
        s"repository inconsistency: rule '${c.name}' violated; sample " +
          sample.map(_.toString).mkString("; "))
    }

  /** Transactional SHACL gate: validate a candidate post-state against the
    * repository's shapes; throws (bounded violation sample in the message)
    * instead of committing when the state does not conform.
    */
  private def requireConforms(r: Repo, candidate: DataFrame): Unit =
    if (r.shapes.nonEmpty) {
      val report = graft.shacl.Shacl.validate(candidate, r.shapes)
      val sample = report.limit(4).collect().map(row =>
        (row.getString(0), row.getString(1), row.getString(2))).toSeq
      if (sample.nonEmpty) {
        val total = report.count()
        throw new graft.shacl.ShaclViolationException(sample, total)
      }
    }

  def list: Seq[String] = repos.keys.toSeq
  def exists(id: String): Boolean = repos.contains(id)
  def drop(id: String): Unit = { repos.remove(id); nsStore.remove(id); () }

  /** Current snapshot (empty quad set if nothing loaded yet). */
  def quads(id: String): DataFrame =
    repo(id).quads.getOrElse(GraphUpdate.quadsDf(spark, Nil))

  private def commit(id: String, next: DataFrame): DataFrame = {
    val r = repo(id)
    // epoch-numbered persisted paths: an overwrite-in-place would CLOBBER
    // older epochs' lazy parquet reads out from under the history views
    val epoch = r.lastEpoch + 1
    val snap = r.config.location match {
      case Some(loc) if r.config.partitionByPredicate =>
        GraphStore.write(next, s"$loc/$id/e$epoch")
        GraphStore.read(spark, s"$loc/$id/e$epoch")
      case Some(loc) =>
        next.write.mode("overwrite").parquet(s"$loc/$id/e$epoch")
        spark.read.parquet(s"$loc/$id/e$epoch")
          .select(org.apache.spark.sql.functions.col("graph"),
            org.apache.spark.sql.functions.col("s"),
            org.apache.spark.sql.functions.col("p"),
            org.apache.spark.sql.functions.col("o"))
      case None => next
    }
    r.quads = Some(snap)
    r.noSameAs = None // the pseudo-graph views are per-snapshot
    r.implicitV = None
    r.history = r.history :+ snap
    // retention cap (r17): drop the oldest epochs past the bound — their
    // hist:/changes: views stop resolving (stable numbering; survivors
    // keep their epoch numbers). In-memory epochs release their pinned
    // recompute plans; persisted parquet stays on disk (an audit trail a
    // re-`create` could re-register), only the VIEW unregisters.
    r.config.historyRetention.foreach { keep =>
      if (r.history.size > keep) {
        r.droppedEpochs += r.history.size - keep
        r.history = r.history.takeRight(keep)
      }
    }
    snap
  }

  /** Load an RDF document (format by extension: ttl/nt/nq/trig/jsonld/
    * rdf+xml) into the repository; applies the configured inference closure
    * over the merged snapshot and persists per config. → new snapshot.
    */
  def load(id: String, path: String, graph: String = Rdf.DefaultGraph): DataFrame = {
    val r = repo(id)
    val incoming = GraphUpdate.loadByExtension(spark,
      path.stripPrefix("file://"), graph)
    val merged = r.asserted.map(GraphUpdate.insertData(_, incoming))
      .getOrElse(incoming.distinct())
    val closed = close(r, merged)
    requireConforms(r, closed)
    requireConsistent(r, closed)
    r.asserted = Some(merged)
    commit(id, closed)
  }

  /** True when applying the form can only ADD quads to the store — the
    * incremental-closure fast path (closure(closure(A) ∪ D) = closure(A ∪ D),
    * so inserts re-close over the already-closed view in ONE rule pass via
    * [[graft.inference.Inference.materializeOnce]]). Anything that can
    * remove quads forces re-materialization from the asserted set: a
    * deleted triple's entailments may lose their last support (DRed-style
    * counting is a possible later refinement).
    */
  private def additive(f: graft.parser.SparqlParser.UpdateForm): Boolean =
    f match {
      case _: graft.parser.SparqlParser.InsertDataU => true
      case _: graft.parser.SparqlParser.LoadU => true
      case _: graft.parser.SparqlParser.CreateU => true
      case graft.parser.SparqlParser.CopyMoveAddU("ADD", _, _, _) => true
      case graft.parser.SparqlParser.ModifyU(del, _, _) => del.isEmpty
      case _ => false
    }

  /** Apply a SPARQL Update request to the repository. → new snapshot.
    *
    * Inference repos maintain the RDFS-Plus materialization across the
    * update (S4×S6 — the reference's `/statements` endpoint is always
    * ruleset-aware): each operation mutates the ASSERTED set, WHERE
    * patterns match against the CLOSED view (entailment-aware matching),
    * and the closure is refreshed per operation — one incremental rule
    * pass for pure inserts, a full re-close from the asserted set after
    * deletes (an entailment whose support was deleted must disappear).
    */
  def update(id: String, text: String): DataFrame = {
    val r = repo(id)
    if (r.ruleset.rules.nonEmpty || r.ruleset.axioms.nonEmpty ||
        r.ruleset.consistencies.nonEmpty)
      return updateCustom(id, r, text)
    if (!r.config.inference) {
      val next = GraphUpdate.update(quads(id), text,
        decorate = registerPseudos(id, r, _))
      requireConforms(r, next)
      r.asserted = Some(next)
      return commit(id, next)
    }
    var asserted = r.asserted.getOrElse(GraphUpdate.quadsDf(spark, Nil))
    var closed = quads(id)
    val dec = registerPseudos(id, r, _: GraphCatalog)
    graft.parser.SparqlParser.parseUpdate(text).foreach { f =>
      asserted = GraphUpdate.applyUpdate(asserted, f, matchStore = closed,
        decorate = dec)
      closed =
        if (additive(f)) graft.inference.Inference.materializeOnce(spark,
          GraphUpdate.applyUpdate(closed, f, matchStore = closed,
            decorate = dec))
        else graft.inference.Inference.materialize(spark, asserted)
    }
    // the transaction gate sees the whole request's post-state (a request
    // may pass through a violating intermediate legally)
    requireConforms(r, closed)
    r.asserted = Some(asserted)
    commit(id, closed)
  }

  /** Update maintenance under a CUSTOM ruleset: additive forms re-close
    * INCREMENTALLY over the already-closed view (semi-naive with
    * delta = the applied insert — sound for any monotone Datalog),
    * deletes re-materialize from the asserted set (a derivation may lose
    * its last support).
    */
  private def updateCustom(id: String, r: Repo, text: String): DataFrame = {
    var asserted = r.asserted.getOrElse(GraphUpdate.quadsDf(spark, Nil))
    // First touch of a never-materialized repo: the ruleset's AXIOMS are
    // already facts (GraphDB inserts .pie axiomatic triples at init) —
    // close the empty store so the incremental path sees them.
    var closed = r.quads.map(_ => quads(id)).getOrElse(
      graft.inference.CustomRules.materializeRuleset(spark,
        GraphUpdate.quadsDf(spark, Nil), r.ruleset))
    val dec = registerPseudos(id, r, _: GraphCatalog)
    graft.parser.SparqlParser.parseUpdate(text).foreach { f =>
      asserted = GraphUpdate.applyUpdate(asserted, f, matchStore = closed,
        decorate = dec)
      closed =
        if (additive(f))
          graft.inference.CustomRules.materializeIncremental(spark, closed,
            GraphUpdate.applyUpdate(closed, f, matchStore = closed,
              decorate = dec),
            r.ruleset.rules)
        else graft.inference.CustomRules.materializeRuleset(spark, asserted,
          r.ruleset)
    }
    requireConforms(r, closed)
    requireConsistent(r, closed)
    r.asserted = Some(asserted)
    commit(id, closed)
  }

  /** A catalog (and engine) over the current snapshot, with GraphDB's
    * pseudo-graphs registered (usable in GRAPH / FROM / FROM NAMED):
    *
    *   - `onto:explicit` — the ASSERTED statement set (all contexts);
    *   - `onto:implicit` — the inferred-only set: query view ∖ asserted
    *     (empty on a repository without a ruleset);
    *   - `onto:disable-sameAs` — the RDFS-Plus closure recomputed WITHOUT
    *     the sameAs substitution rules (built-in-inference repositories
    *     only; memoized per snapshot on first use — the view is a second
    *     materialization, so it never costs anything until a query names
    *     it). On a custom-ruleset or plain repository the closure has no
    *     sameAs expansion to disable, so the view is the query view.
    *
    * All three are lazy THUNKS: `catalog(id)` itself stays cheap.
    */
  def catalog(id: String): GraphCatalog =
    registerPseudos(id, repo(id),
      new GraphCatalog(spark).addQuads(quads(id)))

  /** Register the repository's pseudo-graph surface on `cat` — shared by
    * [[catalog]] (queries) and the update paths (r17: an update's WHERE
    * is a query, so `GRAPH <urn:graft:hist:1>` et al. resolve there too).
    */
  private def registerPseudos(id: String, r: Repo,
      cat: GraphCatalog): GraphCatalog = {
    def explicitQ() = r.asserted.getOrElse(GraphUpdate.quadsDf(spark, Nil))
    cat.registerPseudoGraph(Rdf.OntoExplicit, () => explicitQ())
    cat.registerPseudoGraph(Rdf.OntoImplicit,
      () => r.implicitV.getOrElse {
        val v = graft.exec.Generations.cut(
          quads(id).join(explicitQ(), Seq("graph", "s", "p", "o"),
            "left_anti"))
        r.implicitV = Some(v)
        v
      })
    cat.registerPseudoGraph(Rdf.OntoDisableSameAs, () =>
      if (!r.config.inference) quads(id)
      else r.noSameAs.getOrElse {
        val v = graft.inference.Inference.materialize(spark, explicitQ(),
          sameAsSubst = false)
        r.noSameAs = Some(v)
        v
      })
    // skip-redundant-implicit: in the binary a statement can be stored
    // both asserted AND inferred, and this graph skips the inferred
    // duplicate; this store is a SET (the closure is distinct), so a
    // redundant implicit copy cannot exist and the view IS the query
    // view — registered for drop-in query compatibility.
    cat.registerPseudoGraph(Rdf.OntoSkipRedundantImplicit, () => quads(id))
    // DATA-HISTORY views (r16): one pseudo-graph per commit epoch —
    // `GRAPH <urn:graft:hist:k> { … }` / `FROM <urn:graft:hist:k>` query
    // the repository AS OF its k-th commit (1-based). Epochs are the
    // immutable snapshots [[commit]] already keeps; like every pseudo-
    // graph, history views are lazy, routable, and never enumerated by
    // `GRAPH ?g`.
    r.history.zipWithIndex.foreach { case (snap, i) =>
      cat.registerPseudoGraph(
        s"${Rdf.HistPrefix}${r.droppedEpochs + i + 1}", () => snap)
    }
    // CHANGE-FEED views (r17): `urn:graft:changes:<from>:<to>:added` /
    // `…:removed` expose [[changeFeed]] to SPARQL — the GraphDB
    // data-history posture, epoch-pair-parametric so it resolves lazily
    // (no quadratic registration). An IRI with out-of-range epochs or a
    // malformed tail resolves to nothing and behaves like any absent
    // named graph (empty), matching GRAPH semantics rather than erroring
    // mid-plan.
    cat.registerPseudoGraphResolver { iri =>
      if (!iri.startsWith(Rdf.ChangesPrefix)) None
      else iri.stripPrefix(Rdf.ChangesPrefix).split(":") match {
        case Array(f, t, dir)
            if (dir == "added" || dir == "removed") &&
              f.forall(_.isDigit) && t.forall(_.isDigit) &&
              f.nonEmpty && t.nonEmpty && f.length <= 9 && t.length <= 9 =>
          val (from, to) = (f.toInt, t.toInt)
          val fromOk = if (from == 0) r.droppedEpochs == 0
            else from >= r.firstEpoch
          if (fromOk && from < to && to <= r.lastEpoch) {
            // build ONLY the asked side (one anti-join — the optimizer
            // does not prune the other diff arm out of a filtered union)
            Some(() => {
              val key = Seq("graph", "s", "p", "o")
              val before = if (from == 0) GraphUpdate.quadsDf(spark, Nil)
                else r.epoch(from)
              val after = r.epoch(to)
              if (dir == "added") after.join(before, key, "left_anti")
              else before.join(after, key, "left_anti")
            })
          } else None
        case _ => None
      }
    }
    cat.registerProofRules(r.ruleset.rules)
    cat
  }

  /** Number of committed epochs (loads + updates) of the repository —
    * the LATEST epoch number; with a retention cap, epochs below
    * [[firstRetainedEpoch]] are no longer queryable.
    */
  def epochCount(id: String): Int = repo(id).lastEpoch

  /** Oldest epoch still queryable (1-based; 1 unless a retention cap has
    * dropped older epochs).
    */
  def firstRetainedEpoch(id: String): Int = repo(id).firstEpoch

  /** The CHANGE FEED between two epochs (1-based, `from < to`): '+' rows
    * appeared by epoch `to`, '-' rows were removed — [[GraphStore.diff]]
    * over the two immutable snapshots (two anti-joins on the quad key;
    * cost ∝ the two epochs, nothing global). `from = 0` is the empty
    * pre-history store, so `changeFeed(id, 0, 1)` is the initial load as
    * additions. Epochs dropped by the retention cap refuse.
    */
  def changeFeed(id: String, from: Int, to: Int): DataFrame = {
    val r = repo(id)
    val fromOk = if (from == 0) r.droppedEpochs == 0 else from >= r.firstEpoch
    require(from >= 0 && fromOk && from < to && to <= r.lastEpoch,
      s"changeFeed($id, $from, $to): epochs ${r.firstEpoch}..${r.lastEpoch}" +
        s" retained (${r.droppedEpochs} dropped by the retention cap)")
    val before =
      if (from == 0) GraphUpdate.quadsDf(spark, Nil) else r.epoch(from)
    GraphStore.diff(before, r.epoch(to))
  }
  def engine(id: String): graft.Engine =
    new graft.Engine(catalog(id), repo(id).config.queryTimeoutSec)

  // ---- RDF4J-protocol conveniences (r12 cont. — the remaining read-only
  // repository endpoints a GraphDB client calls: GET /size, GET /contexts,
  // GET|PUT|DELETE /namespaces; `Dockerfile:2`) ----

  /** `GET /repositories/{id}/size` — statement count of the QUERY view
    * (the closure when inference is on, matching the endpoint's behavior
    * on a ruleset repository).
    */
  def size(id: String): Long = quads(id).count()

  /** `GET /repositories/{id}/contexts` — the distinct named contexts
    * (graph names other than the default graph), one scan of the `graph`
    * column only.
    */
  def contexts(id: String): Seq[String] =
    quads(id).filter(col("graph") =!= Rdf.DefaultGraph)
      .select("graph").distinct().collect().map(_.getString(0)).toSeq.sorted

  /** `GET /repositories/{id}/statements` with the RDF4J filter params —
    * `subj`/`pred`/`obj`/`context` restrict the exported statements, and
    * `infer = false` reads only the ASSERTED set (the endpoint's
    * `infer=false`, same view as the `onto:explicit` pseudo-graph). Each
    * filter is one pushdown-eligible predicate on the snapshot scan.
    */
  def statements(id: String, subj: Option[String] = None,
      pred: Option[String] = None, obj: Option[graft.model.RdfTerm] = None,
      context: Option[String] = None, infer: Boolean = true): DataFrame = {
    val r = repo(id)
    var df =
      if (infer) quads(id)
      else r.asserted.getOrElse(GraphUpdate.quadsDf(spark, Nil))
    subj.foreach(v => df = df.filter(col("s") === v))
    pred.foreach(v => df = df.filter(col("p") === v))
    obj.foreach { t =>
      df = df.filter(col("o.kind") === t.kind && col("o.value") === t.value &&
        col("o.dtype") <=> org.apache.spark.sql.functions.lit(t.dtype.orNull) &&
        col("o.lang") <=> org.apache.spark.sql.functions.lit(t.lang.orNull))
    }
    context.foreach(v => df = df.filter(col("graph") === v))
    df
  }

  /** `GET /repositories/{id}/statements` with an RDF `Accept` type — the
    * content-negotiated statement EXPORT (r12 cont.; the load side has
    * been negotiated since r7). Formats: `ntriples nquads turtle trig
    * rdfxml jsonld`; named-graph-aware formats keep contexts, triple
    * formats drop them. Returns the serialized document (sink-bounded like
    * [[graft.Engine.selectJson]]); use [[RdfWriter.save]] with the same
    * lines for the 100 TB part-file path.
    */
  def export(id: String, format: String): String = {
    val q = quads(id)
    val lines = format.toLowerCase match {
      case "ntriples" | "nt" => RdfWriter.ntriplesLines(q)
      case "nquads" | "nq" => RdfWriter.nquadsLines(q)
      case "turtle" | "ttl" => RdfWriter.turtleLines(q)
      case "trig" => RdfWriter.trigLines(q)
      case "rdfxml" | "xml" => RdfWriter.rdfXmlLines(q)
      case "jsonld" | "json-ld" => RdfWriter.jsonLdLines(q)
      case other => throw new IllegalArgumentException(
        s"unsupported export format '$other' " +
          "(ntriples|nquads|turtle|trig|rdfxml|jsonld)")
    }
    RdfWriter.document(lines)
  }

  // namespaces are driver-side repository metadata (the endpoint stores a
  // prefix table, not data) — per-repo LinkedHashMap, insertion-ordered
  private val nsStore = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, String]]()
  private def nsOf(id: String): mutable.LinkedHashMap[String, String] = {
    repo(id) // existence check
    nsStore.getOrElseUpdate(id, mutable.LinkedHashMap())
  }
  /** `PUT /repositories/{id}/namespaces/{prefix}`. */
  def setNamespace(id: String, prefix: String, ns: String): Unit =
    nsOf(id)(prefix) = ns
  /** `GET /repositories/{id}/namespaces`. */
  def namespaces(id: String): Seq[(String, String)] = nsOf(id).toSeq
  /** `GET /repositories/{id}/namespaces/{prefix}` — None when absent. */
  def namespace(id: String, prefix: String): Option[String] =
    nsOf(id).get(prefix)
  /** `DELETE /repositories/{id}/namespaces/{prefix}`. */
  def deleteNamespace(id: String, prefix: String): Unit =
    nsOf(id).remove(prefix)

  /** Query text preprocessed with the repository's stored namespaces: any
    * stored prefix not already declared in the text gets a PREFIX line
    * prepended — the endpoint behavior that lets clients query with bare
    * prefixes after a one-time namespace PUT.
    */
  def queryWithNamespaces(id: String, text: String): org.apache.spark.sql.DataFrame = {
    // in-text declarations live in the PROLOGUE (before the query-form
    // keyword, §19.8 — string literals cannot occur there), so scanning
    // only that region keeps a "PREFIX x:" inside a later string literal
    // or comment from suppressing the stored-namespace prepend
    val prologue = "(?i)\\b(SELECT|ASK|CONSTRUCT|DESCRIBE)\\b".r
      .findFirstMatchIn(text).map(m => text.substring(0, m.start))
      .getOrElse(text)
    val declared = "(?i)PREFIX\\s+([^:\\s]*):".r
      .findAllMatchIn(prologue).map(_.group(1)).toSet
    val lines = nsOf(id).collect {
      case (p, ns) if !declared(p) => s"PREFIX $p: <$ns>"
    }
    engine(id).select(lines.mkString("", "\n", "\n") + text)
  }
}
