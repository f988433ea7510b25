package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.algebra._
import graft.exec.Generations
import graft.model.Rdf
import graft.parser.SparqlParser
import graft.parser.SparqlParser.{AskQ, ConstructQ, DescribeQ, SelectQ}
import graft.sources.{GraphCatalog, GraphUpdate}

/** Engine facade (SURVEY EP1/EP3): the Scala equivalent of the reference's
  * SPARQL endpoint `GET /repositories/{id}?query=…` (`README.md:63-65`) —
  * text in, solution DataFrame out.
  *
  * `queryTimeoutSec` is the repository's `queryTimeout` knob
  * (`init-graphdb.sh:66-70`): every EAGER entry point (ask / the four
  * result serializers / answer) runs under a [[QueryTimeout]] watchdog.
  * Lazy entry points (select/construct/describe returning DataFrames)
  * can't be bounded here — the caller triggers the action; wrap the
  * collect in [[runGuarded]] to apply the same bound.
  */
final class Engine(val catalog: GraphCatalog,
    val queryTimeoutSec: Option[Int] = None) {
  val compiler = new Compiler(catalog)
  // Custom Catalyst rules: dateTime-shadow range filters and constant-IRI
  // comparisons rewrite onto raw columns so they PUSH to the parquet scan.
  graft.plans.OptimizerRules.setup(catalog.spark)

  /** Run an eager block under this engine's query timeout (no-op if None). */
  def runGuarded[T](body: => T): T =
    QueryTimeout.run(catalog.spark, queryTimeoutSec)(body)

  /** Register a CUSTOM IRI-named function (r17 — the GraphDB Java-plugin
    * SPI analog): `<iri>(args)` in any query dispatches to `impl`, which
    * receives and returns term-struct Columns (build results with
    * `SparqlFunctions.term/strT/numT/iriT`; a null term is the SPARQL
    * error, flowing through FILTER/BIND open-world semantics like any
    * built-in). Registration is JVM-global like the binary's classpath
    * SPI; built-in namespaces (xsd:, geof:, math:, urn:graft:fn:) are
    * reserved and rejected.
    */
  def registerFunction(iri: String,
      impl: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column)
      : this.type = {
    graft.functions.SparqlFunctions.registerFunction(iri, impl)
    this
  }

  /** SELECT → solution DataFrame (term-struct columns, one per variable). */
  def select(query: String): DataFrame = SparqlParser.parse(query) match {
    case SelectQ(op, projection) =>
      val sol = compiler.compile(op)
      if (projection.nonEmpty) sol.df
      else { // SELECT * — all user variables (internal __ vars dropped)
        val keep = sol.df.columns.filterNot(_.startsWith("__")).toSeq
        sol.df.select(keep.map(sol.df(_)): _*)
      }
    case _ => throw new IllegalArgumentException("not a SELECT query")
  }

  /** SQL ACCESS (the reference's "SQL access over JDBC" repository
    * feature — a GraphDB 10.x capability of the shipped binary,
    * `Dockerfile:2`): register a SPARQL SELECT as a named SQL view with a
    * DECLARED column schema, then query it — joins, aggregates, window
    * functions, anything — through plain `spark.sql`. Exactly GraphDB's
    * model: a view definition is (name, SPARQL query, column list with
    * SQL types), each column naming a projected variable.
    *
    * Type mapping (per column declaration):
    *  - `string`/`varchar`: the term's lexical form (IRIs → the IRI)
    *  - `int`/`bigint`/`smallint`/`double`/`float`/`decimal(p,s)`:
    *    the lexical form cast to the SQL type, GUARDED on the term's
    *    numeric shadow — exact (SPARQL numeric literals carry their
    *    lexical form) and a non-numeric term becomes NULL instead of an
    *    ANSI cast error; a numeric term that cannot fit the declared
    *    type (fraction into int, overflow) stays a LOUD ANSI error —
    *    the declared schema is the user's contract
    *  - `boolean`: lexical cast
    *  - `timestamp`/`date`: rebuilt from the term's EPOCH-MICROS shadow
    *    (exact, not a lexical reparse)
    * Unbound solutions surface as SQL NULLs.
    *
    * The registration is LAZY — the view's logical plan is the compiled
    * SPARQL plan, so Catalyst optimizes ACROSS the boundary: a SQL filter
    * over the view pushes into the SPARQL side's parquet scans (no
    * materialization wall, unlike a JDBC bridge).
    */
  def createSqlView(name: String, query: String,
      columns: Seq[(String, String)]): DataFrame = {
    val df = select(query)
    require(columns.nonEmpty, "SQL view needs at least one column")
    columns.foreach { case (v, _) =>
      require(df.columns.contains(v),
        s"SQL view $name: ?$v is not projected by the query " +
          s"(have: ${df.columns.mkString(", ")})")
    }
    val out = df.select(columns.map { case (v, t0) =>
      val term = df(v)
      val t = t0.toLowerCase
      val c =
        if (t == "string" || t.startsWith("varchar")) term.getField("value")
        else if (t == "timestamp")
          timestamp_micros(term.getField("num").cast("long"))
        else if (t == "date")
          timestamp_micros(term.getField("num").cast("long")).cast("date")
        else if (t == "boolean") term.getField("value").cast(t)
        else if (t == "double" || t == "float")
          // the numeric shadow IS the xsd:double value — reading it
          // (instead of value→double) keeps the column the RAW source
          // column for double-typed data, so SQL predicates over the view
          // push all the way into the parquet scan
          term.getField("num").cast(t)
        else // int/bigint/decimal: lexical cast is EXACT past 2^53 where
          // the double shadow is not; NULL for non-numeric terms (guard)
          when(term.getField("num").isNotNull,
            term.getField("value").cast(t))
      c.as(v)
    }: _*)
    out.createOrReplaceTempView(name)
    out
  }

  /** SELECT with term structs unwrapped to plain string/double columns
    * (IRI/plain literals → `value`, numerics → `num`).
    */
  def selectValues(query: String): DataFrame = {
    val df = select(query)
    df.select(df.columns.toSeq.map { c =>
      val t = df(c)
      when(t.getField("num").isNotNull, t.getField("num").cast("string"))
        .otherwise(t.getField("value")).as(c)
    }: _*)
  }

  /** EXPLAIN surface (the reference engine's query-plan view): the Spark
    * physical plan of a SPARQL query, formatted — what you read to check
    * pushdown/broadcast/codegen before running at scale.
    */
  def explain(query: String): String = SparqlParser.parse(query) match {
    case SelectQ(op, _) =>
      graft.algebra.Compiler.planOnly.withValue(true) {
        compiler.compile(op).df.queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
      }
    case _ => throw new IllegalArgumentException(
      "explain supports SELECT queries")
  }

  /** ASK → existence (G7). Driver-side by design: ASK is a scalar. */
  def ask(query: String): Boolean = SparqlParser.parse(query) match {
    case AskQ(op) =>
      runGuarded(!compiler.compile(Slice(0, Some(1), op)).df.isEmpty)
    case _ => throw new IllegalArgumentException("not an ASK query")
  }

  /** CONSTRUCT → quads DataFrame (template instantiated per solution;
    * rows with unbound template variables are skipped, per spec).
    */
  def construct(query: String): DataFrame = SparqlParser.parse(query) match {
    case ConstructQ(op, template) =>
      val sol = compiler.compile(op)
      // Template bnodes (16.2.1) are FRESH per solution but shared across
      // the template within one solution: label ⊕ a per-row id. Each
      // template triple reads the stamped frame in its own union branch, so
      // it is cut: every branch reads the same drawn ids.
      val needB = template.exists(tp => Seq(tp.s, tp.o).exists(_.isInstanceOf[B]))
      val df = if (needB)
        Generations.cut(sol.df.withColumn("_cbn", monotonically_increasing_id()))
      else sol.df
      def termOf(t: PTerm): Column = t match {
        case V(n) if sol.visible(n) => df(n)
        case V(_) => E.nullTerm
        case B(lbl) => graft.functions.SparqlFunctions.term(
          lit(Rdf.KindBlank),
          concat(lit("_:c"), md5(concat(lit(lbl), lit("\u0000"),
            col("_cbn").cast("string")))),
          lit(null).cast("string"), lit(null).cast("string"),
          lit(null).cast("double"))
        case I(iri) => E.termLit(graft.model.RdfTerm.iri(iri))
        case L(lit0) => E.termLit(lit0)
      }
      template.map { tp =>
        df.select(
          lit(Rdf.DefaultGraph).as("graph"),
          termOf(tp.s).getField("value").as("s"),
          termOf(tp.p).getField("value").as("p"),
          termOf(tp.o).as("o"))
          .filter(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull)
      }.reduce(_.unionAll(_)).distinct()
    case _ => throw new IllegalArgumentException("not a CONSTRUCT query")
  }

  /** DESCRIBE <iri> — concise bounded description (G7): all statements with
    * the resource as subject, plus inbound statements (1-hop CBD).
    */
  def describe(iri: String): DataFrame = {
    import catalog.spark.implicits._
    cbd(Seq(iri).toDF("r"))
  }

  /** `DESCRIBE (<iri>|?v)+ [WHERE {…}]` as text (SPARQL 16.4): the described
    * resource set is the explicit IRIs plus every IRI a DESCRIBE variable
    * binds to in the WHERE solutions; the result is the union of their CBDs.
    */
  def describeQuery(query: String): DataFrame = SparqlParser.parse(query) match {
    case DescribeQ(terms, where) =>
      import catalog.spark.implicits._
      val iris = terms.collect { case I(i) => i }
      val varNames = terms.collect { case V(v) => v }
      val fromIris: Option[DataFrame] =
        if (iris.nonEmpty) Some(iris.toDF("r")) else None
      val fromVars: Option[DataFrame] = where.flatMap { op =>
        val sol = compiler.compile(op)
        varNames.filter(sol.visible).map { v =>
          sol.df.select(sol.df(v).getField("value").as("r"))
            .filter(sol.df(v).getField("kind") === lit(Rdf.KindIri))
        }.reduceOption(_.unionAll(_))
      }
      val resources = (fromIris.toSeq ++ fromVars.toSeq)
        .reduceOption(_.unionAll(_))
        .getOrElse(throw new IllegalArgumentException(
          "DESCRIBE variables need a WHERE clause binding them"))
        .distinct()
      cbd(resources)
    case _ => throw new IllegalArgumentException("not a DESCRIBE query")
  }

  /** CBD of a resource set (one string column `r`): outbound statements of
    * each resource plus inbound statements referencing it, then the
    * RECURSIVE blank-node closure (r10 — the reference's DESCRIBE follows
    * bnode objects to fixpoint, the Concise Bounded Description): every
    * bnode OBJECT of an included statement pulls in that bnode's outbound
    * statements, to fixpoint.
    *
    * The resource set, the first bnode layer and the reached label set are
    * generations of one scope; the result keeps the ones it reads pinned.
    * The no-bnode common case returns after the first layer. Rounds ∝
    * chain DEPTH; the quad scan is never shuffled.
    */
  private def cbd(resources: DataFrame): DataFrame = {
    val quads = catalog.allQuads
    def blankObjectsOf(layer: DataFrame): DataFrame = layer
      .filter(col("o").getField("kind") === lit(Rdf.KindBlank))
      .select(col("o").getField("value").as("r")).distinct()

    // each quad join against a label set is sized from its cut
    Generations.scope { gen =>
      val res = gen.cut(resources.distinct())._1
      val in = quads.join(res,
        quads("o").getField("kind") === lit(Rdf.KindIri) &&
          quads("o").getField("value") === res("r"), "left_semi")
      val first = quads.join(res, quads("s") === res("r"), "left_semi")
        .unionAll(in)
      val (f0, nF0) = gen.cut(
        blankObjectsOf(first).join(res, Seq("r"), "left_anti"))
      // common shape (no bnode objects): the (almost) declarative plan
      if (nF0 == 0) first.distinct()
      else {
        val reached = labelClosure(gen, f0)
        val bq = quads.filter(col("s").startsWith("_:"))
        first.unionAll(bq.join(reached, bq("s") === reached("r"), "left_semi"))
          .distinct()
      }
    }
  }

  /** The generation of every bnode label (column `r`) reachable from the
    * labels `f0` over bnode-to-bnode statements, `f0` included.
    *
    * The closure runs over LABELS ONLY, as RAW RDDs: the bnode-to-bnode
    * adjacency (src -> dst), hash-partitioned once; each hop is a narrow
    * co-partitioned join plus a tiny distinct -- no Catalyst analysis per
    * level (a DataFrame formulation spent ~95% of a 1000-level closure
    * planning 32-join trees), no broadcast collect per level, and K levels
    * run lazily per job. The caller joins the full quad rows back in ONE
    * semi-join, so the quad set is scanned twice total, however deep the
    * chains. RDD `localCheckpoint` stays here, not Generations: a depth-D
    * closure chains D/K rounds of raw RDDs, and only a truncated lineage
    * keeps task serialization from recursing D deep.
    */
  private def labelClosure(gen: Generations, f0: DataFrame): DataFrame = {
    val spark = catalog.spark
    import spark.implicits._
    import org.apache.spark.rdd.RDD
    val nPart = 4
    val part = new org.apache.spark.HashPartitioner(nPart)
    val eRdd: RDD[(String, String)] = catalog.allQuads
      .filter(col("s").startsWith("_:") &&
        col("o").getField("kind") === lit(Rdf.KindBlank))
      .select(col("s"), col("o").getField("value"))
      .distinct()
      .rdd.map(r => (r.getString(0), r.getString(1)))
      .partitionBy(part).localCheckpoint()
    eRdd.count()

    // Semi-naive on labels: K levels per job between lineage cuts,
    // ADAPTIVE (4, then x4 per round, capped) -- a shallow ontology-shaped
    // closure (depth 1-3, the common case) pays ONE ~8-stage job, while a
    // 1000-deep rdf:list still amortizes its cuts over big rounds. Levels
    // do not anti-join visited (a cycle entered mid-round re-walks <= K
    // nodes; the round-end subtract against the FULL visited set kills
    // it, so termination holds on arbitrary graphs) but DO dedup --
    // converging diamond paths would otherwise multiply duplicates
    // exponentially within a round. Superseded rounds are unpersisted
    // only after their successor's count(), so the truncated
    // (non-recomputable) blocks are never needed again.
    var K = 4
    var visited: RDD[String] = f0.rdd.map(_.getString(0))
    var fr: RDD[String] = visited
    var cuts = Seq.empty[RDD[String]]
    var nF = 1L
    while (nF > 0) {
      var f = fr
      val consumed = collection.mutable.ListBuffer[RDD[String]]()
      for (_ <- 1 to K) {
        consumed += f
        f = f.map((_, ())).partitionBy(part).join(eRdd)
          .map(_._2._2).distinct(nPart)
      }
      val v2 = visited
        .union(spark.sparkContext.union(consumed.toSeq)).distinct(nPart)
        .localCheckpoint()
      v2.count()
      val f2 = f.subtract(v2, nPart).localCheckpoint()
      nF = f2.count()
      cuts.foreach(_.unpersist(blocking = false))
      cuts = Seq(v2, f2)
      visited = v2; fr = f2
      K = math.min(K * 4, 512)
    }
    val reached = gen.cut(visited.toDF("r"))._1
    eRdd.unpersist(blocking = false)
    cuts.foreach(_.unpersist(blocking = false))
    reached
  }

  /** SPARQL Update request (text) applied to a quad snapshot → new snapshot
    * (S6). Pattern evaluation runs against the evolving snapshot itself.
    */
  def update(store: DataFrame, text: String): DataFrame =
    GraphUpdate.update(store, text)

  /** SPARQL-JSON results serialization (SURVEY §2.1 S3 — the reference's
    * `Accept: application/sparql-results+json`, `init-graphdb.sh:134`).
    */
  def selectJson(query: String): String = runGuarded {
    val df = select(query)
    val vars = df.columns.toSeq
    // Full JSON string escaping (backslash, quote, control chars) — the
    // document must round-trip through SparqlResultsJson.parse losslessly:
    // SERVICE ships sub-queries through this serializer (LoopbackEndpoint).
    def js(s: String): String = {
      val sb = new StringBuilder
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.toString
    }
    val rows = Engine.sinkRows(df).map { row =>
      vars.zipWithIndex.flatMap { case (v, i) =>
        Option(row.getStruct(i)).map { t =>
          val kind = t.getByte(0) match {
            case Rdf.KindIri => "uri"
            case Rdf.KindBlank => "bnode"
            case _ => "literal"
          }
          val extra = (Option(t.getString(2)).map(d => s""","datatype":"${js(d)}"""") orElse
            Option(t.getString(3)).map(l => s""","xml:lang":"${js(l)}"""")).getOrElse("")
          // results-JSON §3.2.2: a bnode's value is the LABEL, no "_:"
          // (SparqlResultsJson.parse re-prefixes on the way back in)
          val value = if (kind == "bnode") t.getString(1).stripPrefix("_:")
            else t.getString(1)
          s""""${js(v)}":{"type":"$kind","value":"${js(value)}"$extra}"""
        }
      }.mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    s"""{"head":{"vars":[${vars.map(v => s""""${js(v)}"""").mkString(",")}]},"results":{"bindings":$rows}}"""
  }

  /** SPARQL 1.1 Query Results CSV (`text/csv`, the reference's second
    * content-negotiated results format): header = variable names; values are
    * RAW lexical forms (IRIs bare, bnodes `_:label`, literals without
    * quotes/tags per spec §3), RFC-4180-quoted when they contain comma,
    * quote or newline; unbound = empty field.
    */
  def selectCsv(query: String): String = runGuarded {
    val df = select(query)
    val vars = df.columns.toSeq
    def field(s: String): String =
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    val sb = new StringBuilder(vars.mkString(",")).append("\r\n")
    Engine.sinkRows(df).foreach { row =>
      sb.append(vars.indices.map { i =>
        Option(row.getStruct(i)).map(t => field(t.getString(1))).getOrElse("")
      }.mkString(",")).append("\r\n")
    }
    sb.toString
  }

  /** SPARQL 1.1 Query Results TSV (`text/tab-separated-values`): header
    * `?var`; terms in Turtle syntax — `<iri>`, `_:label`,
    * `"lexical"@lang` / `"lexical"^^<dt>` — so the serialization
    * round-trips term kinds (spec §4); unbound = empty field.
    */
  def selectTsv(query: String): String = runGuarded {
    val df = select(query)
    val vars = df.columns.toSeq
    def term(t: org.apache.spark.sql.Row): String = t.getByte(0) match {
      case Rdf.KindIri => s"<${t.getString(1)}>"
      case Rdf.KindBlank => t.getString(1)
      case _ =>
        val esc = t.getString(1).replace("\\", "\\\\").replace("\"", "\\\"")
          .replace("\n", "\\n").replace("\t", "\\t").replace("\r", "\\r")
        "\"" + esc + "\"" + (Option(t.getString(3)).map("@" + _) orElse
          Option(t.getString(2)).map(d => s"^^<$d>")).getOrElse("")
    }
    val sb = new StringBuilder(vars.map("?" + _).mkString("\t")).append('\n')
    Engine.sinkRows(df).foreach { row =>
      sb.append(vars.indices.map(i =>
        Option(row.getStruct(i)).map(term).getOrElse("")).mkString("\t")).append('\n')
    }
    sb.toString
  }

  /** One-endpoint dispatch (the RDF4J `GET /repositories/{id}?query=…`
    * semantic, `README.md:63-65`): the query FORM picks the default
    * content type — SELECT/ASK answer as SPARQL-JSON, CONSTRUCT/DESCRIBE
    * answer as a Turtle document (graph forms return RDF, not bindings).
    */
  def answer(query: String): String = SparqlParser.parse(query) match {
    case _: SelectQ => selectJson(query)
    case _: AskQ => s"""{"head":{},"boolean":${ask(query)}}"""
    case _: ConstructQ => runGuarded {
      graft.sources.RdfWriter.document(
        graft.sources.RdfWriter.turtleLines(construct(query)))
    }
    case _: DescribeQ => runGuarded {
      graft.sources.RdfWriter.document(
        graft.sources.RdfWriter.turtleLines(describeQuery(query)))
    }
  }

  /** SPARQL Query Results XML (`application/sparql-results+xml`, the RDF4J
    * endpoint's default results format and the fourth the reference engine
    * negotiates): `<sparql><head><variable/></head><results><result>
    * <binding>…` with `<uri>`, `<bnode>` and `<literal xml:lang|datatype>`
    * leaf elements. Unbound variables simply omit their `<binding>`.
    */
  def selectXml(query: String): String = runGuarded {
    val df = select(query)
    val vars = df.columns.toSeq
    def xesc(s: String): String = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;")
    val sb = new StringBuilder("<?xml version=\"1.0\"?>\n")
    sb.append("<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\"><head>")
    vars.foreach(v => sb.append(s"""<variable name="${xesc(v)}"/>"""))
    sb.append("</head><results>")
    Engine.sinkRows(df).foreach { row =>
      sb.append("<result>")
      vars.zipWithIndex.foreach { case (v, i) =>
        Option(row.getStruct(i)).foreach { t =>
          sb.append(s"""<binding name="${xesc(v)}">""")
          t.getByte(0) match {
            case Rdf.KindIri => sb.append(s"<uri>${xesc(t.getString(1))}</uri>")
            case Rdf.KindBlank =>
              sb.append(s"<bnode>${xesc(t.getString(1).stripPrefix("_:"))}</bnode>")
            case _ =>
              val attr = (Option(t.getString(3)).map(l => s""" xml:lang="${xesc(l)}"""") orElse
                Option(t.getString(2)).map(d => s""" datatype="${xesc(d)}"""")).getOrElse("")
              sb.append(s"<literal$attr>${xesc(t.getString(1))}</literal>")
          }
          sb.append("</binding>")
        }
      }
      sb.append("</result>")
    }
    sb.append("</results></sparql>")
    sb.toString
  }
}

object Engine {
  /** Result rows for the serializers, fetched by ONE job. Every caller
    * builds its whole document in memory, so streaming partitions one job
    * at a time (`toLocalIterator`) bought nothing but a job per partition.
    * `spark.graft.sink.maxRows` (0 = unlimited) bounds the fetch at
    * cap + 1 rows and fails a pathological result with an explicit error
    * instead of a driver OOM.
    */
  def sinkRows[T](ds: org.apache.spark.sql.Dataset[T]): Iterator[T] = {
    val cap = ds.sparkSession.conf.get("spark.graft.sink.maxRows", "0").toLong
    val rows =
      if (cap > 0 && cap < Int.MaxValue) ds.limit(cap.toInt + 1).collect()
      else ds.collect()
    if (cap > 0 && rows.length > cap) throw new IllegalStateException(
      s"result exceeds spark.graft.sink.maxRows=$cap rows; " +
        "raise the cap or page the query with LIMIT/OFFSET")
    rows.iterator
  }
}
