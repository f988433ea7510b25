package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Rdf

/** RDF export writers — the reverse of the S1/S5 loaders.
  *
  * The reference engine serves content-negotiated statement EXPORT as well as
  * load (RDF4J protocol `GET /repositories/{id}/statements` with an RDF
  * `Accept` type; engine surface reference `Dockerfile:2`, endpoint scheme
  * `init-graphdb.sh:90`). Here each serializer turns the quad store back into
  * text lines:
  *
  *   - N-Triples / N-Quads: ONE row → one line via a single codegen'd
  *     projection — no shuffle, no UDF. The natural 100 TB export: every
  *     partition writes independently, `spark.write.text` streams it out.
  *   - Turtle: subject-grouped with `;` predicate lists and `@prefix`
  *     compaction — one `groupBy(subject)` shuffle, then a per-group
  *     codegen'd assembly. Pretty, but the line formats are the bulk path.
  *
  * Round-trip law (tested in `RdfWriterSpec`): parse(serialize(quads)) == quads
  * for each of the three formats against their matching reader.
  */
object RdfWriter {

  /** N-Triples escape (https://www.w3.org/TR/n-triples/#canonical-ntriples):
    * backslash first, then quote, LF, CR, TAB. Plain `replace` chains keep
    * this inside whole-stage codegen (and are replayable in ANSI SQL, which
    * the `snk_ntriples` oracle exploits).
    */
  def escapeLiteral(v: Column): Column = {
    val esc = Seq("\\" -> "\\\\", "\"" -> "\\\"", "\n" -> "\\n",
      "\r" -> "\\r", "\t" -> "\\t")
    esc.foldLeft(v) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
  }

  /** Subject/graph position: blank labels are stored `_:label`, pass through;
    * IRIs get angle brackets.
    */
  private def resource(c: Column): Column =
    when(c.startsWith("_:"), c).otherwise(concat(lit("<"), c, lit(">")))

  /** Object term struct → its N-Triples token. */
  def termText(o: Column): Column = {
    val v = o.getField("value")
    val dt = o.getField("dtype")
    val lang = o.getField("lang")
    val litBody = concat(lit("\""), escapeLiteral(v), lit("\""))
    val literal = when(lang.isNotNull, concat(litBody, lit("@"), lang))
      .when(dt.isNotNull && dt =!= Rdf.XsdString,
        concat(litBody, lit("^^<"), dt, lit(">")))
      .otherwise(litBody)
    when(o.getField("kind") === Rdf.KindIri, concat(lit("<"), v, lit(">")))
      .when(o.getField("kind") === Rdf.KindBlank, v)
      .otherwise(literal)
  }

  /** One N-Triples line per quad (graph dropped — N-Triples is triples). */
  def ntriplesLines(quads: DataFrame): DataFrame =
    quads.select(concat(resource(col("s")), lit(" <"), col("p"), lit("> "),
      termText(col("o")), lit(" .")).as("line"))

  /** One N-Quads line per quad; the default graph is written without a graph
    * term (spec: "the graph label is omitted for the default graph").
    */
  def nquadsLines(quads: DataFrame): DataFrame =
    quads.select(concat(resource(col("s")), lit(" <"), col("p"), lit("> "),
      termText(col("o")),
      when(col("graph") === Rdf.DefaultGraph, lit(""))
        .otherwise(concat(lit(" "), resource(col("graph")))),
      lit(" .")).as("line"))

  /** Compact an IRI column against `prefixes` (name → namespace). Longest
    * namespace wins; local parts with Turtle-unsafe chars stay absolute.
    */
  private def qname(c: Column, prefixes: Seq[(String, String)]): Column = {
    val byLen = prefixes.sortBy(-_._2.length)
    byLen.foldRight(concat(lit("<"), c, lit(">"))) { case ((name, ns), rest) =>
      val local = substring(c, ns.length + 1, 100000)
      when(c.startsWith(ns) && local.rlike("^[A-Za-z_][A-Za-z0-9_.-]*$"),
        concat(lit(name + ":"), local)).otherwise(rest)
    }
  }

  /** Turtle document: `@prefix` header + one subject block per subject with
    * `;`-separated predicate-object lists, predicates/objects sorted for
    * determinism. One shuffle (`groupBy(s)`), assembly stays columnar
    * (`sort_array` + `transform` + `array_join` — no UDF).
    */
  def turtleLines(quads: DataFrame, prefixes: Map[String, String] = Map(
      "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
      "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
      "owl" -> "http://www.w3.org/2002/07/owl#",
      "xsd" -> "http://www.w3.org/2001/XMLSchema#")): DataFrame = {
    val spark = quads.sparkSession
    import spark.implicits._
    val ps = prefixes.toSeq.sortBy(_._1)
    val header = ps.map { case (n, ns) => s"@prefix $n: <$ns> ." }.toDF("line")
    // predicate-object token per quad, then grouped per subject
    val po = quads.select(col("s"),
      concat(qname(col("p"), ps), lit(" "),
        // object IRIs compact too; literals/bnodes use the N-Triples token
        when(col("o.kind") === Rdf.KindIri, qname(col("o.value"), ps))
          .otherwise(termText(col("o")))).as("po"))
    val blocks = po.groupBy("s")
      .agg(sort_array(collect_list(col("po"))).as("pos"))
      .select(concat(resource(col("s")), lit(" "),
        array_join(col("pos"), " ;\n    "), lit(" .")).as("line"),
        col("s"))
      .orderBy("s").drop("s")
    header.unionAll(blocks)
  }

  private def xmlText(c: Column): Column =
    Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;")
      .foldLeft(c) { case (x, (f, t)) => replace(x, lit(f), lit(t)) }
  private def xmlAttr(c: Column): Column =
    replace(xmlText(c), lit("\""), lit("&quot;"))

  /** RDF/XML document (S3/S5 export — the remaining content-negotiation
    * format): header + one `rdf:Description` block per subject + footer.
    * Property elements carry a PER-ELEMENT namespace declaration derived by
    * splitting the predicate IRI at its last '#' or '/', so no namespace
    * table needs collecting; objects render as `rdf:resource` (IRI),
    * `rdf:nodeID` (bnode), or text content with `xml:lang`/`rdf:datatype`.
    * Graph column dropped (RDF/XML is triples). Deterministic: blocks
    * sorted by subject, properties sorted within each block. Assembly is
    * columnar like [[turtleLines]] (one `groupBy(s)` shuffle) and the
    * output round-trips through [[RdfXmlReader]].
    */
  def rdfXmlLines(quads: DataFrame): DataFrame = {
    val spark = quads.sparkSession
    import spark.implicits._
    val rx = "^(.*[#/])([^#/]+)$"
    val ns = regexp_extract(col("p"), rx, 1)
    val local = regexp_extract(col("p"), rx, 2)
    val v = col("o.value")
    val open = concat(lit("<n0:"), local,
      lit(" xmlns:n0=\""), xmlAttr(ns), lit("\""))
    val litAttrs = when(col("o.lang").isNotNull,
        concat(lit(" xml:lang=\""), col("o.lang"), lit("\"")))
      .when(col("o.dtype").isNotNull && col("o.dtype") =!= Rdf.XsdString,
        concat(lit(" rdf:datatype=\""), xmlAttr(col("o.dtype")), lit("\"")))
      .otherwise(lit(""))
    val po =
      when(col("o.kind") === Rdf.KindIri,
        concat(open, lit(" rdf:resource=\""), xmlAttr(v), lit("\"/>")))
      .when(col("o.kind") === Rdf.KindBlank,
        concat(open, lit(" rdf:nodeID=\""), substring(v, 3, 100000), lit("\"/>")))
      .otherwise(concat(open, litAttrs, lit(">"), xmlText(v),
        lit("</n0:"), local, lit(">")))
    val subjAttr = when(col("s").startsWith("_:"),
        concat(lit("rdf:nodeID=\""), substring(col("s"), 3, 100000), lit("\"")))
      .otherwise(concat(lit("rdf:about=\""), xmlAttr(col("s")), lit("\"")))
    val blocks = quads.select(col("s"), subjAttr.as("sa"), po.as("po"))
      .groupBy(col("s"), col("sa"))
      .agg(sort_array(collect_list(col("po"))).as("pos"))
      .select(concat(lit("<rdf:Description "), col("sa"), lit(">\n  "),
        array_join(col("pos"), "\n  "), lit("\n</rdf:Description>")).as("line"),
        col("s"))
      .orderBy("s").drop("s")
    val header = Seq("<?xml version=\"1.0\" encoding=\"UTF-8\"?>",
      "<rdf:RDF xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\">")
      .toDF("line")
    header.unionAll(blocks).unionAll(Seq("</rdf:RDF>").toDF("line"))
  }

  /** TriG export (r12 cont. — completes the reader/writer format matrix):
    * default-graph statements serialize bare (plain N-Triples tokens, no
    * prefix table — the bulk-path posture of [[ntriplesLines]]), each
    * NAMED graph wraps its statements in a `<g> { … }` block. One
    * `groupBy(graph, s)` shuffle for the per-subject `;`-lists, blocks
    * sorted by graph then subject — deterministic; round-trips through
    * [[TrigReader]].
    */
  def trigLines(quads: DataFrame): DataFrame = {
    val spark = quads.sparkSession
    import spark.implicits._
    val po = quads.select(col("graph"), col("s"),
      concat(lit("<"), col("p"), lit("> "), termText(col("o"))).as("po"))
    val subj = po.groupBy(col("graph"), col("s"))
      .agg(sort_array(collect_list(col("po"))).as("pos"))
    val dg = subj.filter(col("graph") === Rdf.DefaultGraph)
      .select(lit("").as("g"), col("s"),
        concat(resource(col("s")), lit(" "),
          array_join(col("pos"), " ;\n    "), lit(" .")).as("line"))
    val ng = subj.filter(col("graph") =!= Rdf.DefaultGraph)
      .groupBy(col("graph"))
      .agg(array_join(sort_array(collect_list(
        concat(lit("  "), resource(col("s")), lit(" "),
          array_join(col("pos"), " ;\n      "), lit(" .")))), "\n").as("body"))
      .select(col("graph").as("g"), col("graph").as("s"),
        concat(resource(col("graph")), lit(" {\n"), col("body"),
          lit("\n}")).as("line"))
    dg.unionAll(ng).orderBy(col("g"), col("s"))
      .select(col("line"))
  }

  /** JSON string body escape (RFC 8259, COMPLETE): backslash first, then
    * quote, the short-escape whitespace controls, and every remaining
    * control char U+0000–U+001F as `\u00XX` — RFC 8259 forbids raw
    * controls in strings, and the repo's own [[JsonLdReader]] (Jackson)
    * rejects them, which would break the documented term-exact
    * round-trip (r12 ADVICE). Still one codegen'd replace chain,
    * ANSI-replayable.
    */
  private def jsonStr(c: Column): Column = {
    val shorts = Seq("\\" -> "\\\\", "\"" -> "\\\"", "\n" -> "\\n",
      "\r" -> "\\r", "\t" -> "\\t")
    val rest = (0x00 to 0x1f)
      .filterNot(i => i == '\n' || i == '\r' || i == '\t')
      .map(i => i.toChar.toString -> f"\\u$i%04x")
    (shorts ++ rest).foldLeft(c) { case (x, (f, t)) =>
      replace(x, lit(f), lit(t)) }
  }

  /** Flat JSON-LD document (S3/S5 export, r12 cont. — the
    * content-negotiation format [[JsonLdReader]] already parses): a
    * top-level ARRAY of node objects, one per default-graph subject, plus
    * one `{"@id": g, "@graph": […]}` wrapper per NAMED graph. Terms render
    * EXPANDED (no context): IRIs/bnodes as `{"@id": …}`, plain literals
    * as JSON strings, language/typed literals as `@value` objects — every
    * typed literal keeps its lexical form as a JSON string, so the output
    * round-trips through the reader term-exactly. Deterministic:
    * values sorted within a predicate, predicates within a node, nodes by
    * subject, named graphs after the default graph. Assembly is columnar
    * (two `groupBy` shuffles + one ordering window for comma placement);
    * a NAMED graph's nodes collect into its single wrapper row — the
    * default graph stays one row per subject, the 100 TB path.
    */
  def jsonLdLines(quads: DataFrame): DataFrame = {
    val spark = quads.sparkSession
    import spark.implicits._
    val o = col("o")
    val objJson =
      when(o.getField("kind") =!= Rdf.KindLiteral,
        concat(lit("{\"@id\":\""), jsonStr(o.getField("value")), lit("\"}")))
      .when(o.getField("lang").isNotNull,
        concat(lit("{\"@value\":\""), jsonStr(o.getField("value")),
          lit("\",\"@language\":\""), o.getField("lang"), lit("\"}")))
      .when(o.getField("dtype").isNotNull,
        concat(lit("{\"@value\":\""), jsonStr(o.getField("value")),
          lit("\",\"@type\":\""), jsonStr(o.getField("dtype")), lit("\"}")))
      .otherwise(concat(lit("\""), jsonStr(o.getField("value")), lit("\"")))
    val byProp = quads
      .select(col("graph"), col("s"), col("p"), objJson.as("v"))
      .groupBy(col("graph"), col("s"), col("p"))
      .agg(sort_array(collect_list(col("v"))).as("vs"))
      .select(col("graph"), col("s"),
        concat(lit("\""), jsonStr(col("p")), lit("\":["),
          array_join(col("vs"), ","), lit("]")).as("entry"))
    val nodes = byProp.groupBy(col("graph"), col("s"))
      .agg(sort_array(collect_list(col("entry"))).as("entries"))
      .select(col("graph"), col("s"),
        concat(lit("{\"@id\":\""), jsonStr(col("s")), lit("\","),
          array_join(col("entries"), ","), lit("}")).as("node"))
    val dg = nodes.filter(col("graph") === Rdf.DefaultGraph)
      .select(lit(0).as("ord"), col("s").as("k"), col("node").as("item"))
    val ng = nodes.filter(col("graph") =!= Rdf.DefaultGraph)
      .groupBy(col("graph"))
      .agg(array_join(sort_array(collect_list(col("node"))), ",").as("body"))
      .select(lit(1).as("ord"), col("graph").as("k"),
        concat(lit("{\"@id\":\""), jsonStr(col("graph")),
          lit("\",\"@graph\":["), col("body"), lit("]}")).as("item"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ord"), col("k"))
    val body = dg.unionAll(ng)
      .withColumn("rn", row_number().over(w))
      .select(concat(when(col("rn") > 1, lit(",")).otherwise(lit("")),
        col("item")).as("line"), col("rn"))
      .orderBy("rn").drop("rn")
    Seq("[").toDF("line").unionAll(body).unionAll(Seq("]").toDF("line"))
  }

  /** Write any of the line DataFrames out as text part-files. */
  def save(lines: DataFrame, path: String): Unit =
    lines.write.mode("overwrite").text(path)

  /** Serialize to a single in-memory document string (test/driver-sized
    * graphs only — this is the sink boundary, like `Engine.selectJson`).
    * Fetched by one job and bounded by `spark.graft.sink.maxRows`
    * ([[graft.Engine.sinkRows]]).
    */
  def document(lines: DataFrame): String = {
    val spark = lines.sparkSession
    import spark.implicits._
    graft.Engine.sinkRows(lines.as[String]).mkString("", "\n", "\n")
  }
}
