package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.inference.Inference
import graft.sources.{GraphCatalog, TurtleReader}

/** End-to-end SPARQL text tests: the reference's VERBATIM query strings
  * (`README.md:70-78`, `facilities.ttl:190-218`, `init-graphdb.sh:133`) run
  * through parser → algebra → compiler over data loaded by our TurtleReader
  * from the reference's two Turtle files + the synthetic facilities
  * stand-in. The reference files are vendored reconstructions (FIXTURES.md
  * §A) under `src/test/resources/reference/`, read by
  * [[ReferenceFiles.read]].
  */
class SparqlParserSpec extends AnyFunSuite {
  import TestSpark.spark

  lazy val engine: Engine = {
    import spark.implicits._
    val docs = Seq(
      ReferenceFiles.read("data/ontology/facilities.ttl"),
      ReferenceFiles.read("data/graph_data/areas.ttl"),
      SyntheticFacilities.facilitiesDoc)
    val quads = docs.flatMap(TurtleReader.parse(_)).toDS().toDF()
    val cat = new GraphCatalog(spark)
    cat.addQuads(Inference.materialize(spark, quads))
    new Engine(cat)
  }

  val prologue: String =
    """PREFIX ex: <http://example.org/dcc/facilities#>
      |PREFIX schema: <http://schema.org/>
      |""".stripMargin

  test("README flagship query, verbatim (README.md:70-78)") {
    val df = engine.select(
      """PREFIX ex: <http://example.org/dcc/facilities#>
        |PREFIX schema: <http://schema.org/>
        |
        |SELECT ?name ?type WHERE {
        |  ?facility a ex:Facility ;
        |            schema:name ?name ;
        |            ex:hasFacilityType ?type .
        |} LIMIT 10""".stripMargin)
    assert(df.columns.toSeq == Seq("name", "type"))
    assert(df.count() == 10)
  }

  test("Q1: count facilities by type (facilities.ttl:191-193)") {
    val df = engine.select(prologue +
      """SELECT ?type (COUNT(?facility) AS ?count)
        |WHERE { ?facility ex:hasFacilityType ?type }
        |GROUP BY ?type""".stripMargin)
    val m = df.collect().map(r => r.getStruct(0).getString(1) ->
      r.getStruct(1).getDouble(4).toLong).toMap
    assert(m("http://example.org/dcc/facilities#Park") == 10)
    assert(m.values.sum == 40)
  }

  test("Q2: areas with no parks via FILTER NOT EXISTS (facilities.ttl:195-202)") {
    val df = engine.select(prologue +
      """SELECT ?area WHERE {
        |  ?area a ex:CommitteeArea .
        |  FILTER NOT EXISTS {
        |    ?facility ex:hasFacilityType ex:Park ;
        |              ex:inCommitteeArea ?area .
        |  }
        |}""".stripMargin)
    val areas = df.collect().map(_.getStruct(0).getString(1)).toSet
    val parkAreas = (0 until 40).filter(i => SyntheticFacilities.typeOf(i) == "Park")
      .map(i => SyntheticFacilities.EX + SyntheticFacilities.areaOf(i)).toSet
    assert(areas == SyntheticFacilities.areas.map(SyntheticFacilities.EX + _).toSet -- parkAreas)
    assert(areas.nonEmpty)
  }

  test("Q3: facilities in a specific area (facilities.ttl:205-209)") {
    val df = engine.select(prologue +
      """SELECT ?name ?type WHERE {
        |  ?facility ex:inCommitteeArea ex:NorthCentral ;
        |            schema:name ?name ;
        |            ex:hasFacilityType ?type .
        |}""".stripMargin)
    val expect = (0 until 40).count(i => SyntheticFacilities.areaOf(i) == "NorthCentral")
    assert(df.count() == expect)
  }

  test("Q4: spatial range filter with && chains (facilities.ttl:212-218)") {
    val df = engine.select(prologue +
      """SELECT ?facility ?name WHERE {
        |  ?facility schema:name ?name ;
        |            ex:latitude ?lat ;
        |            ex:longitude ?lon .
        |  FILTER(?lat > 53.34 && ?lat < 53.36 &&
        |         ?lon > -6.27 && ?lon < -6.25)
        |}""".stripMargin)
    val expect = (0 until 40).count { i =>
      val lat = SyntheticFacilities.latOf(i); val lon = SyntheticFacilities.lonOf(i)
      lat > 53.34 && lat < 53.36 && lon > -6.27 && lon < -6.25
    }
    assert(df.count() == expect)
  }

  test("verification COUNT(*) query (init-graphdb.sh:133)") {
    val df = engine.select("SELECT (COUNT(*) as ?count) WHERE { ?s ?p ?o }")
    assert(df.collect()(0).getStruct(0).getDouble(4).toLong > 300)
  }

  test("ASK / CONSTRUCT / BIND / VALUES / ORDER / property path") {
    assert(engine.ask(prologue +
      "ASK { ?f ex:hasFacilityType ex:Park }"))
    assert(!engine.ask(prologue +
      "ASK { ?f ex:hasFacilityType ex:Nonexistent }"))
    // CONSTRUCT: rewrite facility→area edges as a generic locatedIn graph
    val g = engine.construct(prologue +
      """CONSTRUCT { ?f ex:locatedIn ?a }
        |WHERE { ?f ex:inCommitteeArea ?a }""".stripMargin)
    assert(g.count() == 40)
    assert(g.select("p").distinct().collect()(0).getString(0)
      == "http://example.org/dcc/facilities#locatedIn")
    // GeoSPARQL distance via IRI-named function call (Dublin→London ≈ 464 km)
    val geo = engine.select(prologue +
      """SELECT ?d WHERE {
        |  BIND("POINT (-6.2603 53.3498)" AS ?dub)
        |  BIND("POINT (-0.1276 51.5072)" AS ?lon)
        |  BIND(<http://www.opengis.net/def/function/geosparql/distance>(?dub, ?lon) AS ?d)
        |} LIMIT 1""".stripMargin).collect()(0).getStruct(0).getDouble(4)
    assert(math.abs(geo - 463300) < 2000, s"got $geo") // within 2 km
    // one-endpoint dispatch: the query form picks the content type
    val aSel = engine.answer(prologue + "SELECT ?f WHERE { ?f ex:hasFacilityType ex:Park } LIMIT 1")
    assert(aSel.startsWith("""{"head""""))
    val aAsk = engine.answer(prologue + "ASK { ?f ex:hasFacilityType ex:Park }")
    assert(aAsk == """{"head":{},"boolean":true}""")
    val aCon = engine.answer(prologue +
      "CONSTRUCT { ?f ex:locatedIn ?a } WHERE { ?f ex:inCommitteeArea ?a }")
    assert(aCon.contains("@prefix") || aCon.contains("<http://"))
    assert(TurtleReader.parse(aCon).size == 40)
    val aDesc = engine.answer(prologue + "DESCRIBE ex:NorthCentral")
    assert(TurtleReader.parse(aDesc).nonEmpty)
    // CONSTRUCT WHERE shorthand (§10.2.2): template = pattern
    val cw = engine.construct(prologue +
      "CONSTRUCT WHERE { ?f ex:inCommitteeArea ?a }")
    assert(cw.count() == 40)
    assert(cw.select("p").distinct().collect()(0).getString(0)
      == "http://example.org/dcc/facilities#inCommitteeArea")
    // CONSTRUCT with solution modifiers: LIMIT applies to WHERE solutions
    val cwLim = engine.construct(prologue +
      """CONSTRUCT { ?f ex:locatedIn ?a }
        |WHERE { ?f ex:inCommitteeArea ?a } ORDER BY ?f LIMIT 5""".stripMargin)
    assert(cwLim.count() == 5)
    // BIND + ORDER BY + LIMIT + string function
    val b = engine.select(prologue +
      """SELECT ?up WHERE {
        |  ?a a ex:CommitteeArea .
        |  ?a schema:name ?n .
        |  BIND(UCASE(?n) AS ?up)
        |} ORDER BY ?up LIMIT 2""".stripMargin)
    val ups = b.collect().map(_.getStruct(0).getString(1)).toSeq
    assert(ups == ups.sorted && ups.length == 2)
    // GROUP BY (expr) without AS, and bare builtin-call group key
    val gb = engine.select(prologue +
      """SELECT (COUNT(*) AS ?n) WHERE { ?a a ex:CommitteeArea . ?a schema:name ?nm }
        |GROUP BY (STRLEN(?nm))""".stripMargin)
    assert(gb.collect().map(_.getStruct(0).getDouble(4).toLong).sum == 5)
    val gb2 = engine.select(prologue +
      """SELECT (COUNT(*) AS ?n) WHERE { ?a a ex:CommitteeArea . ?a schema:name ?nm }
        |GROUP BY STRLEN(?nm)""".stripMargin)
    assert(gb2.collect().map(_.getStruct(0).getDouble(4).toLong).sum == 5)
    // bare function-call order key (ORDER BY LCASE(?n))
    val ofn = engine.select(prologue +
      """SELECT ?n WHERE { ?a a ex:CommitteeArea . ?a schema:name ?n }
        |ORDER BY LCASE(?n) LIMIT 3""".stripMargin)
    val names = ofn.collect().map(_.getStruct(0).getString(1)).toSeq
    assert(names == names.sortBy(_.toLowerCase) && names.length == 3)
    // VALUES restriction
    val vdf = engine.select(prologue +
      """SELECT ?f WHERE {
        |  ?f ex:hasFacilityType ?t .
        |  VALUES ?t { ex:Park ex:Library }
        |}""".stripMargin)
    assert(vdf.count() == 20)
    // sequence property path: facility → area → label
    val pdf = engine.select(prologue +
      """SELECT ?f ?label WHERE {
        |  ?f ex:inCommitteeArea/schema:name ?label .
        |}""".stripMargin)
    assert(pdf.count() == 40)
    // alternative + inverse path
    val adf = engine.select(prologue +
      "SELECT ?x WHERE { ex:NorthCentral ^ex:inCommitteeArea ?x }")
    assert(adf.count() > 0)
    // BNODE(str): same argument → same bnode; distinct args → distinct;
    // kind is blank (17.4.2.9)
    val bn = engine.select(prologue +
      """SELECT ?b1 ?b2 ?b3 WHERE {
        |  BIND(BNODE("k1") AS ?b1) BIND(BNODE("k1") AS ?b2)
        |  BIND(BNODE("k2") AS ?b3)
        |} LIMIT 1""".stripMargin).collect()(0)
    assert(bn.getStruct(0) == bn.getStruct(1))
    assert(bn.getStruct(0) != bn.getStruct(2))
    assert(bn.getStruct(0).getByte(0) == graft.model.Rdf.KindBlank)
    // BNODE(): fresh per row; REPLACE with the i flag
    val fresh = engine.select(prologue +
      """SELECT ?b ?r WHERE {
        |  ?a a ex:CommitteeArea . BIND(BNODE() AS ?b)
        |  BIND(REPLACE("North CENTRAL", "central", "side", "i") AS ?r)
        |}""".stripMargin).collect()
    assert(fresh.map(_.getStruct(0).getString(1)).distinct.length == fresh.length)
    assert(fresh.head.getStruct(1).getString(1) == "North side")
  }

  test("OPTIONAL group FILTER lifts into the LeftJoin condition (18.2.2.2)") {
    // The FILTER references the LEFT-side var ?an: applying it inside the
    // right pattern (pre-lift behavior) cannot even resolve the column; the
    // lifted condition evaluates over the merged solution, keeps every left
    // row, and null-pads where it is false.
    val df = engine.select(prologue +
      """SELECT ?a ?n WHERE {
        |  ?a a ex:CommitteeArea .
        |  ?a schema:name ?an .
        |  OPTIONAL {
        |    ?f ex:inCommitteeArea ?a ;
        |       schema:name ?n .
        |    FILTER(?an = "NO_SUCH_AREA")
        |  }
        |}""".stripMargin)
    assert(df.count() == 5) // all areas survive
    assert(df.filter(col("n").isNotNull).count() == 0) // filter false everywhere
  }

  test("FILTER EXISTS inside OPTIONAL lifts into LeftJoin.exists (18.2.2.2)") {
    // Algebra shape: the EXISTS is NOT applied to the right pattern — it
    // travels on the LeftJoin node so the compiler can evaluate it against
    // the merged (left + right) solution.
    import graft.algebra.{LeftJoin, Op, Project, ExistsOp, FilterOp, JoinOp}
    val q = graft.parser.SparqlParser.parse(
      """SELECT ?a WHERE {
        |  ?a <urn:p> ?b .
        |  OPTIONAL { ?b <urn:q> ?c . FILTER EXISTS { ?a <urn:r> ?d } }
        |}""".stripMargin)
    def findLj(o: Op): Option[LeftJoin] = o match {
      case lj: LeftJoin => Some(lj)
      case Project(_, ch) => findLj(ch)
      case FilterOp(_, ch) => findLj(ch)
      case JoinOp(l, r) => findLj(l).orElse(findLj(r))
      case _ => None
    }
    val graft.parser.SparqlParser.SelectQ(op, _) = q: @unchecked
    val lj = findLj(graft.algebra.Prepared.unwrap(op)).get
    assert(lj.exists.size == 1 && lj.exists.head._2)
    def hasExists(o: Op): Boolean = o match {
      case _: ExistsOp => true
      case JoinOp(l, r) => hasExists(l) || hasExists(r)
      case FilterOp(_, ch) => hasExists(ch)
      case _ => false
    }
    assert(!hasExists(lj.right))
    // Behavior: EXISTS joins on a LEFT-only var (?an) — facility matches are
    // retained only where the merged solution satisfies it.
    val df = engine.select(prologue +
      """SELECT ?a ?n WHERE {
        |  ?a a ex:CommitteeArea .
        |  ?a schema:name ?an .
        |  OPTIONAL {
        |    ?f ex:inCommitteeArea ?a ;
        |       schema:name ?n .
        |    FILTER EXISTS { ?x schema:name ?an ;
        |                       ex:hasFacilityType ex:Park . }
        |  }
        |}""".stripMargin)
    // areas whose NAME is also a Park facility's name: none → every area
    // keeps exactly its bare row (RHS-scoped EXISTS would keep all matches)
    assert(df.count() == 5)
    assert(df.filter(col("n").isNotNull).count() == 0)
  }

  test("FROM without FROM NAMED makes GRAPH match nothing (SPARQL 8.2)") {
    val df = engine.select(
      "SELECT ?s FROM <urn:x:g1> WHERE { GRAPH ?g { ?s ?p ?o } }")
    assert(df.count() == 0)
  }

  test("subquery as a UNION arm: { SELECT … } UNION { … }") {
    val areas = engine.select(prologue +
      "SELECT ?x WHERE { ?x a ex:CommitteeArea }").count()
    // Derive the Facility count from a standalone query: under the RDFS-Plus
    // closure the 5 committee areas are themselves typed ex:Facility (they
    // carry schema:name, and facilities.ttl declares schema:name
    // rdfs:domain ex:Facility), so hard-coding 40 would be wrong.
    val facilities = engine.select(prologue +
      "SELECT ?x WHERE { ?x a ex:Facility }").count()
    // Pin the closure itself so a regression in the inferred Facility set
    // can't hide behind the derived arithmetic: facilities.ttl declares 40
    // facility individuals + 5 committee areas that acquire ex:Facility via
    // the schema:name rdfs:domain rule → 45.
    assert(facilities == 45)
    assert(areas == 5)
    val df = engine.select(prologue +
      """SELECT ?x WHERE {
        |  { SELECT ?x WHERE { ?x a ex:CommitteeArea } }
        |  UNION { ?x a ex:Facility }
        |}""".stripMargin)
    assert(df.count() == areas + facilities)
  }

  test("path endpoints keep literal term kinds (p? / p+)") {
    val df = engine.select(prologue +
      "SELECT ?s ?o WHERE { ?s schema:name? ?o . FILTER(isLiteral(?o)) }")
    val kinds = df.select(col("o").getField("kind")).distinct()
      .collect().map(_.getByte(0)).toSet
    assert(df.count() > 0 && kinds == Set(graft.model.Rdf.KindLiteral))
  }

  test("subquery { SELECT … GROUP BY } joins with the outer pattern") {
    val df = engine.select(prologue +
      """SELECT ?t ?c WHERE {
        |  { SELECT ?t (COUNT(?f) AS ?c) WHERE { ?f ex:hasFacilityType ?t }
        |    GROUP BY ?t }
        |  ?t a ex:FacilityType .
        |}""".stripMargin)
    val m = df.collect().map(r => r.getStruct(0).getString(1) ->
      r.getStruct(1).getDouble(4).toLong).toMap
    assert(m("http://example.org/dcc/facilities#Park") == 10)
    assert(m.values.sum == 40)
  }

  test("blank-node property lists + collections in query position") {
    // [ … ] is a non-distinguished variable joined into the block
    val b = engine.select(prologue +
      """SELECT ?name WHERE {
        |  [ ex:hasFacilityType ex:Park ; schema:name ?name ] .
        |}""".stripMargin)
    assert(b.count() == 10)
    // bnode list in OBJECT position + nested var extraction
    val o = engine.select(prologue +
      """SELECT ?n WHERE {
        |  ?f ex:inCommitteeArea [ schema:name ?n ] .
        |}""".stripMargin)
    assert(o.count() == 40) // every facility's area has a name
    // collection `( … )` matches rdf:first/rest chains; none in this data
    val c = engine.select(prologue +
      "SELECT ?x WHERE { ?x ex:items ( ex:A ex:B ) . }")
    assert(c.count() == 0)
  }

  test("term-ordered MIN/MAX + COUNT(DISTINCT *) + GROUP BY (expr AS ?v)") {
    // string MIN/MAX (numeric-only aggregation would return NULL here)
    val mm = engine.select(prologue +
      """SELECT (MIN(?n) AS ?mn) (MAX(?n) AS ?mx) WHERE {
        |  ?a a ex:CommitteeArea . ?a schema:name ?n .
        |}""".stripMargin).collect()(0)
    val names = engine.select(prologue +
      "SELECT ?n WHERE { ?a a ex:CommitteeArea . ?a schema:name ?n . }")
      .collect().map(_.getStruct(0).getString(1))
    assert(mm.getStruct(0).getString(1) == names.min)
    assert(mm.getStruct(1).getString(1) == names.max)
    // COUNT(DISTINCT *) counts distinct SOLUTIONS (through a subquery so
    // DISTINCT actually bites: used types, not facilities)
    val cds = engine.select(prologue +
      """SELECT (COUNT(DISTINCT *) AS ?k) WHERE {
        |  { SELECT ?t WHERE { ?f ex:hasFacilityType ?t } }
        |}""".stripMargin).collect()(0)
    val distinctTypes = engine.select(prologue +
      "SELECT DISTINCT ?t WHERE { ?f ex:hasFacilityType ?t }").count()
    assert(cds.getStruct(0).getDouble(4).toLong == distinctTypes)
    // GROUP BY (expr AS ?v)
    val g = engine.select(prologue +
      """SELECT ?u (COUNT(*) AS ?c) WHERE {
        |  ?a a ex:CommitteeArea . ?a schema:name ?n .
        |} GROUP BY (UCASE(?n) AS ?u)""".stripMargin)
    assert(g.count() == 5)
  }

  test("aggregates nested in a compound projection expression") {
    // hand-rolled average: SUM/COUNT inside one projection expression
    val df = engine.select(prologue +
      """SELECT ?t ((SUM(?lat) / COUNT(?lat)) AS ?avg_lat) WHERE {
        |  ?f ex:hasFacilityType ?t ; ex:latitude ?lat .
        |} GROUP BY ?t""".stripMargin)
    val got = df.collect().map(r => r.getStruct(0).getString(1) ->
      r.getStruct(1).getDouble(4)).toMap
    val expect = (0 until 40).groupBy(i => SyntheticFacilities.typeOf(i))
      .map { case (t, is) =>
        (SyntheticFacilities.EX + t) ->
          is.map(SyntheticFacilities.latOf).sum / is.size
      }
    got.foreach { case (t, v) => assert(math.abs(v - expect(t)) < 1e-9, t) }
    assert(got.size == 4)
  }

  test("HAVING with a direct aggregate expression") {
    // every facility type has exactly 10 members (40 facilities / 4 types)
    val keep = engine.select(prologue +
      """SELECT ?t (COUNT(?f) AS ?c) WHERE { ?f ex:hasFacilityType ?t }
        |GROUP BY ?t HAVING (COUNT(?f) >= 10)""".stripMargin)
    assert(keep.count() == 4)
    val none = engine.select(prologue +
      """SELECT ?t (COUNT(?f) AS ?c) WHERE { ?f ex:hasFacilityType ?t }
        |GROUP BY ?t HAVING (COUNT(?f) > 10)""".stripMargin)
    assert(none.count() == 0)
  }

  test("OPTIONAL + UNION + MINUS through text; SPARQL-JSON serialization") {
    val o = engine.select(prologue +
      """SELECT ?a ?n WHERE {
        |  ?a a ex:CommitteeArea .
        |  OPTIONAL { ?a schema:name ?n }
        |}""".stripMargin)
    assert(o.count() == 5)
    val u = engine.select(prologue +
      """SELECT ?x WHERE {
        |  { ?x a ex:CommitteeArea } UNION { ?x a ex:FacilityType }
        |}""".stripMargin)
    assert(u.count() >= 17) // 5 areas + 12 types
    val m = engine.select(prologue +
      """SELECT ?a WHERE {
        |  ?a a ex:CommitteeArea .
        |  MINUS { ?f ex:inCommitteeArea ?a . ?f ex:hasFacilityType ex:Park }
        |}""".stripMargin)
    assert(m.count() == 2) // SouthCentral + SouthEast have no parks
    val json = engine.selectJson(prologue +
      "SELECT ?n WHERE { ex:NorthCentral schema:name ?n } LIMIT 1")
    assert(json.contains(""""head":{"vars":["n"]}"""))
    assert(json.contains(""""type":"literal""""))
    // SPARQL 1.1 Query Results CSV: raw lexical forms, CRLF rows
    val csv = engine.selectCsv(prologue +
      "SELECT ?x ?n WHERE { ex:NorthCentral schema:name ?n . BIND(ex:NorthCentral AS ?x) } LIMIT 1")
    val csvLines = csv.split("\r\n")
    assert(csvLines(0) == "x,n")
    assert(csvLines(1).startsWith("http://example.org/dcc/facilities#NorthCentral,"))
    // TSV: terms in Turtle syntax (IRIs bracketed, literals quoted)
    val tsv = engine.selectTsv(prologue +
      "SELECT ?x ?n WHERE { ex:NorthCentral schema:name ?n . BIND(ex:NorthCentral AS ?x) } LIMIT 1")
    val tsvLines = tsv.split("\n")
    assert(tsvLines(0) == "?x\t?n")
    assert(tsvLines(1).startsWith("<http://example.org/dcc/facilities#NorthCentral>\t\""))
    // DESCRIBE: outbound statements + inbound references (1-hop CBD)
    val desc = engine.describe("http://example.org/dcc/facilities#NorthCentral")
      .collect()
    val asSubject = desc.count(_.getString(1) == "http://example.org/dcc/facilities#NorthCentral")
    assert(asSubject >= 3) // type + label + name at least
    val inbound = desc.length - asSubject
    val expectInbound = (0 until 40).count(i =>
      SyntheticFacilities.areaOf(i) == "NorthCentral")
    assert(inbound == expectInbound)
  }

  test("sink row cap: spark.graft.sink.maxRows fails oversize results; 0 = unlimited") {
    spark.conf.set("spark.graft.sink.maxRows", "3")
    try {
      val e = intercept[IllegalStateException] {
        engine.selectJson(prologue + "SELECT ?f WHERE { ?f a ex:Facility }")
      }
      assert(e.getMessage.contains("maxRows=3"))
      // results within the cap still serialize
      val ok = engine.selectJson(prologue +
        "SELECT ?f WHERE { ?f a ex:Facility } LIMIT 3")
      assert(ok.contains("\"bindings\""))
    } finally spark.conf.set("spark.graft.sink.maxRows", "0")
  }

  test("ORDER BY on a non-projected variable under DISTINCT/REDUCED is " +
    "legal (18.2.4: OrderBy below Project) and still deduplicates") {
    // previously a parse error; now evaluated via DistinctOrdered
    val d = engine.select(prologue +
      "SELECT DISTINCT ?type WHERE { ?f ex:hasFacilityType ?type ; schema:name ?n } ORDER BY ?n")
    val types = d.collect().map(_.getStruct(0).getString(1))
    val plain = engine.select(prologue +
      "SELECT DISTINCT ?type WHERE { ?f ex:hasFacilityType ?type }").count()
    assert(types.length == types.distinct.length && types.length == plain)
    val r = engine.select(prologue +
      "SELECT REDUCED ?type WHERE { ?f ex:hasFacilityType ?type ; schema:name ?n } ORDER BY DESC(?n)")
    assert(r.count() == 40) // REDUCED-as-identity keeps all rows, ordered
    // projected keys (plain and computed) stay legal
    graft.parser.SparqlParser.parse(
      "SELECT DISTINCT ?s ?o WHERE { ?s ?p ?o } ORDER BY DESC(?o) ?s")
    // without DISTINCT the hidden-variable sort remains legal (18.2.5.1)
    graft.parser.SparqlParser.parse(
      "SELECT ?o WHERE { ?s ?p ?o } ORDER BY ?s")
    ()
  }

  test("XPath math: namespace (r14): trig/exp/log through the text " +
      "parser; IEEE specials flow (sqrt(-1) = NaN); non-numeric errors " +
      "to unbound; unknown local names error") {
    val MathPfx =
      "PREFIX math: <http://www.w3.org/2005/xpath-functions/math#>\n"
    def one(exprs: String, vars: Seq[String]): Seq[Option[Double]] = {
      val df = engine.select(MathPfx + s"SELECT * WHERE { $exprs }")
      val row = df.head()
      vars.map { v =>
        val i = row.fieldIndex(v)
        if (row.isNullAt(i)) None else {
          val t = row.getStruct(i)
          if (t.isNullAt(4)) None else Some(t.getDouble(4))
        }
      }
    }
    val got = one(
      """BIND(math:sin(0) AS ?s0) BIND(math:cos(0) AS ?c0)
        |BIND(math:atan2(1, 1) AS ?a2) BIND(math:exp(1) AS ?e)
        |BIND(math:log(math:exp(1)) AS ?ln) BIND(math:log10(1000) AS ?lg)
        |BIND(math:exp10(3) AS ?e10) BIND(math:tan(0) AS ?t0)
        |BIND(math:asin(1) AS ?as1) BIND(math:acos(1) AS ?ac1)
        |BIND(math:atan(1) AS ?at1)""".stripMargin,
      Seq("s0", "c0", "a2", "e", "ln", "lg", "e10", "t0", "as1", "ac1",
        "at1"))
    val Seq(s0, c0, a2, e, ln, lg, e10, t0, as1, ac1, at1) = got
    assert(s0.contains(0.0) && c0.contains(1.0) && t0.contains(0.0))
    assert(math.abs(a2.get - math.Pi / 4) < 1e-15)
    assert(math.abs(e.get - math.E) < 1e-15)
    assert(math.abs(ln.get - 1.0) < 1e-15)
    assert(lg.contains(3.0) && e10.contains(1000.0))
    assert(math.abs(as1.get - math.Pi / 2) < 1e-15 && ac1.contains(0.0))
    assert(math.abs(at1.get - math.Pi / 4) < 1e-15)
    // IEEE specials: sqrt of a negative is NaN (XPath F&O), carried as a
    // double literal whose num is NaN
    val nan = one("BIND(math:sqrt(-1) AS ?x)", Seq("x"))
    assert(nan.head.exists(_.isNaN))
    // a non-numeric argument errors to unbound (the shared error posture)
    val ub = one("""BIND(math:sqrt("oops") AS ?x)""", Seq("x"))
    assert(ub == Seq(None))
    // unknown local name is a loud parse/compile error
    assert(intercept[IllegalArgumentException](engine.select(
      MathPfx + "SELECT * WHERE { BIND(math:nope(1) AS ?x) }").collect())
      .getMessage.contains("math:nope"))
  }
}
