package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Quad, RdfTerm}
import graft.parser.SparqlParser
import graft.parser.SparqlParser.{DeleteDataU, InsertDataU, ModifyU}
import graft.sources.{GraphCatalog, GraphUpdate}

/** SPARQL Update text grammar (S6) + DESCRIBE text forms (G7): the reference
  * accepts update strings on `/repositories/{id}/statements` and full SPARQL
  * 1.1 query forms on the query endpoint (`Dockerfile:2`,
  * `init-graphdb.sh:90`).
  */
class UpdateSpec extends AnyFunSuite {
  import TestSpark.spark

  private val P = "urn:t#p"
  private def store(quads: Quad*) = {
    import spark.implicits._
    quads.toDS().toDF()
  }
  private def q(s: String, o: String) =
    Quad(graft.model.Rdf.DefaultGraph, s, P, RdfTerm.str(o))

  test("parse: INSERT DATA with GRAPH block and prefixed names") {
    val forms = SparqlParser.parseUpdate(
      """PREFIX t: <urn:t#>
        |INSERT DATA {
        |  <urn:a> t:p "x" .
        |  GRAPH <urn:g1> { <urn:b> t:p 4 ; a t:C . }
        |}""".stripMargin)
    assert(forms.size == 1)
    val InsertDataU(quads) = forms.head: @unchecked
    assert(quads.size == 3)
    assert(quads.head == Quad(graft.model.Rdf.DefaultGraph, "urn:a", P, RdfTerm.str("x")))
    assert(quads(1).graph == "urn:g1" && quads(1).o.num.contains(4.0))
    assert(quads(2).p == graft.model.Rdf.RdfType)
  }

  test("parse: variables in a DATA block are rejected") {
    intercept[IllegalArgumentException] {
      SparqlParser.parseUpdate("""DELETE DATA { ?s <urn:t#p> "x" }""")
    }
  }

  test("parse: ; separates operations; DELETE WHERE template = pattern") {
    val forms = SparqlParser.parseUpdate(
      """INSERT DATA { <urn:a> <urn:t#p> "x" } ;
        |DELETE WHERE { ?s <urn:t#p> ?o } ;
        |DELETE { ?s <urn:t#p> ?o } INSERT { ?s <urn:t#q> ?o } WHERE { ?s <urn:t#p> ?o }""".stripMargin)
    assert(forms.size == 3)
    assert(forms(1).isInstanceOf[ModifyU])
    val m = forms(1).asInstanceOf[ModifyU]
    assert(m.del.size == 1 && m.ins.isEmpty)
    val m2 = forms(2).asInstanceOf[ModifyU]
    assert(m2.del.size == 1 && m2.ins.size == 1)
  }

  test("DELETE DATA on a quoted-triple annotation deletes only the annotation: " +
    "sibling annotations on the same quoted triple keep matching") {
    import spark.implicits._
    val loaded = graft.sources.TurtleReader.parse(
      """@prefix ex: <http://e/> .
        |<< ex:f1 ex:name "Park" >> ex:certainty "high" ;
        |                            ex:source ex:sensorA .""".stripMargin)
    val after = GraphUpdate.update(loaded.toDS().toDF(),
      """DELETE DATA {
        |  << <http://e/f1> <http://e/name> "Park" >> <http://e/certainty> "high" .
        |}""".stripMargin)
    val cat = new GraphCatalog(spark)
    cat.addQuads(after)
    val eng = new Engine(cat)
    // the deleted annotation is gone…
    assert(eng.select(
      """PREFIX ex: <http://e/>
        |SELECT ?c WHERE { << ?s ex:name ?n >> ex:certainty ?c }""".stripMargin)
      .count() == 0)
    // …but the SIBLING annotation still joins through the decomposition quads
    assert(eng.select(
      """PREFIX ex: <http://e/>
        |SELECT ?src WHERE { << ?s ex:name ?n >> ex:source ?src }""".stripMargin)
      .count() == 1)
  }

  test("apply: INSERT DATA is set-semantics; DELETE DATA removes exactly") {
    val s0 = store(q("urn:a", "x"))
    val s1 = GraphUpdate.update(s0,
      """INSERT DATA { <urn:a> <urn:t#p> "x" . <urn:b> <urn:t#p> "y" } ;
        |DELETE DATA { <urn:a> <urn:t#p> "x" }""".stripMargin)
    val vals = s1.select(col("s")).collect().map(_.getString(0)).toSet
    assert(vals == Set("urn:b"))
  }

  test("apply: DELETE..INSERT..WHERE instantiates both from one solution set") {
    val s0 = store(q("urn:a", "old"), q("urn:b", "old"), q("urn:c", "keep"))
    val s1 = GraphUpdate.update(s0,
      """DELETE { ?s <urn:t#p> "old" }
        |INSERT { ?s <urn:t#p> "new" }
        |WHERE { ?s <urn:t#p> "old" }""".stripMargin)
    val m = s1.select(col("s"), col("o.value")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("urn:a" -> "new", "urn:b" -> "new", "urn:c" -> "keep"))
  }

  test("apply: blank nodes in INSERT templates are fresh per solution, " +
    "shared within one; DELETE forms reject them (19.6)") {
    // INSERT DATA: the two _:n occurrences are ONE fresh node per request
    val s1 = GraphUpdate.update(store(),
      """INSERT DATA { <urn:a> <urn:t#addr> _:n . _:n <urn:t#city> "D" }""")
    val obj = s1.filter(col("p") === "urn:t#addr")
      .select(col("o.value")).collect().map(_.getString(0))
    val subj = s1.filter(col("p") === "urn:t#city")
      .select(col("s")).collect().map(_.getString(0))
    assert(obj.length == 1 && obj.sameElements(subj) &&
      obj.head.startsWith("_:"))
    // 19.6: bnodes are fresh PER EXECUTION — replaying the identical
    // request mints NEW nodes rather than a set-semantics no-op
    val s1b = GraphUpdate.update(s1,
      """INSERT DATA { <urn:a> <urn:t#addr> _:n . _:n <urn:t#city> "D" }""")
    val objs2 = s1b.filter(col("p") === "urn:t#addr")
      .select(col("o.value")).collect().map(_.getString(0))
    assert(objs2.length == 2 && objs2.distinct.length == 2)
    // INSERT … WHERE: one fresh node per SOLUTION, two solutions → two nodes
    val s0 = store(q("urn:a", "x"), q("urn:b", "y"))
    val s2 = GraphUpdate.update(s0,
      """INSERT { ?s <urn:t#addr> _:m . _:m <urn:t#tag> "t" }
        |WHERE { ?s <urn:t#p> ?v }""".stripMargin)
    val addrs = s2.filter(col("p") === "urn:t#addr")
      .select(col("o.value")).collect().map(_.getString(0)).toSet
    val tags = s2.filter(col("p") === "urn:t#tag")
      .select(col("s")).collect().map(_.getString(0)).toSet
    assert(addrs.size == 2 && addrs == tags &&
      addrs.forall(_.startsWith("_:")))
    // every DELETE form rejects template bnodes
    intercept[Exception](SparqlParser.parseUpdate(
      "DELETE DATA { <urn:a> <urn:t#p> _:x }"))
    intercept[Exception](SparqlParser.parseUpdate(
      "DELETE { ?s <urn:t#p> _:x } WHERE { ?s <urn:t#p> _:x }"))
    intercept[Exception](SparqlParser.parseUpdate(
      "DELETE WHERE { ?s <urn:t#p> _:x }"))
  }

  test("apply: chained ops see the previous op's snapshot (WHERE over store)") {
    val s0 = store(q("urn:a", "x"))
    val s1 = GraphUpdate.update(s0,
      """INSERT DATA { <urn:b> <urn:t#p> "x" } ;
        |DELETE WHERE { ?s <urn:t#p> "x" }""".stripMargin)
    assert(s1.count() == 0)
  }

  test("parse: management ops — CLEAR/DROP/CREATE/LOAD/COPY/MOVE/ADD") {
    import SparqlParser._
    val forms = SparqlParser.parseUpdate(
      """CLEAR GRAPH <urn:g1> ;
        |CLEAR SILENT DEFAULT ;
        |DROP NAMED ;
        |DROP ALL ;
        |CREATE SILENT GRAPH <urn:g2> ;
        |LOAD <file:///tmp/x.ttl> INTO GRAPH <urn:g3> ;
        |COPY DEFAULT TO GRAPH <urn:g4> ;
        |MOVE GRAPH <urn:g4> TO DEFAULT ;
        |ADD SILENT GRAPH <urn:g5> TO GRAPH <urn:g6>""".stripMargin)
    assert(forms == Seq(
      ClearU(GraphT("urn:g1"), silent = false),
      ClearU(DefaultT, silent = true),
      DropU(NamedT, silent = false),
      DropU(AllT, silent = false),
      CreateU("urn:g2", silent = true),
      LoadU("file:///tmp/x.ttl", Some("urn:g3"), silent = false),
      CopyMoveAddU("COPY", DefaultT, GraphT("urn:g4"), silent = false),
      CopyMoveAddU("MOVE", GraphT("urn:g4"), DefaultT, silent = false),
      CopyMoveAddU("ADD", GraphT("urn:g5"), GraphT("urn:g6"), silent = true)))
  }

  test("apply: CLEAR targets; COPY clears dest; MOVE clears source; ADD unions") {
    def g(gr: String, s: String, o: String) = Quad(gr, s, P, RdfTerm.str(o))
    val s0 = store(q("urn:a", "d1"), g("urn:g1", "urn:b", "n1"), g("urn:g2", "urn:c", "n2"))
    def graphs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("graph"), col("s")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toSet
    val dg = graft.model.Rdf.DefaultGraph
    assert(graphs(GraphUpdate.update(s0, "CLEAR GRAPH <urn:g1>")) ==
      Set(dg -> "urn:a", "urn:g2" -> "urn:c"))
    assert(graphs(GraphUpdate.update(s0, "CLEAR NAMED")) == Set(dg -> "urn:a"))
    assert(GraphUpdate.update(s0, "CLEAR ALL").count() == 0)
    // COPY replaces the destination graph with the source's quads
    assert(graphs(GraphUpdate.update(s0, "COPY GRAPH <urn:g1> TO GRAPH <urn:g2>")) ==
      Set(dg -> "urn:a", "urn:g1" -> "urn:b", "urn:g2" -> "urn:b"))
    // MOVE also clears the source
    assert(graphs(GraphUpdate.update(s0, "MOVE GRAPH <urn:g1> TO DEFAULT")) ==
      Set(dg -> "urn:b", "urn:g2" -> "urn:c"))
    // ADD keeps both
    assert(graphs(GraphUpdate.update(s0, "ADD DEFAULT TO GRAPH <urn:g1>")) ==
      Set(dg -> "urn:a", "urn:g1" -> "urn:a", "urn:g1" -> "urn:b", "urn:g2" -> "urn:c"))
    // CREATE is a no-op on a quad snapshot
    assert(graphs(GraphUpdate.update(s0, "CREATE GRAPH <urn:gx>")) == graphs(s0))
  }

  test("apply: LOAD dispatches by extension; SILENT swallows a bad path") {
    val nq = java.nio.file.Files.createTempFile("graft_load", ".nq")
    java.nio.file.Files.writeString(nq,
      """<urn:x> <urn:t#p> "lx" <urn:gload> .
        |<urn:y> <urn:t#p> "ly" .
        |""".stripMargin)
    val s1 = GraphUpdate.update(store(q("urn:a", "d1")),
      s"LOAD <file://$nq>")
    assert(s1.count() == 3)
    assert(s1.filter(col("graph") === "urn:gload").count() == 1)
    // non-SILENT bad path errors; SILENT returns the store unchanged
    intercept[Exception] {
      GraphUpdate.update(store(q("urn:a", "d1")), "LOAD <file:///nope/missing.nt>").count()
    }
    val s2 = GraphUpdate.update(store(q("urn:a", "d1")),
      "LOAD SILENT <file:///nope/missing.nt>")
    assert(s2.count() == 1)
  }

  test("parse+apply: WITH scopes templates and WHERE; USING scopes WHERE") {
    def g(gr: String, s: String, o: String) = Quad(gr, s, P, RdfTerm.str(o))
    val s0 = store(g("urn:src", "urn:s1", "one"), g("urn:src", "urn:s2", "two"))
    val s1 = GraphUpdate.update(s0,
      """WITH <urn:dst> INSERT { ?s <urn:t#q> ?o }
        |USING <urn:src> WHERE { ?s <urn:t#p> ?o } ;
        |WITH <urn:dst> DELETE { ?s <urn:t#q> "two" } WHERE { ?s <urn:t#q> "two" }""".stripMargin)
    val dst = s1.filter(col("graph") === "urn:dst")
      .select(col("s"), col("o.value")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(dst == Set("urn:s1" -> "one"))
    assert(s1.count() == 3)
  }

  test("instantiate skips solutions binding a literal in s/p/graph position") {
    // ?o is a literal: using it as SUBJECT in the insert template must skip
    // the row, not insert an ill-formed quad (SPARQL 1.1 Update 19.6)
    val s0 = store(q("urn:a", "litval"))
    val s1 = GraphUpdate.update(s0,
      """INSERT { ?o <urn:t#derived> "gen" } WHERE { ?s <urn:t#p> ?o }""")
    assert(s1.count() == 1) // nothing inserted, store unchanged
    // IRI object DOES instantiate as subject
    val s2 = GraphUpdate.update(
      store(Quad(graft.model.Rdf.DefaultGraph, "urn:a", "urn:t#ref", RdfTerm.iri("urn:b"))),
      """INSERT { ?o <urn:t#derived> "gen" } WHERE { ?s <urn:t#ref> ?o }""")
    assert(s2.count() == 2)
    assert(s2.filter(col("s") === "urn:b").count() == 1)
  }

  test("no cached RDDs remain after update(); long chains stay bounded") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val s1 = GraphUpdate.update(store(q("urn:a", "x")),
      """INSERT DATA { <urn:b> <urn:t#p> "y" } ;
        |DELETE DATA { <urn:a> <urn:t#p> "x" }""".stripMargin)
    assert(s1.count() == 1)
    assert(sc.getPersistentRDDs.keySet == before, "short request leaked cache")
    // a 9-op chain crosses the CutEvery=8 boundary: at most ONE cut RDD live
    val ops = (1 to 9).map(i => s"""INSERT DATA { <urn:c$i> <urn:t#p> "v$i" }""")
    val s2 = GraphUpdate.update(store(q("urn:a", "x")), ops.mkString(" ;\n"))
    assert(s2.count() == 10)
    assert((sc.getPersistentRDDs.keySet -- before).size <= 1,
      "long request left more than the single live cut")
  }

  test("SERVICE routes to the registered sub-engine; SILENT degrades") {
    val dg = graft.model.Rdf.DefaultGraph
    val main = new GraphCatalog(spark).addQuads(store(
      Quad(dg, "urn:a", "urn:t#ref", RdfTerm.iri("urn:r1"))))
    // the label exists ONLY in the remote catalog — reaching it proves the
    // sub-pattern really ran in the sub-engine
    val remote = new GraphCatalog(spark).addQuads(store(
      Quad(dg, "urn:r1", "urn:t#lbl", RdfTerm.str("remote-only"))))
    main.registerService("urn:svc:remote", remote)
    val e = new Engine(main)
    val rows = e.select(
      """SELECT ?x ?l WHERE {
        |  ?x <urn:t#ref> ?y .
        |  SERVICE <urn:svc:remote> { ?y <urn:t#lbl> ?l }
        |}""".stripMargin)
      .select(col("x.value"), col("l.value")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(rows == Set("urn:a" -> "remote-only"))
    // unknown endpoint: hard error without SILENT, unit solution with
    intercept[IllegalArgumentException] {
      e.select(
        """SELECT ?x WHERE { ?x <urn:t#ref> ?y .
          |  SERVICE <urn:svc:nope> { ?y <urn:t#lbl> ?l } }""".stripMargin)
    }
    val silent = e.select(
      """SELECT ?x WHERE { ?x <urn:t#ref> ?y .
        |  SERVICE SILENT <urn:svc:nope> { ?y <urn:t#lbl> ?l } }""".stripMargin)
    assert(silent.count() == 1)
    // variable endpoint: iterates registered services, binding ?ep
    main.registerService("urn:svc:two", new GraphCatalog(spark).addQuads(store(
      Quad(dg, "urn:r1", "urn:t#lbl", RdfTerm.str("from-two")))))
    val multi = e.select(
      """SELECT ?ep ?l WHERE {
        |  SERVICE ?ep { <urn:r1> <urn:t#lbl> ?l }
        |}""".stripMargin)
      .select(col("ep.value"), col("l.value")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(multi == Set("urn:svc:remote" -> "remote-only", "urn:svc:two" -> "from-two"))
  }

  test("mergeWithRetractions: a tombstone batch retracts asserted quads " +
    "and their now-unsupported entailments from the next snapshot") {
    import spark.implicits._
    val dg = graft.model.Rdf.DefaultGraph
    val tmp = java.nio.file.Files.createTempDirectory("graft_mwr")
    val streamDir = new java.io.File(tmp.toFile, "stream"); streamDir.mkdirs()
    def writeBatch(quads: Seq[Quad], tomb: Boolean, name: String,
        mtime: Long): org.apache.spark.sql.types.StructType = {
      val df = quads.toDS().toDF().withColumn("tombstone", lit(tomb))
      val staging = new java.io.File(tmp.toFile, s"${name}_staging")
      df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = staging.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(streamDir, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(mtime)
      df.schema
    }
    val now = System.currentTimeMillis()
    val schema = writeBatch(Seq(
      Quad(dg, "urn:f1", "urn:t#hasType", RdfTerm.iri("urn:t#Park")),
      Quad(dg, "urn:f2", "urn:t#hasType", RdfTerm.iri("urn:t#Pool"))),
      tomb = false, "b0", now - 60000)
    writeBatch(Seq(
      Quad(dg, "urn:f1", "urn:t#hasType", RdfTerm.iri("urn:t#Park"))),
      tomb = true, "b1", now)
    val onto = store(Quad(dg, "urn:t#hasType", graft.model.Rdf.RdfsDomain,
      RdfTerm.iri("urn:t#Facility")))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
    val merged = graft.streaming.StreamIngest.merge(spark,
      stream, initial = onto, graft.inference.Closure.batchLocal(
        b => graft.inference.Inference.materialize(spark, b.unionAll(onto)),
        close = st => graft.inference.Inference.materialize(spark, st)))
    val typed = merged
      .filter(col("p") === graft.model.Rdf.RdfType &&
        col("o.value") === "urn:t#Facility")
      .select("s").collect().map(_.getString(0)).toSet
    assert(typed == Set("urn:f2")) // f1's support was retracted
    // the asserted quad itself is gone too, and f2's survives
    assert(merged.filter(col("s") === "urn:f1").count() == 0)
    assert(merged.filter(col("s") === "urn:f2" &&
      col("p") === "urn:t#hasType").count() == 1)
  }

  test("stream → store merge: batches and per-batch inferred delta are SPARQL-visible") {
    import graft.sources.DirectMapper
    val initial = TestSpark.catalog.forPredicate(DirectMapper.predIri("nation", "n_name"))
    val evType = DirectMapper.predIri("events", "event_type")
    // trivial per-batch inference rule: every event_type quad derives a
    // urn:t#sawType companion — runs over the BATCH only (the seam a real
    // vocabulary-closure plugs into)
    val merged = graft.streaming.StreamIngest.merge(spark,
      graft.streaming.StreamIngest.quadStream(spark, TestSpark.sf), initial,
      graft.inference.Closure.batchLocal(b => b.unionByName(b.filter(col("p") === evType)
        .select(col("graph"), col("s"), lit("urn:t#sawType").as("p"), col("o")))))
    assert(merged.filter(col("p") === evType).count() == 1000)
    assert(merged.filter(col("p") === "urn:t#sawType").count() == 1000)
    assert(merged.filter(col("p") === DirectMapper.predIri("nation", "n_name")).count() == 25)
    // and the merged snapshot answers SPARQL directly
    val e = new Engine(new GraphCatalog(spark).addQuads(merged))
    val n = e.select(s"SELECT ?s WHERE { ?s <$evType> ?t }").count()
    assert(n == 1000)
  }

  test("SPARQL: collection in SUBJECT position joins its property list") {
    val quads = graft.sources.TurtleReader.parse(
      """@prefix t: <urn:t#> . ( "a" "b" ) t:label "pair" .""")
    val cat = new GraphCatalog(spark).addQuads(store(quads: _*))
    val df = new Engine(cat).select(
      """SELECT ?l WHERE { ( "a" "b" ) <urn:t#label> ?l }""")
    val got = df.select(col("l.value")).collect().map(_.getString(0)).toSeq
    assert(got == Seq("pair"))
    // a DIFFERENT list must not match
    assert(new Engine(cat).select(
      """SELECT ?l WHERE { ( "a" "c" ) <urn:t#label> ?l }""").count() == 0)
  }

  test("DESCRIBE <iri> and DESCRIBE ?x WHERE {…} through the Engine") {
    val cat = new GraphCatalog(spark)
    cat.addQuads(store(
      q("urn:a", "x"),
      Quad(graft.model.Rdf.DefaultGraph, "urn:a", "urn:t#ref", RdfTerm.iri("urn:b")),
      Quad(graft.model.Rdf.DefaultGraph, "urn:b", P, RdfTerm.str("y")),
      Quad(graft.model.Rdf.DefaultGraph, "urn:c", P, RdfTerm.str("z"))))
    val e = new Engine(cat)
    // CBD of urn:b = its outbound statement + the inbound ref from urn:a
    assert(e.describeQuery("DESCRIBE <urn:b>").count() == 2)
    // var form: resources bound by WHERE; urn:a's CBD = 2 outbound statements
    val d = e.describeQuery(
      """DESCRIBE ?x WHERE { ?x <urn:t#ref> <urn:b> }""")
    assert(d.count() == 2)
    assert(d.select(col("s")).distinct().collect().map(_.getString(0)).toSet == Set("urn:a"))
  }

  // ---- tranche 16 (r11 cont.): Update graph-variable forms ----

  private def g(graph: String, s: String, o: String) =
    Quad(graph, s, P, RdfTerm.str(o))

  test("§3.1.3 DELETE WHERE with a GRAPH variable deletes the matches " +
      "from EVERY named graph they occur in") {
    val s0 = store(g("urn:g1", "urn:a", "x"), g("urn:g2", "urn:b", "x"),
      g("urn:g2", "urn:c", "keep"),
      q("urn:d", "x")) // default graph: GRAPH ?g does not see it
    val s1 = GraphUpdate.update(s0,
      """DELETE WHERE { GRAPH ?g { ?s <urn:t#p> "x" } }""")
    val left = s1.select(col("graph"), col("s")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(left == Set(("urn:g2", "urn:c"),
      (graft.model.Rdf.DefaultGraph, "urn:d")))
  }

  test("§3.1.3 INSERT with a GRAPH ?g template routes each solution's " +
      "triple into the graph that bound ?g") {
    val s0 = store(g("urn:g1", "urn:a", "x"), g("urn:g2", "urn:b", "x"))
    val s1 = GraphUpdate.update(s0,
      """INSERT { GRAPH ?g { ?s <urn:t#mark> "seen" } }
        |WHERE { GRAPH ?g { ?s <urn:t#p> "x" } }""".stripMargin)
    val marks = s1.filter(col("p") === "urn:t#mark")
      .select(col("graph"), col("s")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(marks == Set(("urn:g1", "urn:a"), ("urn:g2", "urn:b")))
  }

  test("§3.1.3 USING NAMED restricts which graphs GRAPH ?g ranges over " +
      "in the WHERE of a modify") {
    val s0 = store(g("urn:g1", "urn:a", "x"), g("urn:g2", "urn:b", "x"))
    val s1 = GraphUpdate.update(s0,
      """DELETE { GRAPH ?g { ?s <urn:t#p> "x" } }
        |USING NAMED <urn:g1>
        |WHERE { GRAPH ?g { ?s <urn:t#p> "x" } }""".stripMargin)
    val left = s1.select(col("graph")).collect().map(_.getString(0)).toSet
    assert(left == Set("urn:g2"))
  }

  test("§19.8 property paths are not allowed in a DELETE WHERE template") {
    intercept[Exception] {
      SparqlParser.parseUpdate(
        """DELETE WHERE { ?s <urn:t#p>/<urn:t#q> ?o }""")
    }
  }

  test("§3.1.3 VALUES inside a modify WHERE constrains the solutions") {
    val s0 = store(q("urn:a", "x"), q("urn:b", "x"), q("urn:c", "x"))
    val s1 = GraphUpdate.update(s0,
      """DELETE { ?s <urn:t#p> "x" }
        |WHERE { ?s <urn:t#p> "x" VALUES ?s { <urn:a> <urn:c> } }""".stripMargin)
    val left = s1.select(col("s")).collect().map(_.getString(0)).toSet
    assert(left == Set("urn:b"))
  }
}
