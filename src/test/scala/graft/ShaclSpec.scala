package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Quad, Rdf, RdfTerm}
import graft.shacl.Shacl

/** SHACL core validation (SURVEY §2 — GraphDB ships shape validation;
  * reference `Dockerfile:2`). Every case builds a small quad fixture plus a
  * Turtle shapes document and checks the exact violation rows.
  */
class ShaclSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val Ex = "urn:ex"
  private def quads(qs: Quad*) = qs.toDS().toDF()

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, String)] =
    df.select("focus", "result_path", "component", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet

  test("minCount/maxCount: absent property counts 0; over-counted flags") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/name", RdfTerm.str("b1")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/name", RdfTerm.str("b2")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/name", RdfTerm.str("b3")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/name> ; sh:minCount 1 ; sh:maxCount 2 ] .
         |""".stripMargin)
    assert(rows(report) == Set(
      (s"$Ex/a", s"$Ex/name", "sh:MinCountConstraintComponent", null),
      (s"$Ex/b", s"$Ex/name", "sh:MaxCountConstraintComponent", null)))
  }

  test("datatype: plain literal is xsd:string; typed and lang forms differ") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.str("plain")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.int(7)),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.lang("hi", "en")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.iri(s"$Ex/x")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/v> ; sh:datatype xsd:string ] .
         |""".stripMargin)
    assert(rows(report).map(t => t._4) == Set("7", "hi", s"$Ex/x"))
  }

  test("pattern + length + range components flag exact value nodes") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/code", RdfTerm.str("AB-12")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/code", RdfTerm.str("bad")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/n", RdfTerm.int(5)),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/n", RdfTerm.int(40)),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/n", RdfTerm.str("NaNish")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/code> ; sh:pattern "^[A-Z]{2}-[0-9]+$$" ;
         |                sh:minLength 4 ] ;
         |  sh:property [ sh:path <$Ex/n> ; sh:minInclusive 1 ; sh:maxExclusive 40 ] .
         |""".stripMargin)
    val r = rows(report)
    assert(r.contains((s"$Ex/a", s"$Ex/code", "sh:PatternConstraintComponent", "bad")))
    assert(r.contains((s"$Ex/a", s"$Ex/code", "sh:MinLengthConstraintComponent", "bad")))
    // 40 fails maxExclusive 40; the non-numeric literal fails BOTH ranges
    assert(r.contains((s"$Ex/a", s"$Ex/n", "sh:MaxExclusiveConstraintComponent", "40")))
    assert(r.contains((s"$Ex/a", s"$Ex/n", "sh:MinInclusiveConstraintComponent", "NaNish")))
    assert(r.contains((s"$Ex/a", s"$Ex/n", "sh:MaxExclusiveConstraintComponent", "NaNish")))
    assert(!r.exists(t => t._4 == "5"))
  }

  test("class follows rdfs:subClassOf*; nodeKind IRI rejects literals") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/Dog", Rdf.RdfsSubClassOf, RdfTerm.iri(s"$Ex/Animal")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/pet", RdfTerm.iri(s"$Ex/rex")),
      Quad(Rdf.DefaultGraph, s"$Ex/rex", Rdf.RdfType, RdfTerm.iri(s"$Ex/Dog")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/pet", RdfTerm.iri(s"$Ex/stone")),
      Quad(Rdf.DefaultGraph, s"$Ex/stone", Rdf.RdfType, RdfTerm.iri(s"$Ex/Mineral")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/pet", RdfTerm.str("notanode")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/pet> ; sh:class <$Ex/Animal> ;
         |                sh:nodeKind sh:IRI ] .
         |""".stripMargin)
    val classBad = rows(report).filter(_._3 == "sh:ClassConstraintComponent").map(_._4)
    assert(classBad == Set(s"$Ex/stone", "notanode"))
    val kindBad = rows(report).filter(_._3 == "sh:NodeKindConstraintComponent").map(_._4)
    assert(kindBad == Set("notanode"))
  }

  test("in + hasValue + uniqueLang") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/color", RdfTerm.str("red")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/color", RdfTerm.str("mauve")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/label", RdfTerm.lang("one", "en")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/label", RdfTerm.lang("two", "en")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/color", RdfTerm.str("green")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/color> ; sh:in ("red" "green" "blue") ] ;
         |  sh:property [ sh:path <$Ex/color> ; sh:hasValue "red" ] ;
         |  sh:property [ sh:path <$Ex/label> ; sh:uniqueLang true ] .
         |""".stripMargin)
    val r = rows(report)
    assert(r.contains((s"$Ex/a", s"$Ex/color", "sh:InConstraintComponent", "mauve")))
    assert(r.contains((s"$Ex/b", s"$Ex/color", "sh:HasValueConstraintComponent", null)))
    assert(r.contains((s"$Ex/a", s"$Ex/label", "sh:UniqueLangConstraintComponent", "en")))
    assert(r.size == 3)
  }

  test("closed shape: undeclared predicates flagged per offending triple; " +
      "ignoredProperties and declared paths pass") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/name", RdfTerm.str("ok")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/rogue", RdfTerm.str("boo")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetClass <$Ex/C> ;
         |  sh:closed true ;
         |  sh:ignoredProperties ( rdf:type ) ;
         |  sh:property [ sh:path <$Ex/name> ; sh:minCount 1 ] .
         |""".stripMargin)
    assert(rows(report) == Set(
      (s"$Ex/a", s"$Ex/rogue", "sh:ClosedConstraintComponent", "boo")))
  }

  test("inverse path: values are the SUBJECTS pointing at the focus") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/child", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/lonely", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/mom", s"$Ex/parentOf", RdfTerm.iri(s"$Ex/child")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path [ sh:inversePath <$Ex/parentOf> ] ;
         |                sh:minCount 1 ] .
         |""".stripMargin)
    assert(rows(report) == Set(
      (s"$Ex/lonely", s"$Ex/parentOf", "sh:MinCountConstraintComponent", null)))
  }

  test("targetNode / targetSubjectsOf / targetObjectsOf resolve focus sets") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/s1", s"$Ex/p", RdfTerm.iri(s"$Ex/o1")),
      Quad(Rdf.DefaultGraph, s"$Ex/s1", s"$Ex/need", RdfTerm.str("x")))
    // subjects-of p need sh:need (s1 has it); objects-of p need it (o1 lacks);
    // the explicit targetNode also lacks it.
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S1> a sh:NodeShape ; sh:targetSubjectsOf <$Ex/p> ;
         |  sh:property [ sh:path <$Ex/need> ; sh:minCount 1 ] .
         |<$Ex/S2> a sh:NodeShape ; sh:targetObjectsOf <$Ex/p> ;
         |  sh:property [ sh:path <$Ex/need> ; sh:minCount 1 ] .
         |<$Ex/S3> a sh:NodeShape ; sh:targetNode <$Ex/extra> ;
         |  sh:property [ sh:path <$Ex/need> ; sh:minCount 1 ] .
         |""".stripMargin)
    assert(report.select("focus").as[String].collect().toSet ==
      Set(s"$Ex/o1", s"$Ex/extra"))
  }

  test("sh:or over value-level branches: string-or-langString conforms, " +
      "an integer fails the whole disjunction") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/t", RdfTerm.str("plain")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/t", RdfTerm.lang("tagged", "ga")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/t", RdfTerm.int(3)))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
         |@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/t> ;
         |    sh:or ( [ sh:datatype xsd:string ] [ sh:datatype rdf:langString ] ) ] .
         |""".stripMargin)
    assert(rows(report) == Set(
      (s"$Ex/a", s"$Ex/t", "sh:OrConstraintComponent", "3")))
  }

  test("sh:and conjoins branches; sh:not inverts one") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.str("short")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.str("very-long-value")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/w", RdfTerm.str("forbidden")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/w", RdfTerm.str("ok")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/v> ;
         |    sh:and ( [ sh:minLength 3 ] [ sh:maxLength 8 ] ) ] ;
         |  sh:property [ sh:path <$Ex/w> ;
         |    sh:not [ sh:in ("forbidden") ] ] .
         |""".stripMargin)
    assert(rows(report) == Set(
      (s"$Ex/a", s"$Ex/v", "sh:AndConstraintComponent", "very-long-value"),
      (s"$Ex/a", s"$Ex/w", "sh:NotConstraintComponent", "forbidden")))
  }

  test("non-value-level logic branches are rejected") {
    val e2 = intercept[IllegalArgumentException] {
      Shacl.parseShapes(graft.sources.TurtleReader.parse(
        s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
           |<$Ex/S> a sh:NodeShape ;
           |  sh:property [ sh:path <$Ex/p> ;
           |    sh:or ( [ sh:minCount 1 ] [ sh:datatype <$Ex/dt> ] ) ] .
           |""".stripMargin))
    }
    assert(e2.getMessage.contains("value-level"))
  }

  test("sh:xone on a property shape: exactly ONE branch must pass — " +
      "zero-pass and two-pass values both flag") {
    val xsd = "http://www.w3.org/2001/XMLSchema#"
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      // "hello": string (branch 1) AND matches pattern h.* (branch 2) → 2 pass
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.str("hello")),
      // 42: integer → neither string nor h-pattern → 0 pass
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.int(42)),
      // "world": string, does NOT match h.* → exactly 1 pass → conforms
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.str("world")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/v> ;
         |    sh:xone ( [ sh:datatype <${xsd}string> ]
         |              [ sh:pattern "h.*" ] ) ] .
         |""".stripMargin)
    assert(rows(report) == Set(
      (s"$Ex/a", s"$Ex/v", "sh:XoneConstraintComponent", "hello"),
      (s"$Ex/a", s"$Ex/v", "sh:XoneConstraintComponent", "42")))
  }

  test("node-shape-level or/not/xone evaluate against the focus node's " +
      "own term (incl. a literal focus via targetObjectsOf)") {
    val xsd = "http://www.w3.org/2001/XMLSchema#"
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/p", RdfTerm.str("abc")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/p", RdfTerm.int(7)),
      Quad(Rdf.DefaultGraph, s"$Ex/c", s"$Ex/p", RdfTerm.iri(s"$Ex/x")))
    // node-level sh:or: focus (the OBJECT of :p) must be a string or an IRI
    val r1 = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetObjectsOf <$Ex/p> ;
         |  sh:or ( [ sh:datatype <${xsd}string> ]
         |          [ sh:nodeKind sh:IRI ] ) .
         |""".stripMargin)
    assert(rows(r1) == Set(
      ("7", null, "sh:OrConstraintComponent", "7")))
    // node-level sh:not
    val r2 = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetObjectsOf <$Ex/p> ;
         |  sh:not [ sh:nodeKind sh:IRI ] .
         |""".stripMargin)
    assert(rows(r2) == Set(
      (s"$Ex/x", null, "sh:NotConstraintComponent", s"$Ex/x")))
    // node-level sh:xone: string XOR pattern "a.*" — "abc" passes both
    val r3 = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetObjectsOf <$Ex/p> ;
         |  sh:xone ( [ sh:datatype <${xsd}string> ] [ sh:pattern "a.*" ] ) .
         |""".stripMargin)
    // "abc": 2 branches pass → flag; 7: 0 pass → flag; IRI: 0 pass → flag
    assert(rows(r3).map(_._3) == Set("sh:XoneConstraintComponent"))
    assert(rows(r3).map(_._1) == Set("abc", "7", s"$Ex/x"))
  }

  test("transactional repository gate: a violating update throws and " +
      "leaves the store unchanged; a compliant one commits") {
    val repos = new graft.sources.Repositories(spark)
    repos.create("shrepo", graft.sources.RepoConfig(shapesTtl = Some(
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetSubjectsOf <$Ex/score> ;
         |  sh:property [ sh:path <$Ex/score> ; sh:maxInclusive 100 ] .
         |""".stripMargin)))
    repos.update("shrepo", s"INSERT DATA { <$Ex/a> <$Ex/score> 50 }")
    val e = intercept[graft.shacl.ShaclViolationException] {
      repos.update("shrepo", s"INSERT DATA { <$Ex/b> <$Ex/score> 500 }")
    }
    assert(e.getMessage.contains("MaxInclusive"))
    val left = repos.quads("shrepo").collect()
    assert(left.length == 1 && left(0).getString(1) == s"$Ex/a")
    // two violating values in one insert: the exception counts both, and
    // the store still holds only its committed quad
    val e2 = intercept[graft.shacl.ShaclViolationException] {
      repos.update("shrepo",
        s"INSERT DATA { <$Ex/c> <$Ex/score> 200 . <$Ex/d> <$Ex/score> 300 }")
    }
    assert(e2.getMessage.contains("2 violation(s)"), e2.getMessage)
    assert(e2.sample.map(_._1).toSet == Set(s"$Ex/c", s"$Ex/d"))
    val after = repos.quads("shrepo").collect()
    assert(after.length == 1 && after(0).getString(1) == s"$Ex/a")
    // bad shapes fail fast at create
    intercept[IllegalArgumentException] {
      repos.create("bad", graft.sources.RepoConfig(shapesTtl = Some(
        s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
           |<$Ex/S> a sh:NodeShape ; sh:property [ sh:minCount 1 ] .
           |""".stripMargin)))
    }
  }

  test("sh:severity and sh:message flow through to the report; the " +
      "default severity is sh:Violation") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.str("toolongvalue")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/v> ; sh:maxLength 5 ;
         |                sh:severity sh:Warning ;
         |                sh:message "value too long" ] ;
         |  sh:property [ sh:path <$Ex/missing> ; sh:minCount 1 ] .
         |""".stripMargin)
    val got = report.select("component", "severity", "message").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got == Set(
      ("sh:MaxLengthConstraintComponent", "sh:Warning", "value too long"),
      ("sh:MinCountConstraintComponent", "sh:Violation", null)))
  }

  test("rowValidator agrees with the batch validator on value-level " +
      "shapes, and rejects non-row-level components") {
    val shapesTtl =
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetSubjectsOf <$Ex/v> ;
         |  sh:property [ sh:path <$Ex/v> ; sh:minInclusive 0 ;
         |                sh:maxInclusive 10 ] .
         |""".stripMargin
    val shapes = Shacl.parseShapes(graft.sources.TurtleReader.parse(shapesTtl))
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.int(5)),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/v", RdfTerm.int(50)),
      Quad(Rdf.DefaultGraph, s"$Ex/c", s"$Ex/v", RdfTerm.int(-3)))
    val row = Shacl.rowValidator(shapes)(data)
      .select("s", "component").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val batch = Shacl.validate(data, shapes)
      .select("focus", "component").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(row == batch && row == Set(
      (s"$Ex/b", "sh:MaxInclusiveConstraintComponent"),
      (s"$Ex/c", "sh:MinInclusiveConstraintComponent")))
    intercept[IllegalArgumentException] {
      Shacl.rowValidator(Shacl.parseShapes(graft.sources.TurtleReader.parse(
        s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
           |<$Ex/S> a sh:NodeShape ; sh:targetSubjectsOf <$Ex/v> ;
           |  sh:property [ sh:path <$Ex/v> ; sh:minCount 1 ] .
           |""".stripMargin)))
    }
    // every row-level component, through both validators on the same
    // quads: the violation rows agree as a multiset
    val allShapes = Shacl.parseShapes(graft.sources.TurtleReader.parse(
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
         |<$Ex/MinScore> a sh:ConstraintComponent ;
         |  sh:parameter [ sh:path <$Ex/minScore> ] ;
         |  sh:validator [ sh:ask "ASK { FILTER($$value >= $$minScore) }" ] .
         |<$Ex/All> a sh:NodeShape ;
         |  sh:targetSubjectsOf <$Ex/dt>, <$Ex/kind>, <$Ex/pat>, <$Ex/len>,
         |    <$Ex/rng>, <$Ex/in>, <$Ex/or>, <$Ex/and>, <$Ex/not>, <$Ex/xone>,
         |    <$Ex/cu> ;
         |  sh:property [ sh:path <$Ex/dt> ; sh:datatype xsd:integer ] ;
         |  sh:property [ sh:path <$Ex/kind> ; sh:nodeKind sh:IRI ] ;
         |  sh:property [ sh:path <$Ex/pat> ; sh:pattern "^ab" ; sh:flags "i" ] ;
         |  sh:property [ sh:path <$Ex/len> ; sh:minLength 2 ; sh:maxLength 4 ] ;
         |  sh:property [ sh:path <$Ex/rng> ; sh:minInclusive 0 ;
         |                sh:maxInclusive 10 ; sh:minExclusive -5 ;
         |                sh:maxExclusive 9 ] ;
         |  sh:property [ sh:path <$Ex/in> ; sh:in ( "a" <$Ex/b> 3 ) ] ;
         |  sh:property [ sh:path <$Ex/or> ;
         |                sh:or ( [ sh:datatype xsd:integer ] [ sh:minLength 3 ] ) ] ;
         |  sh:property [ sh:path <$Ex/and> ;
         |                sh:and ( [ sh:minLength 2 ] [ sh:pattern "^a" ] ) ] ;
         |  sh:property [ sh:path <$Ex/not> ; sh:not [ sh:datatype xsd:integer ] ] ;
         |  sh:property [ sh:path <$Ex/xone> ;
         |                sh:xone ( [ sh:datatype xsd:integer ] [ sh:minInclusive 5 ] ) ] ;
         |  sh:property [ sh:path <$Ex/cu> ; <$Ex/minScore> 50 ;
         |                sh:severity sh:Warning ; sh:message "low score" ] .
         |""".stripMargin))
    def q(s: String, p: String, o: RdfTerm) = Quad(Rdf.DefaultGraph, s"$Ex/$s", s"$Ex/$p", o)
    val allData = quads(
      q("a", "dt", RdfTerm.int(5)), q("a", "dt", RdfTerm.str("5")),
      Quad(s"$Ex/g2", s"$Ex/b", s"$Ex/dt", RdfTerm.str("x")),
      q("b", "dt", RdfTerm.str("x")),
      q("a", "kind", RdfTerm.iri(s"$Ex/b")), q("a", "kind", RdfTerm.str("lit")),
      q("a", "kind", RdfTerm.blank("_:z")),
      q("a", "pat", RdfTerm.str("ABc")), q("a", "pat", RdfTerm.str("xab")),
      q("a", "len", RdfTerm.str("a")), q("a", "len", RdfTerm.str("abc")),
      q("a", "len", RdfTerm.str("abcdef")),
      q("a", "rng", RdfTerm.int(5)), q("a", "rng", RdfTerm.int(10)),
      q("a", "rng", RdfTerm.int(-3)), q("a", "rng", RdfTerm.int(-5)),
      q("a", "rng", RdfTerm.int(11)), q("a", "rng", RdfTerm.str("x")),
      q("a", "in", RdfTerm.str("a")), q("a", "in", RdfTerm.iri(s"$Ex/b")),
      q("a", "in", RdfTerm.int(3)), q("a", "in", RdfTerm.str("c")),
      q("a", "in", RdfTerm.str("3")),
      q("a", "or", RdfTerm.int(1)), q("a", "or", RdfTerm.str("abc")),
      q("a", "or", RdfTerm.str("ab")),
      q("a", "and", RdfTerm.str("ab")), q("a", "and", RdfTerm.str("b")),
      q("a", "and", RdfTerm.str("bc")),
      q("a", "not", RdfTerm.int(1)), q("a", "not", RdfTerm.str("1")),
      q("a", "xone", RdfTerm.int(7)), q("a", "xone", RdfTerm.int(2)),
      q("a", "xone", RdfTerm.dbl(6.0)), q("a", "xone", RdfTerm.str("x")),
      q("a", "cu", RdfTerm.int(60)), q("a", "cu", RdfTerm.int(30)),
      q("a", "cu", RdfTerm.str("high")))
    def bag(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (0 until 6).map(r.getString): Seq[String]).groupBy(identity)
      .map { case (k, v) => k -> v.size }
    val rowBag = bag(Shacl.rowValidator(allShapes)(allData)
      .select("s", "p", "component", "value", "severity", "message"))
    val batchBag = bag(Shacl.validate(allData, allShapes)
      .select("focus", "result_path", "component", "value", "severity", "message"))
    assert(rowBag == batchBag)
    assert(rowBag.keySet.map(_(2)) == Set("Datatype", "NodeKind", "Pattern",
      "MinLength", "MaxLength", "MinInclusive", "MaxInclusive",
      "MinExclusive", "MaxExclusive", "In", "Or", "And", "Not", "Xone")
      .map(c => s"sh:${c}ConstraintComponent") + s"$Ex/MinScore")
    // the datatype failure asserted in two graphs is two rows
    assert(rowBag(Seq(s"$Ex/b", s"$Ex/dt", "sh:DatatypeConstraintComponent",
      "x", "sh:Violation", null)) == 2)
    assert(rowBag.values.sum == 28, rowBag)
  }

  test("sh:node: each value must conform to the referenced shape; " +
      "literal values violate; recursion rejected") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/addr", RdfTerm.iri(s"$Ex/good")),
      Quad(Rdf.DefaultGraph, s"$Ex/good", s"$Ex/city", RdfTerm.str("Dublin")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/addr", RdfTerm.iri(s"$Ex/bad")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/addr", RdfTerm.str("inline")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/addr> ; sh:node <$Ex/Addr> ] .
         |<$Ex/Addr> a sh:NodeShape ;
         |  sh:property [ sh:path <$Ex/city> ; sh:minCount 1 ] .
         |""".stripMargin)
    val bad = rows(report).filter(_._3 == "sh:NodeConstraintComponent").map(_._4)
    // :good conforms (has a city); :bad lacks one; the literal violates
    assert(bad == Set(s"$Ex/bad", "inline"))
    val e = intercept[IllegalArgumentException] {
      Shacl.validateTtl(data,
        s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
           |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
           |  sh:property [ sh:path <$Ex/addr> ; sh:node <$Ex/A> ] .
           |<$Ex/A> a sh:NodeShape ;
           |  sh:property [ sh:path <$Ex/next> ; sh:node <$Ex/A> ] .
           |""".stripMargin)
    }
    assert(e.getMessage.contains("cyclic"))
    // ANONYMOUS nested shape (r18 — r17 refused; real shapes graphs
    // inline these pervasively): validates identically to the named
    // rewrite above
    val anonReport = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/addr> ;
         |    sh:node [ sh:property [ sh:path <$Ex/city> ;
         |                            sh:minCount 1 ] ] ] .
         |""".stripMargin)
    assert(rows(anonReport)
      .filter(_._3 == "sh:NodeConstraintComponent").map(_._4)
      == Set(s"$Ex/bad", "inline"))
  }

  test("anonymous sh:node shapes nest to depth >= 2 and mix with named " +
      "references; a cycle through a labeled bnode shape still errors") {
    // a --addr--> h1 --next--> h2 --zip--> 5 (must be >= 10): the L1/L2
    // chain of the named-depth test, rewritten fully anonymous
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/addr", RdfTerm.iri(s"$Ex/h1")),
      Quad(Rdf.DefaultGraph, s"$Ex/h1", s"$Ex/next", RdfTerm.iri(s"$Ex/h2")),
      Quad(Rdf.DefaultGraph, s"$Ex/h2", s"$Ex/zip", RdfTerm.int(5)),
      Quad(Rdf.DefaultGraph, s"$Ex/b", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/addr", RdfTerm.iri(s"$Ex/g1")),
      Quad(Rdf.DefaultGraph, s"$Ex/g1", s"$Ex/next", RdfTerm.iri(s"$Ex/g2")),
      Quad(Rdf.DefaultGraph, s"$Ex/g2", s"$Ex/zip", RdfTerm.int(42)))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/addr> ;
         |    sh:node [ sh:property [ sh:path <$Ex/next> ;
         |      sh:node [ sh:property [ sh:path <$Ex/zip> ;
         |                              sh:minInclusive 10 ] ] ] ] ] .
         |""".stripMargin)
    assert(rows(report) == Set(
      (s"$Ex/a", s"$Ex/addr", "sh:NodeConstraintComponent", s"$Ex/h1")))
    // anonymous shape REFERENCING a named shape (mixed identity)
    val mixed = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/addr> ;
         |    sh:node [ sh:property [ sh:path <$Ex/next> ;
         |                            sh:node <$Ex/L2> ] ] ] .
         |<$Ex/L2> a sh:NodeShape ;
         |  sh:property [ sh:path <$Ex/zip> ; sh:minInclusive 10 ] .
         |""".stripMargin)
    assert(rows(mixed) == Set(
      (s"$Ex/a", s"$Ex/addr", "sh:NodeConstraintComponent", s"$Ex/h1")))
    // a LABELED bnode shape referencing itself is the same cycle error
    // the named guard catches
    val e = intercept[IllegalArgumentException] {
      Shacl.validateTtl(data,
        s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
           |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
           |  sh:property [ sh:path <$Ex/addr> ; sh:node _:n ] .
           |_:n sh:property [ sh:path <$Ex/next> ; sh:node _:n ] .
           |""".stripMargin)
    }
    assert(e.getMessage.contains("cyclic"))
  }

  test("sh:node chains recurse to acyclic depth: a violation three hops " +
      "down surfaces at every level's NodeConstraintComponent") {
    // a --addr--> h1 --next--> h2 --zip--> 5 (must be >= 10)
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/addr", RdfTerm.iri(s"$Ex/h1")),
      Quad(Rdf.DefaultGraph, s"$Ex/h1", s"$Ex/next", RdfTerm.iri(s"$Ex/h2")),
      Quad(Rdf.DefaultGraph, s"$Ex/h2", s"$Ex/zip", RdfTerm.int(5)),
      Quad(Rdf.DefaultGraph, s"$Ex/b", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/addr", RdfTerm.iri(s"$Ex/g1")),
      Quad(Rdf.DefaultGraph, s"$Ex/g1", s"$Ex/next", RdfTerm.iri(s"$Ex/g2")),
      Quad(Rdf.DefaultGraph, s"$Ex/g2", s"$Ex/zip", RdfTerm.int(42)))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/addr> ; sh:node <$Ex/L1> ] .
         |<$Ex/L1> a sh:NodeShape ;
         |  sh:property [ sh:path <$Ex/next> ; sh:node <$Ex/L2> ] .
         |<$Ex/L2> a sh:NodeShape ;
         |  sh:property [ sh:path <$Ex/zip> ; sh:minInclusive 10 ] .
         |""".stripMargin)
    // only :a's chain is bad, flagged once per level at the shape that
    // referenced the non-conforming value
    assert(rows(report) == Set(
      (s"$Ex/a", s"$Ex/addr", "sh:NodeConstraintComponent", s"$Ex/h1")))
  }

  test("sh:sparql: the sh:select runs through the engine's own SPARQL " +
      "compiler; solutions joined to the focus set on $this are " +
      "violations, ?value and sh:message feed the report") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/bal", RdfTerm.int(-5)),
      Quad(Rdf.DefaultGraph, s"$Ex/b", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/bal", RdfTerm.int(7)),
      // negative bal but NOT a focus node (no rdf:type C) — must not report
      Quad(Rdf.DefaultGraph, s"$Ex/x", s"$Ex/bal", RdfTerm.int(-9)))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:sparql [
         |    sh:message "balance must be non-negative" ;
         |    sh:select "SELECT $$this ?value WHERE { $$this <$Ex/bal> ?value . FILTER(?value < 0) }"
         |  ] .
         |""".stripMargin)
    val r = report.select("focus", "component", "value", "message").collect()
      .map(x => (x.getString(0), x.getString(1), x.getString(2), x.getString(3))).toSet
    assert(r == Set((s"$Ex/a", "sh:SPARQLConstraintComponent", "-5",
      "balance must be non-negative")))
  }

  test("sh:sparql with sh:prefixes declarations; missing $this projection " +
      "and sh:ask error") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/tag", RdfTerm.str("forbidden")))
    // prefix declaration resolves ex:tag inside the select text
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/pfx> sh:declare [ sh:prefix "ex" ; sh:namespace "$Ex/" ] .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:sparql [
         |    sh:prefixes <$Ex/pfx> ;
         |    sh:select "SELECT $$this WHERE { $$this ex:tag \\"forbidden\\" }"
         |  ] .
         |""".stripMargin)
    assert(report.select("focus").collect().map(_.getString(0)).toSeq ==
      Seq(s"$Ex/a"))
    val noThis = intercept[IllegalArgumentException] {
      Shacl.validateTtl(data,
        s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
           |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
           |  sh:sparql [ sh:select "SELECT ?v WHERE { ?s <$Ex/tag> ?v }" ] .
           |""".stripMargin)
    }
    assert(noThis.getMessage.contains("$this"))
    val asked = intercept[IllegalArgumentException] {
      Shacl.parseShapes(graft.sources.TurtleReader.parse(
        s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
           |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
           |  sh:sparql [ sh:ask "ASK { $$this <$Ex/tag> ?v }" ] .
           |""".stripMargin))
    }
    assert(asked.getMessage.contains("sh:ask"))
  }

  test("sequence paths: sh:path ( :a :b ) chains hops; cardinality and " +
      "value constraints see the END of the chain") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/p1", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/p1", s"$Ex/addr", RdfTerm.iri(s"$Ex/a1")),
      Quad(Rdf.DefaultGraph, s"$Ex/a1", s"$Ex/zip", RdfTerm.int(999)),
      Quad(Rdf.DefaultGraph, s"$Ex/p2", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/p2", s"$Ex/addr", RdfTerm.iri(s"$Ex/a2")),
      Quad(Rdf.DefaultGraph, s"$Ex/p3", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ;
         |  sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path ( <$Ex/addr> <$Ex/zip> ) ;
         |                sh:minCount 1 ; sh:minInclusive 1000 ] .
         |""".stripMargin)
    val r = rows(report)
    // p1 reaches a zip but fails the range; p2's chain breaks at zip and
    // p3 has no addr at all — both minCount violations
    assert(r == Set(
      (s"$Ex/p1", s"$Ex/addr/$Ex/zip", "sh:MinInclusiveConstraintComponent", "999"),
      (s"$Ex/p2", s"$Ex/addr/$Ex/zip", "sh:MinCountConstraintComponent", null),
      (s"$Ex/p3", s"$Ex/addr/$Ex/zip", "sh:MinCountConstraintComponent", null)))
  }

  test("sh:deactivated true skips the whole shape") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:deactivated true ;
         |  sh:property [ sh:path <$Ex/must> ; sh:minCount 1 ] .
         |""".stripMargin)
    assert(report.isEmpty)
  }

  test("node-level sh:nodeKind disjunctive kinds: sh:IRIOrLiteral accepts " +
      "IRI and literal focus nodes, flags blanks; sh:BlankNodeOrLiteral " +
      "the mirror; unknown kind IRIs throw instead of all-violating") {
    // targetObjectsOf feeds all three term kinds as focus nodes
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/ref", RdfTerm.iri(s"$Ex/x")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/ref", RdfTerm.str("lit")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/ref", RdfTerm.blank("_:b0")))
    def reportFor(kind: String) = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetObjectsOf <$Ex/ref> ;
         |  sh:nodeKind sh:$kind .
         |""".stripMargin)
    assert(reportFor("IRIOrLiteral").select("focus").collect()
      .map(_.getString(0)).toSet == Set("_:b0"))
    assert(reportFor("BlankNodeOrLiteral").select("focus").collect()
      .map(_.getString(0)).toSet == Set(s"$Ex/x"))
    val e = intercept[IllegalArgumentException] {
      Shacl.validateTtl(data,
        s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
           |<$Ex/S> a sh:NodeShape ; sh:targetObjectsOf <$Ex/ref> ;
           |  sh:nodeKind sh:Banana .
           |""".stripMargin).collect()
    }
    assert(e.getMessage.contains("nodeKind"))
  }

  test("sh:targetObjectsOf literal focus nodes: a literal focus with a " +
      "property minCount >= 1 is a violation (literals have no outgoing " +
      "arcs), and it never lexically collides with a same-spelled IRI") {
    val data = quads(
      // literal object "urn:ex/x" spells the same as the IRI <urn:ex/x>
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/ref", RdfTerm.str(s"$Ex/x")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/ref", RdfTerm.iri(s"$Ex/x")),
      Quad(Rdf.DefaultGraph, s"$Ex/x", s"$Ex/name", RdfTerm.str("ok")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetObjectsOf <$Ex/ref> ;
         |  sh:property [ sh:path <$Ex/name> ; sh:minCount 1 ] .
         |""".stripMargin)
    // the IRI focus has a name; the literal focus (same spelling) does not
    assert(rows(report) == Set(
      (s"$Ex/x", s"$Ex/name", "sh:MinCountConstraintComponent", null)))
  }

  test("sh:equals flags the symmetric difference; sh:disjoint the shared " +
      "values — both by FULL term equality per focus") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/name", RdfTerm.str("x")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/name", RdfTerm.str("y")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/alias", RdfTerm.str("y")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/alias", RdfTerm.str("z")),
      // lang-tagged "y" is a DIFFERENT term from plain "y"
      Quad(Rdf.DefaultGraph, s"$Ex/b", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/name", RdfTerm.str("y")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/alias", RdfTerm.lang("y", "en")))
    val eqReport = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/name> ; sh:equals <$Ex/alias> ] .
         |""".stripMargin)
    assert(rows(eqReport) == Set(
      (s"$Ex/a", s"$Ex/name", "sh:EqualsConstraintComponent", "x"),
      (s"$Ex/a", s"$Ex/name", "sh:EqualsConstraintComponent", "z"),
      (s"$Ex/b", s"$Ex/name", "sh:EqualsConstraintComponent", "y"),
      (s"$Ex/b", s"$Ex/name", "sh:EqualsConstraintComponent", "y")))
    val disjReport = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/name> ; sh:disjoint <$Ex/alias> ] .
         |""".stripMargin)
    // only a's plain "y" is shared; b's lang-tagged alias differs as a term
    assert(rows(disjReport) == Set(
      (s"$Ex/a", s"$Ex/name", "sh:DisjointConstraintComponent", "y")))
  }

  test("sh:lessThan / sh:lessThanOrEquals compare every value pair; " +
      "non-comparable pairs violate") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/ok", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/ok", s"$Ex/lo", RdfTerm.int(1)),
      Quad(Rdf.DefaultGraph, s"$Ex/ok", s"$Ex/hi", RdfTerm.int(9)),
      Quad(Rdf.DefaultGraph, s"$Ex/bad", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/bad", s"$Ex/lo", RdfTerm.int(5)),
      Quad(Rdf.DefaultGraph, s"$Ex/bad", s"$Ex/hi", RdfTerm.int(3)),
      Quad(Rdf.DefaultGraph, s"$Ex/eq", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/eq", s"$Ex/lo", RdfTerm.int(4)),
      Quad(Rdf.DefaultGraph, s"$Ex/eq", s"$Ex/hi", RdfTerm.int(4)),
      Quad(Rdf.DefaultGraph, s"$Ex/nc", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/nc", s"$Ex/lo", RdfTerm.str("abc")),
      Quad(Rdf.DefaultGraph, s"$Ex/nc", s"$Ex/hi", RdfTerm.int(3)))
    val lt = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/lo> ; sh:lessThan <$Ex/hi> ] .
         |""".stripMargin)
    // equal values fail strict lessThan; string-vs-int is non-comparable
    assert(rows(lt) == Set(
      (s"$Ex/bad", s"$Ex/lo", "sh:LessThanConstraintComponent", "5"),
      (s"$Ex/eq", s"$Ex/lo", "sh:LessThanConstraintComponent", "4"),
      (s"$Ex/nc", s"$Ex/lo", "sh:LessThanConstraintComponent", "abc")))
    val le = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/lo> ; sh:lessThanOrEquals <$Ex/hi> ] .
         |""".stripMargin)
    assert(rows(le) == Set(
      (s"$Ex/bad", s"$Ex/lo", "sh:LessThanOrEqualsConstraintComponent", "5"),
      (s"$Ex/nc", s"$Ex/lo", "sh:LessThanOrEqualsConstraintComponent", "abc")))
  }

  test("sh:qualifiedValueShape counts qualifying values per focus; a count " +
      "without the shape (or vice versa) is a parse error") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.int(1)),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.int(5)),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.int(10)),
      Quad(Rdf.DefaultGraph, s"$Ex/b", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/v", RdfTerm.int(2)))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/v> ;
         |    sh:qualifiedValueShape [ sh:minInclusive 4 ] ;
         |    sh:qualifiedMinCount 1 ; sh:qualifiedMaxCount 1 ] .
         |""".stripMargin)
    // a has TWO qualifying values (5, 10) > max 1; b has ZERO < min 1
    assert(rows(report) == Set(
      (s"$Ex/a", s"$Ex/v", "sh:QualifiedMaxCountConstraintComponent", null),
      (s"$Ex/b", s"$Ex/v", "sh:QualifiedMinCountConstraintComponent", null)))
    val e1 = intercept[IllegalArgumentException] {
      Shacl.parseShapes(graft.sources.TurtleReader.parse(
        s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
           |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
           |  sh:property [ sh:path <$Ex/v> ;
           |    sh:qualifiedValueShape [ sh:minInclusive 4 ] ] .
           |""".stripMargin))
    }
    assert(e1.getMessage.contains("qualifiedMinCount"))
    val e2 = intercept[IllegalArgumentException] {
      Shacl.parseShapes(graft.sources.TurtleReader.parse(
        s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
           |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
           |  sh:property [ sh:path <$Ex/v> ; sh:qualifiedMinCount 1 ] .
           |""".stripMargin))
    }
    assert(e2.getMessage.contains("qualifiedValueShape"))
  }

  test("sh:sparql on a PROPERTY shape: $PATH substitutes the path text and " +
      "the result carries the property's path and severity") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/bal", RdfTerm.int(-7)),
      Quad(Rdf.DefaultGraph, s"$Ex/b", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/bal", RdfTerm.int(3)))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/bal> ;
         |    sh:message "neg" ;
         |    sh:sparql [ sh:select "SELECT ${"$"}this ?value WHERE { ${"$"}this ${"$"}PATH ?value . FILTER(?value < 0) }" ] ] .
         |""".stripMargin)
    assert(rows(report) == Set(
      (s"$Ex/a", s"$Ex/bal", "sh:SPARQLConstraintComponent", "-7")))
  }

  test("SHACL-SPARQL custom constraint components: parameter values " +
      "substitute into ASK (FILTER-only) and SELECT validators; the " +
      "report carries the component IRI; bad bodies error") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/score", RdfTerm.int(30)),
      Quad(Rdf.DefaultGraph, s"$Ex/b", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/score", RdfTerm.int(80)),
      Quad(Rdf.DefaultGraph, s"$Ex/c", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/c", s"$Ex/score", RdfTerm.str("high")))
    val askShapes =
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/MinScoreComponent> a sh:ConstraintComponent ;
         |  sh:parameter [ sh:path <$Ex/minScore> ] ;
         |  sh:message "score below threshold" ;
         |  sh:validator [ sh:ask "ASK { FILTER($$value >= $$minScore) }" ] .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/score> ; <$Ex/minScore> 50 ] .
         |""".stripMargin
    val report = Shacl.validateTtl(data, askShapes)
    // 30 < 50 violates; the non-numeric score is a FILTER error -> false
    assert(rows(report) == Set(
      (s"$Ex/a", s"$Ex/score", s"$Ex/MinScoreComponent", "30"),
      (s"$Ex/c", s"$Ex/score", s"$Ex/MinScoreComponent", "high")))
    assert(report.select("message").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("score below threshold"))
    // SELECT validator: $PATH + $this machinery, component IRI reported
    val selShapes =
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/MaxScoreComponent> a sh:ConstraintComponent ;
         |  sh:parameter [ sh:path <$Ex/maxScore> ] ;
         |  sh:propertyValidator [ sh:select "SELECT $$this ?value WHERE { $$this $$PATH ?value . FILTER(?value > $$maxScore) }" ] .
         |<$Ex/S2> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/score> ; <$Ex/maxScore> 50 ] .
         |""".stripMargin
    assert(rows(Shacl.validateTtl(data, selShapes)) == Set(
      (s"$Ex/b", s"$Ex/score", s"$Ex/MaxScoreComponent", "80")))
    // a triple-pattern ASK body evaluates SET-BASED (late r12): no focus
    // has an <urn:ex/other> edge, so every value of every focus violates
    val patternReport = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/BadC> a sh:ConstraintComponent ;
         |  sh:parameter [ sh:path <$Ex/p1> ] ;
         |  sh:validator [ sh:ask "ASK { $$this <$Ex/other> $$p1 }" ] .
         |<$Ex/S3> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/score> ; <$Ex/p1> 1 ] .
         |""".stripMargin)
    assert(patternReport.select("focus").collect()
      .map(_.getString(0)).toSet == Set(s"$Ex/a", s"$Ex/b", s"$Ex/c"))
    // the custom ASK predicate is row-level: the streaming validator
    // accepts it and agrees with the batch verdicts
    val rv = Shacl.rowValidator(Shacl.parseShapes(
      graft.sources.TurtleReader.parse(
        s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
           |<$Ex/MinScoreComponent> a sh:ConstraintComponent ;
           |  sh:parameter [ sh:path <$Ex/minScore> ] ;
           |  sh:validator [ sh:ask "ASK { FILTER($$value >= $$minScore) }" ] .
           |<$Ex/S> a sh:NodeShape ; sh:targetSubjectsOf <$Ex/score> ;
           |  sh:property [ sh:path <$Ex/score> ; <$Ex/minScore> 50 ] .
           |""".stripMargin)))
    val got = rv(data).select("s", "component").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set((s"$Ex/a", s"$Ex/MinScoreComponent"),
      (s"$Ex/c", s"$Ex/MinScoreComponent")))
  }

  test("custom-component parameter values containing quotes/backslashes " +
      "escape into the validator query instead of malforming it (r12 " +
      "ADVICE: injection via the literal lexical form)") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/tag",
        RdfTerm.str("say \"hi\" \\ now")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/tag", RdfTerm.str("fine")))
    val shapes =
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/NotEqComponent> a sh:ConstraintComponent ;
         |  sh:parameter [ sh:path <$Ex/forbidden> ] ;
         |  sh:validator [ sh:ask "ASK { FILTER($$value != $$forbidden) }" ] .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/tag> ;
         |    <$Ex/forbidden> "say \\"hi\\" \\\\ now" ] .
         |""".stripMargin
    val report = Shacl.validateTtl(data, shapes)
    assert(rows(report) == Set(
      (s"$Ex/a", s"$Ex/tag", s"$Ex/NotEqComponent", "say \"hi\" \\ now")))
  }

  test("custom ASK validators with TRIPLE-PATTERN bodies evaluate " +
      "set-based: $this/$value/$PATH pre-bind, conformance = a matching " +
      "solution exists") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/team", RdfTerm.iri(s"$Ex/t1")),
      Quad(Rdf.DefaultGraph, s"$Ex/t1", s"$Ex/approved", RdfTerm.iri(s"$Ex/a")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/team", RdfTerm.iri(s"$Ex/t2")))
    // conforming = the assigned team APPROVES the member back ($value =
    // the team, $this = the member)
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/ApprovedBy> a sh:ConstraintComponent ;
         |  sh:parameter [ sh:path <$Ex/mustApprove> ] ;
         |  sh:message "team did not approve member" ;
         |  sh:validator [
         |    sh:ask "ASK { $$value $$mustApprove $$this }" ] .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/team> ;
         |    <$Ex/mustApprove> <$Ex/approved> ] .
         |""".stripMargin)
    assert(rows(report) == Set(
      (s"$Ex/b", s"$Ex/team", s"$Ex/ApprovedBy", s"$Ex/t2")))
    // a $this-only pattern body: every value of a focus violates when the
    // focus lacks the side condition
    val report2 = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/HasSelfTeam> a sh:ConstraintComponent ;
         |  sh:parameter [ sh:path <$Ex/via> ] ;
         |  sh:validator [ sh:ask "ASK { ?t $$via $$this }" ] .
         |<$Ex/S2> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/team> ; <$Ex/via> <$Ex/approved> ] .
         |""".stripMargin)
    // a is approved by someone; b is not -> b's team value flags
    assert(rows(report2) == Set(
      (s"$Ex/b", s"$Ex/team", s"$Ex/HasSelfTeam", s"$Ex/t2")))
    // pattern bodies must reference $this
    val e = intercept[IllegalArgumentException] {
      Shacl.validateTtl(data,
        s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
           |<$Ex/Bad> a sh:ConstraintComponent ;
           |  sh:parameter [ sh:path <$Ex/via> ] ;
           |  sh:validator [ sh:ask "ASK { ?x $$via ?y }" ] .
           |<$Ex/S3> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
           |  sh:property [ sh:path <$Ex/team> ; <$Ex/via> <$Ex/approved> ] .
           |""".stripMargin).collect()
    }
    assert(e.getMessage.contains("$this"))
  }

  test("sh:alternativePath unions the alternatives in one scan; " +
      "closure paths evaluate through the engine's path machinery") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/name", RdfTerm.str("Anna")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/alias", RdfTerm.str("ann")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/alias", RdfTerm.str("bee")))
    // alternative: values of name OR alias; pattern demands capitalized
    val altReport = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [
         |    sh:path [ sh:alternativePath ( <$Ex/name> <$Ex/alias> ) ] ;
         |    sh:pattern "^[A-Z]" ; sh:minCount 2 ] .
         |""".stripMargin)
    assert(rows(altReport) == Set(
      (s"$Ex/a", s"$Ex/name|$Ex/alias", "sh:PatternConstraintComponent", "ann"),
      (s"$Ex/b", s"$Ex/name|$Ex/alias", "sh:PatternConstraintComponent", "bee"),
      (s"$Ex/b", s"$Ex/name|$Ex/alias", "sh:MinCountConstraintComponent", null)))
    // oneOrMore: a manager chain — every node reachable by boss+ must not
    // be <urn:ex/evil>; zeroOrMore additionally sees the focus itself
    val chain = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/w", Rdf.RdfType, RdfTerm.iri(s"$Ex/E")),
      Quad(Rdf.DefaultGraph, s"$Ex/w", s"$Ex/boss", RdfTerm.iri(s"$Ex/m")),
      Quad(Rdf.DefaultGraph, s"$Ex/m", s"$Ex/boss", RdfTerm.iri(s"$Ex/evil")))
    val plusReport = Shacl.validateTtl(chain,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/E> ;
         |  sh:property [ sh:path [ sh:oneOrMorePath <$Ex/boss> ] ;
         |    sh:not [ sh:in ( <$Ex/evil> ) ] ] .
         |""".stripMargin)
    // boss+ from w reaches m and evil — only evil violates the sh:not
    assert(rows(plusReport) == Set(
      (s"$Ex/w", s"$Ex/boss+", "sh:NotConstraintComponent", s"$Ex/evil")))
    // zeroOrOne: the focus node itself joins the value set
    val zooReport = Shacl.validateTtl(chain,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/E> ;
         |  sh:property [ sh:path [ sh:zeroOrOnePath <$Ex/boss> ] ;
         |    sh:datatype <http://www.w3.org/2001/XMLSchema#string> ] .
         |""".stripMargin)
    // both the focus IRI (zero-length) and its boss IRI fail xsd:string
    assert(rows(zooReport) == Set(
      (s"$Ex/w", s"$Ex/boss?", "sh:DatatypeConstraintComponent", s"$Ex/w"),
      (s"$Ex/w", s"$Ex/boss?", "sh:DatatypeConstraintComponent", s"$Ex/m")))
  }

  test("the report is an exact multiset of rows: a value failing two " +
      "components, one triple in two graphs, a literal focus under " +
      "minCount, hasValue and qualified counts") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/v", RdfTerm.str("TooLong1")),
      Quad(s"$Ex/g1", s"$Ex/a", s"$Ex/v", RdfTerm.str("TooLong1")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/t", RdfTerm.int(7)),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/t", RdfTerm.str("y")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/v", RdfTerm.str("ok")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/t", RdfTerm.str("x")),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/t", RdfTerm.int(1)),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/t", RdfTerm.int(2)),
      Quad(Rdf.DefaultGraph, s"$Ex/b", s"$Ex/name", RdfTerm.str("B")),
      Quad(Rdf.DefaultGraph, s"$Ex/c", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      // the same spelling as an IRI focus and as a literal focus
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/ref", RdfTerm.iri(s"$Ex/b")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/ref", RdfTerm.str(s"$Ex/b")))
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
         |<$Ex/S1> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/v> ; sh:pattern "^[a-z]+$$" ;
         |                sh:maxLength 5 ; sh:maxCount 1 ] ;
         |  sh:property [ sh:path <$Ex/t> ; sh:hasValue "x" ;
         |                sh:qualifiedValueShape [ sh:datatype xsd:integer ] ;
         |                sh:qualifiedMinCount 2 ; sh:message "x and two ints" ] .
         |<$Ex/S2> a sh:NodeShape ; sh:targetObjectsOf <$Ex/ref> ;
         |  sh:nodeKind sh:IRI ;
         |  sh:property [ sh:path <$Ex/name> ; sh:minCount 1 ;
         |                sh:severity sh:Warning ] .
         |""".stripMargin)
    val bag = report.select("focus", "result_path", "component", "value",
        "severity", "message").collect().toSeq
      .map(r => (0 until 6).map(r.getString): Seq[String]).groupBy(identity)
      .map { case (k, v) => k -> v.size }
    val (a, b, c) = (s"$Ex/a", s"$Ex/b", s"$Ex/c")
    def comp(n: String) = s"sh:${n}ConstraintComponent"
    val msg = "x and two ints"
    assert(bag == Map(
      Seq(a, s"$Ex/v", comp("Pattern"), "TooLong1", "sh:Violation", null) -> 2,
      Seq(a, s"$Ex/v", comp("MaxLength"), "TooLong1", "sh:Violation", null) -> 2,
      Seq(a, s"$Ex/v", comp("MaxCount"), null, "sh:Violation", null) -> 1,
      Seq(a, s"$Ex/t", comp("HasValue"), null, "sh:Violation", msg) -> 1,
      Seq(a, s"$Ex/t", comp("QualifiedMinCount"), null, "sh:Violation", msg) -> 1,
      Seq(c, s"$Ex/t", comp("HasValue"), null, "sh:Violation", msg) -> 1,
      Seq(c, s"$Ex/t", comp("QualifiedMinCount"), null, "sh:Violation", msg) -> 1,
      Seq(b, null, comp("NodeKind"), b, "sh:Violation", null) -> 1,
      Seq(b, s"$Ex/name", comp("MinCount"), null, "sh:Warning", null) -> 1))
  }

  test("a node shape reads its simple paths in one scan per pass and " +
      "shuffles only for its counts (the perfbench facility shape)") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      EqualTo, In, InSet, Literal}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
      ShuffleExchangeLike}
    val (fac, lat, lon, name) = (s"$Ex/Facility", s"$Ex/latitude",
      s"$Ex/longitude", s"$Ex/name")
    def f(i: Int, la: Double, lo: Double, names: String*) = Seq(
      Quad(Rdf.DefaultGraph, s"$Ex/f$i", Rdf.RdfType, RdfTerm.iri(fac)),
      Quad(Rdf.DefaultGraph, s"$Ex/f$i", lat, RdfTerm.dbl(la)),
      Quad(Rdf.DefaultGraph, s"$Ex/f$i", lon, RdfTerm.dbl(lo))) ++
      names.map(n => Quad(Rdf.DefaultGraph, s"$Ex/f$i", name, RdfTerm.str(n)))
    val dir = java.nio.file.Files.createTempDirectory("graft_shacl_plan").resolve("q")
    quads(f(1, 10, 20, "A") ++ f(2, 95, 20, "B", "B2") ++
      f(3, -10, 200): _*).repartition(2).write.parquet(dir.toString)
    val data = spark.read.parquet(dir.toString)
    val report = Shacl.validateTtl(data,
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/FacilityShape> a sh:NodeShape ; sh:targetClass <$fac> ;
         |  sh:property [ sh:path <$lat> ; sh:minInclusive -90 ;
         |                sh:maxInclusive 90 ] ;
         |  sh:property [ sh:path <$lon> ; sh:minInclusive -180 ;
         |                sh:maxInclusive 180 ] ;
         |  sh:property [ sh:path <$name> ; sh:maxCount 1 ] .
         |""".stripMargin)
    assert(rows(report) == Set(
      (s"$Ex/f2", lat, "sh:MaxInclusiveConstraintComponent", "95.0"),
      (s"$Ex/f2", name, "sh:MaxCountConstraintComponent", null),
      (s"$Ex/f3", lon, "sh:MaxInclusiveConstraintComponent", "200.0")))
    report.collect()
    // the final adaptive plan, reused stages counted once
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => Seq(r)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    val plan = nodes(report.queryExecution.executedPlan)
    // predicates each scan reads: its `p = …` / `p IN (…)` data filters
    val scans = plan.collect { case s: FileSourceScanExec =>
      s.dataFilters.flatMap(_.collect {
        case In(a: AttributeReference, l) if a.name == "p" =>
          l.collect { case Literal(v, _) => v.toString }
        case InSet(a: AttributeReference, l) if a.name == "p" =>
          l.map(_.toString)
        case EqualTo(a: AttributeReference, Literal(v, _)) if a.name == "p" =>
          Seq(v.toString)
      }.flatten).toSet
    }
    Seq(lat, lon, name).foreach(p =>
      assert(scans.count(_.contains(p)) == 1, s"$p read by: $scans"))
    assert(scans.exists(s => s.contains(lat) && s.contains(lon)), scans)
    // one shuffle, the count aggregation: the focus joins are broadcast
    // semi-joins, which need no distinct focus set
    assert(plan.count(_.isInstanceOf[ShuffleExchangeLike]) == 1,
      report.queryExecution.executedPlan)
  }

  test("conforms: clean data yields an empty report") {
    val data = quads(
      Quad(Rdf.DefaultGraph, s"$Ex/a", Rdf.RdfType, RdfTerm.iri(s"$Ex/C")),
      Quad(Rdf.DefaultGraph, s"$Ex/a", s"$Ex/name", RdfTerm.str("fine")))
    val shapes = Shacl.parseShapes(graft.sources.TurtleReader.parse(
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |<$Ex/S> a sh:NodeShape ; sh:targetClass <$Ex/C> ;
         |  sh:property [ sh:path <$Ex/name> ; sh:minCount 1 ; sh:maxCount 1 ] .
         |""".stripMargin))
    assert(Shacl.conforms(data, shapes))
  }
}
