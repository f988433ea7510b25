package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{GraphCatalog, TrigReader, TurtleReader}

/** SPARQL 1.1 conformance subset — hand-authored from the W3C SPARQL 1.1
  * Query spec (15 March 2013), mirroring the shapes of the public
  * `rdf-tests` manifests for the implemented surface (this container has no
  * network, so the cases are transcribed from the specification's own
  * normative examples and definitions rather than vendored files; each test
  * cites its spec section).
  *
  * Structure: each case = inline Turtle data + query text + expected
  * solutions hand-derived from the spec. Results compare on the lexical
  * `value` (None = unbound) so term kinds flow through the full engine
  * path: parser → algebra → Catalyst plan → collect.
  */
class W3cConformanceSpec extends AnyFunSuite with ShapeParity {
  import TestSpark.spark

  private def engine(ttl: String): Engine = {
    import spark.implicits._
    val cat = new GraphCatalog(spark)
    cat.addQuads(TurtleReader.parse(ttl).toDS().toDF())
    new Engine(cat)
  }

  /** Solution MULTISET over `vars` as lexical values (None = unbound). */
  private def rows(eng: Engine, q: String,
      vars: Seq[String]): Seq[Vector[Option[String]]] =
    eng.select(q).collect().toSeq.map { r =>
      vars.map { v =>
        val i = r.fieldIndex(v)
        if (r.isNullAt(i)) None else Some(r.getStruct(i).getString(1))
      }.toVector
    }.sortBy(_.map(_.getOrElse("")).mkString("\u0000"))

  private def sorted(xs: Seq[Vector[Option[String]]]) =
    xs.sortBy(_.map(_.getOrElse("")).mkString("\u0000"))

  private val books =
    """@prefix dc: <http://purl.org/dc/elements/1.1/> .
      |@prefix ns: <http://example.org/ns#> .
      |@prefix ex: <http://example.org/book/> .
      |ex:book1 dc:title "SPARQL Tutorial" ; ns:price 42 .
      |ex:book2 dc:title "The Semantic Web" ; ns:price 23 .
      |ex:book3 dc:title "Third Book" .""".stripMargin

  // ---- §5 basic graph patterns, §6 OPTIONAL ----

  test("§5.2 BGP join on shared variable") {
    val got = rows(engine(books),
      """PREFIX dc: <http://purl.org/dc/elements/1.1/>
        |PREFIX ns: <http://example.org/ns#>
        |SELECT ?t ?p WHERE { ?b dc:title ?t . ?b ns:price ?p }""".stripMargin,
      Seq("t", "p"))
    assert(got == sorted(Seq(
      Vector(Some("SPARQL Tutorial"), Some("42")),
      Vector(Some("The Semantic Web"), Some("23")))))
  }

  test("§6.1 OPTIONAL keeps solutions with no match, var unbound") {
    val got = rows(engine(books),
      """PREFIX dc: <http://purl.org/dc/elements/1.1/>
        |PREFIX ns: <http://example.org/ns#>
        |SELECT ?t ?p WHERE { ?b dc:title ?t OPTIONAL { ?b ns:price ?p } }""".stripMargin,
      Seq("t", "p"))
    assert(got == sorted(Seq(
      Vector(Some("SPARQL Tutorial"), Some("42")),
      Vector(Some("The Semantic Web"), Some("23")),
      Vector(Some("Third Book"), None))))
  }

  test("§6.3 OPTIONAL with FILTER inside constrains the join, not the row") {
    val got = rows(engine(books),
      """PREFIX dc: <http://purl.org/dc/elements/1.1/>
        |PREFIX ns: <http://example.org/ns#>
        |SELECT ?t ?p WHERE {
        |  ?b dc:title ?t OPTIONAL { ?b ns:price ?p FILTER(?p < 30) }
        |}""".stripMargin, Seq("t", "p"))
    assert(got == sorted(Seq(
      Vector(Some("SPARQL Tutorial"), None), // 42 fails the filter → unbound
      Vector(Some("The Semantic Web"), Some("23")),
      Vector(Some("Third Book"), None))))
  }

  // ---- §7 UNION, §8 negation ----

  test("§7 UNION combines alternatives (null-padding disjoint vars)") {
    val got = rows(engine(books),
      """PREFIX dc: <http://purl.org/dc/elements/1.1/>
        |PREFIX ns: <http://example.org/ns#>
        |SELECT ?t ?p WHERE {
        |  { ?b dc:title ?t } UNION { ?b ns:price ?p }
        |}""".stripMargin, Seq("t", "p"))
    assert(got.size == 5 && got.count(_(0).isDefined) == 3 &&
      got.count(_(1).isDefined) == 2)
  }

  test("§8.3.3 MINUS with disjoint domains removes nothing; " +
    "NOT EXISTS removes everything") {
    val eng = engine("@prefix : <http://example/> .\n:a :b :c .")
    val minus = rows(eng,
      "SELECT ?s ?p ?o WHERE { ?s ?p ?o MINUS { ?x ?y ?z } }",
      Seq("s", "p", "o"))
    assert(minus == Seq(Vector(Some("http://example/a"),
      Some("http://example/b"), Some("http://example/c"))))
    val notEx = rows(eng,
      "SELECT ?s ?p ?o WHERE { ?s ?p ?o FILTER NOT EXISTS { ?x ?y ?z } }",
      Seq("s", "p", "o"))
    assert(notEx.isEmpty)
  }

  test("§8.1.1 FILTER NOT EXISTS with a correlated pattern") {
    val eng = engine(
      """@prefix : <http://example/> .
        |@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
        |@prefix foaf: <http://xmlns.com/foaf/0.1/> .
        |:alice rdf:type foaf:Person ; foaf:name "Alice" .
        |:bob rdf:type foaf:Person .""".stripMargin)
    val got = rows(eng,
      """PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        |PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |SELECT ?person WHERE {
        |  ?person rdf:type foaf:Person .
        |  FILTER NOT EXISTS { ?person foaf:name ?name }
        |}""".stripMargin, Seq("person"))
    assert(got == Seq(Vector(Some("http://example/bob"))))
  }

  // ---- §10 assignment, VALUES ----

  test("§10.1 BIND computes a projected expression per solution") {
    val eng = engine(
      """@prefix : <http://example.org/> .
        |:b1 :cost 42 ; :discount 0.25 .
        |:b2 :cost 20 ; :discount 0.5 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example.org/>
        |SELECT ?price WHERE {
        |  ?x :cost ?c ; :discount ?d .
        |  BIND(?c * (1 - ?d) AS ?price)
        |}""".stripMargin, Seq("price"))
    // discounts are FP-exact (.25/.5) so the products are exact doubles
    assert(got.flatMap(_(0)).map(_.toDouble).sorted == Seq(10.0, 31.5))
  }

  test("§10.2 VALUES with UNDEF joins as unconstrained") {
    val got = rows(engine(books),
      """PREFIX dc: <http://purl.org/dc/elements/1.1/>
        |PREFIX ex: <http://example.org/book/>
        |SELECT ?b ?t WHERE {
        |  ?b dc:title ?t .
        |  VALUES (?b ?t) {
        |    (<http://example.org/book/book1> UNDEF)
        |    (UNDEF "Third Book")
        |  }
        |}""".stripMargin, Seq("b", "t"))
    assert(got == sorted(Seq(
      Vector(Some("http://example.org/book/book1"), Some("SPARQL Tutorial")),
      Vector(Some("http://example.org/book/book3"), Some("Third Book")))))
  }

  // ---- §9 property paths ----

  private val knows =
    """@prefix : <http://example/> .
      |@prefix foaf: <http://xmlns.com/foaf/0.1/> .
      |:a foaf:knows :b . :b foaf:knows :c .""".stripMargin

  test("§9.2 path + is one-or-more, * adds the zero-length identity") {
    val plus = rows(engine(knows),
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |PREFIX : <http://example/>
        |SELECT ?y WHERE { :a foaf:knows+ ?y }""".stripMargin, Seq("y"))
    assert(plus == Seq(Vector(Some("http://example/b")),
      Vector(Some("http://example/c"))))
    val star = rows(engine(knows),
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |PREFIX : <http://example/>
        |SELECT ?y WHERE { :a foaf:knows* ?y }""".stripMargin, Seq("y"))
    assert(star == Seq(Vector(Some("http://example/a")),
      Vector(Some("http://example/b")), Vector(Some("http://example/c"))))
  }

  test("§9.2 inverse path ^ swaps subject and object") {
    val got = rows(engine(knows),
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |PREFIX : <http://example/>
        |SELECT ?x WHERE { :b ^foaf:knows ?x }""".stripMargin, Seq("x"))
    assert(got == Seq(Vector(Some("http://example/a"))))
  }

  test("§9.2 sequence path / composes steps") {
    val got = rows(engine(knows),
      """PREFIX foaf: <http://xmlns.com/foaf/0.1/>
        |PREFIX : <http://example/>
        |SELECT ?y WHERE { :a foaf:knows/foaf:knows ?y }""".stripMargin, Seq("y"))
    assert(got == Seq(Vector(Some("http://example/c"))))
  }

  test("§9.2 negated property set !(iri) matches other predicates only") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :p :b . :a :q :c .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?o WHERE { :a !(<http://example/p>) ?o }""".stripMargin, Seq("o"))
    assert(got == Seq(Vector(Some("http://example/c"))))
  }

  // ---- §11 aggregates ----

  test("§11.1 GROUP BY + SUM + HAVING") {
    val eng = engine(
      """@prefix : <http://books.example/> .
        |:org1 :affiliates :auth1, :auth2 .
        |:auth1 :writesBook :book1 . :book1 :price 9 .
        |:auth2 :writesBook :book3 . :book3 :price 7 .
        |:org2 :affiliates :auth3 .
        |:auth3 :writesBook :book4 . :book4 :price 7 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://books.example/>
        |SELECT (SUM(?lprice) AS ?totalPrice) WHERE {
        |  ?org :affiliates ?auth .
        |  ?auth :writesBook ?book .
        |  ?book :price ?lprice .
        |} GROUP BY ?org HAVING (SUM(?lprice) > 10)""".stripMargin,
      Seq("totalPrice"))
    assert(got.flatMap(_(0)).map(_.toDouble) == Seq(16.0))
  }

  test("§18.2.4 COUNT(DISTINCT ?v) vs COUNT(?v)") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :p 1 . :b :p 1 . :c :p 2 .""".stripMargin)
    val q = (agg: String) =>
      s"""PREFIX : <http://example/>
         |SELECT ($agg AS ?n) WHERE { ?s :p ?v }""".stripMargin
    assert(rows(engine("@prefix : <http://example/> .\n:a :p 1 . :b :p 1 . :c :p 2 ."),
      q("COUNT(?v)"), Seq("n")).flatMap(_(0)).map(_.toDouble) == Seq(3.0))
    assert(rows(eng, q("COUNT(DISTINCT ?v)"), Seq("n"))
      .flatMap(_(0)).map(_.toDouble) == Seq(2.0))
  }

  // ---- §17 expressions and builtins ----

  test("§17.2.2 effective boolean value: empty string false, '0' (plain) " +
    "true, numeric 0 false, boolean literal by value") {
    val eng = engine(
      """@prefix : <http://example/> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |:e :v "" . :s :v "x" . :z :v 0 . :o :v 1 .
        |:p :v "0" . :f :v "false"^^xsd:boolean .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?x FILTER(?x) }""".stripMargin, Seq("s"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/s")),  // "x" non-empty
      Vector(Some("http://example/o")),  // 1 != 0
      Vector(Some("http://example/p"))))) // "0" plain literal, non-empty
  }

  test("§17.4.1.7 RDFterm-equal: numeric by value; '42'='42'^^xsd:string; " +
    "type-incompatible comparison is an error (row dropped)") {
    val eng = engine(
      """@prefix : <http://example/> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |:i :v 42 . :d :v 42.0 . :s :v "42" . :t :v "42"^^xsd:string .""".stripMargin)
    // numeric promotion: 42 = 42.0
    val nums = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?x FILTER(?x = 42.0) }""".stripMargin, Seq("s"))
    assert(nums == sorted(Seq(Vector(Some("http://example/i")),
      Vector(Some("http://example/d")))))
    // RDF 1.1: a plain literal IS xsd:string — both string rows match
    val strs = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?x FILTER(?x = "42") }""".stripMargin, Seq("s"))
    assert(strs == sorted(Seq(Vector(Some("http://example/s")),
      Vector(Some("http://example/t")))))
  }

  test("§17.4.1.8 sameTerm is spelling-exact where = is value-based") {
    val eng = engine(
      """@prefix : <http://example/> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |:a :v "02"^^xsd:integer . :b :v "2"^^xsd:integer .""".stripMargin)
    val eq = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?x FILTER(?x = 2) }""".stripMargin, Seq("s"))
    assert(eq.size == 2) // numeric value equality
    val st = rows(eng,
      """PREFIX : <http://example/>
        |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?s WHERE { ?s :v ?x FILTER(sameTerm(?x, "2"^^xsd:integer)) }"""
        .stripMargin, Seq("s"))
    assert(st == Seq(Vector(Some("http://example/b")))) // lexical "02" differs
  }

  test("§17.4.3 string functions: SUBSTR 1-based, STRBEFORE/'' rules, " +
    "STRAFTER with empty separator") {
    val eng = engine("""@prefix : <http://example/> .
      |:x :v "abc" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?sub ?bef ?befNone ?aft ?aftEmpty WHERE {
        |  ?s :v ?x .
        |  BIND(SUBSTR(?x, 2) AS ?sub)
        |  BIND(STRBEFORE(?x, "b") AS ?bef)
        |  BIND(STRBEFORE(?x, "xyz") AS ?befNone)
        |  BIND(STRAFTER(?x, "b") AS ?aft)
        |  BIND(STRAFTER(?x, "") AS ?aftEmpty)
        |}""".stripMargin, Seq("sub", "bef", "befNone", "aft", "aftEmpty"))
    assert(got == Seq(Vector(Some("bc"), Some("a"), Some(""), Some("c"),
      Some("abc"))))
  }

  test("§17.4.1.2 IF: error condition is an error (unbound), " +
    "not the else branch") {
    val eng = engine("""@prefix : <http://example/> .
      |:x :v :iri .""".stripMargin)
    // EBV of an IRI is a type error → IF errors → ?r unbound
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?r WHERE { ?s :v ?x BIND(IF(?x, "then", "else") AS ?r) }"""
        .stripMargin, Seq("r"))
    assert(got == Seq(Vector(None)))
  }

  test("§17.4.1.3 COALESCE skips unbound and errors") {
    val eng = engine("""@prefix : <http://example/> .
      |:x :v "val" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?r ?r2 WHERE {
        |  ?s :v ?x .
        |  BIND(COALESCE(?unbound, "default") AS ?r)
        |  BIND(COALESCE(?x, "default") AS ?r2)
        |}""".stripMargin, Seq("r", "r2"))
    assert(got == Seq(Vector(Some("default"), Some("val"))))
  }

  test("§17.4.2 term tests: isIRI / isLiteral / isBlank route kinds") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v :iri . :b :v "lit" . :c :v _:bn .""".stripMargin)
    def q(f: String) =
      s"""PREFIX : <http://example/>
         |SELECT ?s WHERE { ?s :v ?x FILTER($f(?x)) }""".stripMargin
    assert(rows(eng, q("isIRI"), Seq("s")) == Seq(Vector(Some("http://example/a"))))
    assert(rows(eng, q("isLiteral"), Seq("s")) == Seq(Vector(Some("http://example/b"))))
    assert(rows(eng, q("isBlank"), Seq("s")) == Seq(Vector(Some("http://example/c"))))
  }

  test("§17.4.3.14 REPLACE with regex and capture groups") {
    val eng = engine("""@prefix : <http://example/> .
      |:x :v "abcd" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?r WHERE { ?s :v ?x BIND(REPLACE(?x, "(b)c", "$1Z") AS ?r) }"""
        .stripMargin, Seq("r"))
    assert(got == Seq(Vector(Some("abZd"))))
  }

  test("§17.4.3.13 LANGMATCHES: exact, prefix, and '*' ranges") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v "x"@en . :b :v "x"@en-GB . :c :v "x"@fr . :d :v "x" ."""
        .stripMargin)
    def q(range: String) =
      s"""PREFIX : <http://example/>
         |SELECT ?s WHERE { ?s :v ?x FILTER(LANGMATCHES(LANG(?x), "$range")) }"""
        .stripMargin
    assert(rows(eng, q("en"), Seq("s")).size == 2)  // en + en-GB
    assert(rows(eng, q("*"), Seq("s")).size == 3)   // all tagged, not plain
    assert(rows(eng, q("fr"), Seq("s")) == Seq(Vector(Some("http://example/c"))))
  }

  // ---- §15 solution modifiers, §18.2 projection scope ----

  test("§15.1 ORDER BY term order: IRIs before literals, numerics by value") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v 10 . :b :v 2 . :c :v :iri .""".stripMargin)
    val df = eng.select(
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { ?s :v ?x } ORDER BY ?x""".stripMargin)
    val got = df.collect().map(r => r.getStruct(0).getString(1)).toSeq
    assert(got == Seq("http://example/iri", "2", "10"))
  }

  test("§15.3.1 DISTINCT eliminates duplicate solutions") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :p :x . :b :p :x .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT DISTINCT ?o WHERE { ?s :p ?o }""".stripMargin, Seq("o"))
    assert(got == Seq(Vector(Some("http://example/x"))))
  }

  test("§15.4/15.5 OFFSET + LIMIT slice an ordered solution sequence") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v 1 . :b :v 2 . :c :v 3 . :d :v 4 .""".stripMargin)
    val df = eng.select(
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { ?s :v ?x } ORDER BY ?x LIMIT 2 OFFSET 1""".stripMargin)
    assert(df.collect().map(_.getStruct(0).getString(1)).toSeq == Seq("2", "3"))
  }

  test("§18.2.4.4 subquery: only projected variables are visible outside") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :p 1 ; :q 9 . :b :p 2 ; :q 8 .""".stripMargin)
    val df = eng.select(
      """PREFIX : <http://example/>
        |SELECT ?s ?hidden WHERE {
        |  { SELECT ?s WHERE { ?s :p ?inner } }
        |  OPTIONAL { ?s :noSuch ?hidden }
        |}""".stripMargin)
    // ?inner must NOT leak; ?s joins fine
    assert(df.columns.toSet == Set("s", "hidden"))
    assert(df.count() == 2)
  }

  test("§17.4.3.1.2 string-argument compatibility: second arg with a " +
    "DIFFERENT lang tag is an error (unbound), same tag / plain works") {
    val eng = engine("""@prefix : <http://example/> .
      |:x :v "abc"@en .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?ok ?plain ?bad ?bef ?badBef WHERE {
        |  ?s :v ?x .
        |  BIND(STRSTARTS(?x, "ab"@en) AS ?ok)
        |  BIND(CONTAINS(?x, "b") AS ?plain)
        |  BIND(STRSTARTS(?x, "ab"@fr) AS ?bad)
        |  BIND(STRBEFORE(?x, "xyz") AS ?bef)
        |  BIND(STRAFTER(?x, "b"@fr) AS ?badBef)
        |}""".stripMargin, Seq("ok", "plain", "bad", "bef", "badBef"))
    assert(got == Seq(Vector(Some("true"), Some("true"), None, Some(""), None)))
  }

  test("§17.4.4.1 ABS/ROUND/CEIL/FLOOR: SPARQL ROUND is half-toward-+inf") {
    val eng = engine("""@prefix : <http://example/> .
      |:x :v 1 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?r1 ?r2 ?c ?f ?a WHERE {
        |  ?s :v ?x .
        |  BIND(ROUND(2.5) AS ?r1)
        |  BIND(ROUND(-2.5) AS ?r2)
        |  BIND(CEIL(-2.2) AS ?c)
        |  BIND(FLOOR(-2.2) AS ?f)
        |  BIND(ABS(-3) AS ?a)
        |}""".stripMargin, Seq("r1", "r2", "c", "f", "a"))
    assert(got.map(_.map(_.map(_.toDouble))) ==
      Seq(Vector(Some(3.0), Some(-2.0), Some(-2.0), Some(-3.0), Some(3.0))))
  }

  test("§17.3 operator < on plain literals is codepoint order, not numeric") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v "42" . :b :v "5" .""".stripMargin)
    // lexically "42" < "5"
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?x FILTER(?x < "5") }""".stripMargin, Seq("s"))
    assert(got == Seq(Vector(Some("http://example/a"))))
  }

  test("§17.4.1.5 IN / NOT IN over expression lists") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v 1 . :b :v 2 . :c :v 3 .""".stripMargin)
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?x FILTER(?x IN (1, 3)) }""".stripMargin,
      Seq("s")).size == 2)
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?x FILTER(?x NOT IN (1, 3)) }""".stripMargin,
      Seq("s")) == Seq(Vector(Some("http://example/b"))))
  }

  test("§9.1 path precedence: alternation binds looser than sequence") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :p :m . :a :q :m . :m :r :z . :a :r :w .""".stripMargin)
    // (:p|:q)/:r — both alternatives compose with :r
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?y WHERE { :a (:p|:q)/:r ?y }""".stripMargin, Seq("y"))
    assert(got.toSet == Set(Vector(Some("http://example/z"))))
  }

  test("§16.2 CONSTRUCT skips template triples with unbound variables") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :name "A" ; :mbox "ma" .
        |:b :name "B" .""".stripMargin)
    val quads = eng.construct(
      """PREFIX : <http://example/>
        |CONSTRUCT { ?x :nm ?n . ?x :mb ?m }
        |WHERE { ?x :name ?n OPTIONAL { ?x :mbox ?m } }""".stripMargin)
      .collect()
    // 2 name triples + only ONE mbox triple (b's ?m unbound → skipped)
    assert(quads.length == 3)
  }

  test("§11.4.5-6 GROUP_CONCAT with separator; SAMPLE yields a group member") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:g :m "x" . :g :m "y" .""".stripMargin)
    val gc = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (GROUP_CONCAT(?v; separator="|") AS ?all) WHERE { ?s :m ?v }"""
        .stripMargin, Seq("all"))
    assert(gc == Seq(Vector(Some("x|y")))) // deterministic sorted refinement
    val sm = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (SAMPLE(?v) AS ?one) WHERE { ?s :m ?v }""".stripMargin,
      Seq("one"))
    assert(Set("x", "y").contains(sm.head(0).get))
  }

  test("§17.4.3.14 REGEX flags: case-insensitive 'i'") {
    val eng = engine("""@prefix : <http://example/> .
      |:x :v "Hello" .""".stripMargin)
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?x FILTER(REGEX(?x, "^hel", "i")) }"""
        .stripMargin, Seq("s")).size == 1)
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?x FILTER(REGEX(?x, "^hel")) }"""
        .stripMargin, Seq("s")).isEmpty)
  }

  test("§8.3 ASK with FILTER: true when a solution passes, false when none") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v 10 . :b :v 2 .""".stripMargin)
    assert(eng.ask(
      """PREFIX : <http://example/>
        |ASK { ?s :v ?x FILTER(?x > 5) }""".stripMargin))
    assert(!eng.ask(
      """PREFIX : <http://example/>
        |ASK { ?s :v ?x FILTER(?x > 100) }""".stripMargin))
  }

  test("§6.2 nested OPTIONAL: inner unbound propagates, outer still joins") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :p :m . :m :q :n .
        |:b :p :o .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?n WHERE {
        |  ?s :p ?m OPTIONAL { ?m :q ?n }
        |}""".stripMargin, Seq("s", "n"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/a"), Some("http://example/n")),
      Vector(Some("http://example/b"), None))))
  }

  test("§10.2 VALUES as a standalone group joins like inline data") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v 1 . :b :v 2 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?label WHERE {
        |  ?s :v ?x .
        |  VALUES (?x ?label) { (1 "one") (3 "three") }
        |}""".stripMargin, Seq("s", "label"))
    assert(got == Seq(Vector(Some("http://example/a"), Some("one"))))
  }

  test("§17.4.2.7-8 STRDT / STRLANG construct typed and tagged literals") {
    val eng = engine("""@prefix : <http://example/> .
      |:x :v "123" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?dt ?lg ?isNum WHERE {
        |  ?s :v ?x .
        |  BIND(STRDT(?x, xsd:integer) AS ?t)
        |  BIND(DATATYPE(?t) AS ?dt)
        |  BIND(LANG(STRLANG(?x, "en")) AS ?lg)
        |  BIND(isNumeric(?t) AS ?isNum)
        |}""".stripMargin, Seq("dt", "lg", "isNum"))
    assert(got == Seq(Vector(
      Some("http://www.w3.org/2001/XMLSchema#integer"), Some("en"),
      Some("true"))))
  }

  test("§17.3 xsd:dateTime comparison in FILTER") {
    val eng = engine(
      """@prefix : <http://example/> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |:a :t "2024-01-01T00:00:00Z"^^xsd:dateTime .
        |:b :t "2025-06-01T12:00:00Z"^^xsd:dateTime .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?s WHERE {
        |  ?s :t ?x FILTER(?x > "2024-12-31T23:59:59Z"^^xsd:dateTime)
        |}""".stripMargin, Seq("s"))
    assert(got == Seq(Vector(Some("http://example/b"))))
  }

  test("§15 modifier stack: DISTINCT + ORDER BY + OFFSET + LIMIT compose") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v 3 . :b :v 1 . :c :v 3 . :d :v 2 .""".stripMargin)
    val df = eng.select(
      """PREFIX : <http://example/>
        |SELECT DISTINCT ?x WHERE { ?s :v ?x } ORDER BY ?x LIMIT 2 OFFSET 1"""
        .stripMargin)
    assert(df.collect().map(_.getStruct(0).getString(1)).toSeq == Seq("2", "3"))
  }

  test("§18.5.1 aggregates over an EMPTY solution set: COUNT is 0, " +
    "SUM/AVG are 0 (18.5.1.5/18.5.1.6), MIN/MAX are unbound") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (COUNT(?x) AS ?n) (SUM(?x) AS ?s) (AVG(?x) AS ?a)
        |       (MAX(?x) AS ?m) WHERE {
        |  ?y :noSuchPredicate ?x
        |}""".stripMargin, Seq("n", "s", "a", "m"))
    assert(got.length == 1) // one (empty-group) solution row, per spec
    assert(got.head(0).map(_.toDouble).contains(0.0))
    assert(got.head(1).map(_.toDouble).contains(0.0))
    assert(got.head(2).map(_.toDouble).contains(0.0))
    assert(got.head(3).isEmpty)
  }

  test("§18.5.1.5 SUM over a non-empty all-non-numeric group is an error " +
    "(unbound), not 0") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p "text" . :b :p "more" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (SUM(?x) AS ?s) (AVG(?x) AS ?a) WHERE { ?y :p ?x }"""
        .stripMargin, Seq("s", "a"))
    assert(got.length == 1)
    assert(got.head(0).isEmpty && got.head(1).isEmpty)
  }

  test("§15.3.2 REDUCED: cardinality between DISTINCT and unmodified") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :p :x . :b :p :x . :c :p :y .""".stripMargin)
    val full = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?o WHERE { ?s :p ?o }""".stripMargin, Seq("o")).size
    val reduced = rows(eng,
      """PREFIX : <http://example/>
        |SELECT REDUCED ?o WHERE { ?s :p ?o }""".stripMargin, Seq("o")).size
    val distinct = rows(eng,
      """PREFIX : <http://example/>
        |SELECT DISTINCT ?o WHERE { ?s :p ?o }""".stripMargin, Seq("o")).size
    assert(distinct == 2 && full == 3)
    assert(reduced >= distinct && reduced <= full)
  }

  // ---- r9 tranche: ordering totality, EXISTS scoping, aggregate errors,
  // path precedence, negative numerics ----

  test("§15.1 ORDER BY total order: unbound < blank < IRI < literal") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :t 1 . :b :t 1 . :c :t 1 . :d :t 1 .
        |:a :v "lit" . :b :v :iri . :c :v _:bn .""".stripMargin)
    val df = eng.select(
      """PREFIX : <http://example/>
        |SELECT ?s ?v WHERE { ?s :t 1 . OPTIONAL { ?s :v ?v } }
        |ORDER BY ?v ?s""".stripMargin)
    val subjects = df.collect().map(_.getStruct(0).getString(1)).toSeq
    assert(subjects == Seq("http://example/d", "http://example/c",
      "http://example/b", "http://example/a"))
  }

  test("§15.1 DESC reverses the term total order") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v 10 . :b :v 2 . :c :v :iri .""".stripMargin)
    val df = eng.select(
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { ?s :v ?x } ORDER BY DESC(?x)""".stripMargin)
    val got = df.collect().map(_.getStruct(0).getString(1)).toSeq
    assert(got == Seq("10", "2", "http://example/iri"))
  }

  test("§18.5.1.5 SUM/AVG over a MIXED numeric+string group error (unbound); " +
    "COUNT still counts every bound term") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :p "text" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (SUM(?x) AS ?s) (AVG(?x) AS ?a) (COUNT(?x) AS ?n)
        |WHERE { ?y :p ?x }""".stripMargin, Seq("s", "a", "n"))
    assert(got.length == 1)
    assert(got.head(0).isEmpty && got.head(1).isEmpty)
    assert(got.head(2).map(_.toDouble).contains(2.0))
  }

  test("§8.1.2 EXISTS scoping: outer bindings are visible inside (correlated); " +
    "inner-only variables never bind outside") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :p 1 ; :q "w-a" . :b :p 2 .""".stripMargin)
    // correlation: only :a has a :q triple
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :p ?v . FILTER EXISTS { ?s :q ?w } }"""
        .stripMargin, Seq("s"))
    assert(got == Seq(Vector(Some("http://example/a"))))
    // ?w is scoped to the EXISTS group — projecting it outside yields
    // unbound, never a leaked binding
    val leak = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?w WHERE { ?s :p ?v . FILTER EXISTS { ?s :q ?w } }"""
        .stripMargin, Seq("s", "w"))
    assert(leak == Seq(Vector(Some("http://example/a"), None)))
  }

  test("§9.1 path precedence: inverse ^ binds tighter than sequence /") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:m :p :a . :m :q :z .""".stripMargin)
    // ^:p/:q ≡ (^:p)/:q — from :a, step back over :p to :m, forward to :z.
    // The wrong grouping ^(:p/:q) would need some x with x :p/:q :a (none).
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?end WHERE { :a ^:p/:q ?end }""".stripMargin, Seq("end"))
    assert(got == Seq(Vector(Some("http://example/z"))))
  }

  test("§9.1 negated property set with alternation !(iri1|iri2)") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:s :p :o1 . :s :q :o2 . :s :r :o3 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?o WHERE { :s !(:p|:q) ?o }""".stripMargin, Seq("o"))
    assert(got == Seq(Vector(Some("http://example/o3"))))
  }

  test("§9.1 grouped sequence closure (:p/:q)+") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :p :b . :b :q :c . :c :p :d . :d :q :e .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { :a (:p/:q)+ ?x }""".stripMargin, Seq("x"))
    assert(got.map(_.head.get).toSet ==
      Set("http://example/c", "http://example/e"))
  }

  test("§19.8 negative numeric literals parse in data and expressions") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v -5 . :b :v 2.5 . :c :v -1.5 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?x . FILTER(?x < -1) }""".stripMargin,
      Seq("s"))
    assert(got.map(_.head.get).toSet ==
      Set("http://example/a", "http://example/c"))
    // negative literal in an expression, and numeric order with negatives
    val df = eng.select(
      """PREFIX : <http://example/>
        |SELECT ?y WHERE { ?s :v ?x . BIND(?x + -0.5 AS ?y) } ORDER BY ?y"""
        .stripMargin)
    val ys = df.collect().map(_.getStruct(0).getDouble(4)).toSeq
    assert(ys == Seq(-5.5, -2.0, 2.0))
  }

  test("§17.4.1.1 !BOUND(?v) after OPTIONAL is the classic negation idiom") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :p 1 . :b :p 2 . :a :q 9 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE {
        |  ?s :p ?v . OPTIONAL { ?s :q ?w } FILTER(!BOUND(?w))
        |}""".stripMargin, Seq("s"))
    assert(got == Seq(Vector(Some("http://example/b"))))
  }

  test("§18.2.4 COUNT(?x) skips unbound rows; COUNT(*) counts all solutions") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :t 1 . :b :t 1 . :a :v 7 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (COUNT(?v) AS ?nv) (COUNT(*) AS ?all) WHERE {
        |  ?s :t 1 . OPTIONAL { ?s :v ?v }
        |}""".stripMargin, Seq("nv", "all"))
    assert(got.head(0).map(_.toDouble).contains(1.0))
    assert(got.head(1).map(_.toDouble).contains(2.0))
  }

  test("§10.2 multi-variable VALUES with UNDEF in one column") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :p 1 . :b :p 2 . :c :p 3 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?tag WHERE {
        |  ?s :p ?v .
        |  VALUES (?s ?tag) { (:a "one") (UNDEF "any") }
        |}""".stripMargin, Seq("s", "tag"))
    // (:a "one") joins only :a; (UNDEF "any") joins every solution
    assert(got.toSet == Set(
      Vector(Some("http://example/a"), Some("one")),
      Vector(Some("http://example/a"), Some("any")),
      Vector(Some("http://example/b"), Some("any")),
      Vector(Some("http://example/c"), Some("any"))))
  }

  test("§17.4.2.1 STR() strips to lexical form for IRIs and typed literals") {
    val eng = engine(
      """@prefix : <http://example/> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |:a :v :iri . :b :v "42"^^xsd:integer . :c :v "tag"@en .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?sv WHERE { ?s :v ?x . BIND(STR(?x) AS ?sv) }""".stripMargin,
      Seq("sv"))
    assert(got.map(_.head.get).toSet == Set("http://example/iri", "42", "tag"))
  }

  // ---- syntax (negative) ----

  test("syntax-bad: unterminated group / missing object are parse errors") {
    intercept[Exception](graft.parser.SparqlParser.parse(
      "SELECT ?x WHERE { ?x <urn:p> "))
    intercept[Exception](graft.parser.SparqlParser.parse(
      "SELECT ?x WHERE { ?x <urn:p> . }"))
    intercept[Exception](graft.parser.SparqlParser.parse(
      "SELECT ?x WHERE { ?x <urn:p> ?y } GROUP BY"))
  }

  test("§19.8 grammar: keywords are case-insensitive, whitespace free-form") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p :b .""".stripMargin)
    val got = rows(eng,
      "select ?o\nwhere\n{ ?s <http://example/p> ?o }", Seq("o"))
    assert(got == Seq(Vector(Some("http://example/b"))))
  }

  // ---- tranche 5 (r9): new-surface corners ----

  test("§13.3 GRAPH ?g binds the graph name and scopes the pattern") {
    import spark.implicits._
    val cat = new GraphCatalog(spark)
    cat.addQuads(graft.sources.TrigReader.parse(
      """@prefix : <http://example/> .
        |:a :p 1 .
        |:g1 { :a :p 2 . }
        |:g2 { :a :p 3 . :b :p 4 . }""".stripMargin).toDS().toDF())
    val eng = new Engine(cat)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?g ?o WHERE { GRAPH ?g { :a :p ?o } }""".stripMargin,
      Seq("g", "o"))
    // only named graphs are enumerated — the default-graph triple is absent
    assert(got == sorted(Seq(
      Vector(Some("http://example/g1"), Some("2")),
      Vector(Some("http://example/g2"), Some("3")))))
  }

  test("§19.8 GroupCondition: GROUP BY an (expression AS ?var) binds the " +
    "key for projection") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v 10 . :b :v 20 . :c :v 30 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?big (COUNT(*) AS ?n) WHERE { ?s :v ?v }
        |GROUP BY ((?v > 15) AS ?big)""".stripMargin, Seq("big", "n"))
    assert(got == sorted(Seq(
      Vector(Some("false"), Some("1")),
      Vector(Some("true"), Some("2")))))
  }

  test("§18.2.4.1 projecting a non-group-key, non-aggregated variable is " +
    "an error") {
    val q = """PREFIX : <http://example/>
      |SELECT ?s (SUM(?v) AS ?t) WHERE { ?s :v ?v } GROUP BY ?o""".stripMargin
    // the scope check may fire at parse or at compile — either way it must
    // NOT run and return ?s values
    intercept[Exception] {
      engine("@prefix : <http://example/> .\n:a :v 1 .").select(q).collect()
    }
  }

  test("§16.2.4 CONSTRUCT WHERE shorthand replicates the matched pattern") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :name "A" . :b :name "B" .""".stripMargin)
    val quads = eng.construct(
      """PREFIX : <http://example/>
        |CONSTRUCT WHERE { ?x :name ?n }""".stripMargin).collect()
    assert(quads.length == 2)
  }

  test("§16.2.1 blank nodes in a CONSTRUCT template are fresh per solution " +
    "but shared within one") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :name "A" . :b :name "B" .""".stripMargin)
    // _:v appears twice in the template: same bnode inside a solution,
    // different across the two solutions
    val quads = eng.construct(
      """PREFIX : <http://example/>
        |CONSTRUCT { ?x :addr _:v . _:v :label ?n }
        |WHERE { ?x :name ?n }""".stripMargin).collect()
    assert(quads.length == 4)
    val bnodesAsObj = quads.filter(_.getAs[String]("p") ==
      "http://example/addr").map(r => r.getStruct(r.fieldIndex("o")).getString(1))
    val bnodesAsSubj = quads.filter(_.getAs[String]("p") ==
      "http://example/label").map(_.getAs[String]("s"))
    assert(bnodesAsObj.toSet.size == 2) // fresh per solution
    assert(bnodesAsObj.toSet == bnodesAsSubj.toSet) // shared within one
  }

  test("§15.1 ORDER BY an arbitrary expression, not just a variable") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v 10 . :b :v 25 . :c :v 17 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?v } ORDER BY DESC(?v * 2)""".stripMargin,
      Seq("s"))
    assert(got.map(_(0).get) == // rows() re-sorts lexically — check via LIMIT
      Seq("http://example/a", "http://example/b", "http://example/c"))
    val top = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?v } ORDER BY DESC(?v * 2) LIMIT 1"""
        .stripMargin, Seq("s"))
    assert(top == Seq(Vector(Some("http://example/b"))))
  }

  test("§11.4 HAVING may use an aggregate that is not projected") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:g1 :m 10 . :g1 :m 20 . :g2 :m 1 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s (COUNT(*) AS ?n) WHERE { ?s :m ?v }
        |GROUP BY ?s HAVING (SUM(?v) > 5)""".stripMargin, Seq("s", "n"))
    assert(got == Seq(Vector(Some("http://example/g1"), Some("2"))))
  }

  test("§17.4.1.5 IN short-circuits errors through ||: 2 IN (1/0, 2) is " +
    "true, NOT IN is false") {
    val eng = engine("@prefix : <http://example/> .\n:a :p :b .")
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :p ?o FILTER(2 IN (1/0, 2)) }""".stripMargin,
      Seq("s")).size == 1)
    // NOT IN expands to (2 != 1/0) && (2 != 2) = error && false = false
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :p ?o FILTER(2 NOT IN (1/0, 2)) }"""
        .stripMargin, Seq("s")).isEmpty)
  }

  test("§19.8 grammar: path quantifiers {n,m} were dropped from SPARQL 1.1 " +
    "— a parse error, not a silent match") {
    intercept[Exception](graft.parser.SparqlParser.parse(
      "SELECT ?y WHERE { <urn:a> <urn:p>{2} ?y }"))
  }

  // ---- tranche 6 (r9): casts, arithmetic typing, grammar corners ----

  test("§17.5 XPath constructor casts: xsd:integer/double/string/boolean, " +
    "invalid lexical forms are errors (unbound)") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v "42" ; :w "3.5" ; :x "abc" ; :y 7.9 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?i ?d ?s ?b ?bad ?tr WHERE {
        |  ?n :v ?v ; :w ?w ; :x ?x ; :y ?y .
        |  BIND(xsd:integer(?v) AS ?i)
        |  BIND(xsd:double(?w) AS ?d)
        |  BIND(xsd:string(?y) AS ?s)
        |  BIND(xsd:boolean("1") AS ?b)
        |  BIND(xsd:integer(?x) AS ?bad)
        |  BIND(xsd:integer(?y) AS ?tr)
        |}""".stripMargin, Seq("i", "d", "s", "b", "bad", "tr"))
    // truncation toward zero (7.9 → 7); "abc" → error → unbound
    assert(got == Seq(Vector(Some("42"), Some("3.5"), Some("7.9"),
      Some("true"), None, Some("7"))))
  }

  test("§17.3 numeric division never truncates: 7/2 is 3.5") {
    val eng = engine("@prefix : <http://example/> .\n:a :v 7 .")
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?q WHERE { ?s :v ?v BIND(?v / 2 AS ?q) }""".stripMargin,
      Seq("q"))
    assert(got == Seq(Vector(Some("3.5"))))
  }

  test("§10.2 trailing VALUES after the solution modifiers constrains the " +
    "result") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v 1 . :b :v 2 . :c :v 3 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?v WHERE { ?s :v ?v }
        |ORDER BY ?v
        |VALUES ?s { :a :c }""".stripMargin, Seq("s", "v"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/a"), Some("1")),
      Vector(Some("http://example/c"), Some("3")))))
  }

  test("§11.4.5 GROUP_CONCAT over numeric literals joins their lexical " +
    "forms") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:g :m 10 . :g :m 20 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (GROUP_CONCAT(?v; separator=",") AS ?all)
        |WHERE { ?s :m ?v }""".stripMargin, Seq("all"))
    assert(got == Seq(Vector(Some("10,20"))))
  }

  test("§17.2.2 EBV of a malformed typed numeric is an error — FILTER " +
    "drops the row") {
    import spark.implicits._
    val cat = new GraphCatalog(spark)
    cat.addQuads(TurtleReader.parse(
      """@prefix : <http://example/> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |:a :v "abc"^^xsd:integer .
        |:b :v "1"^^xsd:integer .""".stripMargin).toDS().toDF())
    val got = rows(new Engine(cat),
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?v FILTER(?v) }""".stripMargin, Seq("s"))
    assert(got == Seq(Vector(Some("http://example/b"))))
  }

  test("§19.8 grammar: a property path inside the CONSTRUCT WHERE " +
    "shorthand is a parse error (triples only)") {
    intercept[Exception](graft.parser.SparqlParser.parse(
      "CONSTRUCT WHERE { ?x <urn:p>/<urn:q> ?y }"))
  }

  test("§17.4 unary minus applies to variable expressions") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v 5 . :b :v 3 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?v FILTER(-?v = -5) }""".stripMargin,
      Seq("s"))
    assert(got == Seq(Vector(Some("http://example/a"))))
  }

  test("§19.8 BASE resolves relative IRIREFs, matching the Turtle " +
    "loader's convention") {
    // the data declares @base; the query declares BASE — both sides must
    // resolve <a>/<p> to the same absolute IRIs or the BGP matches nothing
    val eng = engine(
      """@base <http://example/> .
        |<a> <p> <b> .""".stripMargin)
    val got = rows(eng,
      """BASE <http://example/>
        |SELECT ?o WHERE { <a> <p> ?o }""".stripMargin, Seq("o"))
    assert(got == Seq(Vector(Some("http://example/b"))))
    // absolute IRIs are untouched by BASE
    val abs = rows(eng,
      """BASE <http://other/>
        |SELECT ?o WHERE { <http://example/a> <http://example/p> ?o }"""
        .stripMargin, Seq("o"))
    assert(abs == Seq(Vector(Some("http://example/b"))))
  }

  test("§18.2.4 aggregates cannot be nested: SUM(AVG(?v)) is an error") {
    val eng = engine("@prefix : <http://example/> .\n:a :v 1 .")
    intercept[Exception] {
      eng.select(
        """PREFIX : <http://example/>
          |SELECT (SUM(AVG(?v)) AS ?x) WHERE { ?s :v ?v }""".stripMargin)
        .collect()
    }
  }

  // ---- SPARQL 1.1 Federated Query (SERVICE) ----

  test("Fed §5 SERVICE SILENT on an unknown endpoint yields the unit " +
    "solution: outer rows pass through, service vars unbound") {
    val eng = engine("@prefix : <http://example/> .\n:a :p :b .")
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?z WHERE {
        |  ?s :p ?o .
        |  SERVICE SILENT <http://nowhere.invalid/sparql> { ?s :q ?z }
        |}""".stripMargin, Seq("s", "z"))
    assert(got == Seq(Vector(Some("http://example/a"), None)))
  }

  test("Fed §2 SERVICE on an unknown endpoint without SILENT is an error") {
    val eng = engine("@prefix : <http://example/> .\n:a :p :b .")
    intercept[Exception] {
      eng.select(
        """PREFIX : <http://example/>
          |SELECT ?s WHERE {
          |  ?s :p ?o .
          |  SERVICE <http://nowhere.invalid/sparql> { ?s :q ?z }
          |}""".stripMargin).collect()
    }
  }

  test("Fed §5 SERVICE SILENT swallows an endpoint whose EXECUTION fails " +
    "(throwing client) into the unit solution; non-SILENT propagates") {
    import TestSpark.spark
    import spark.implicits._
    val cat = new GraphCatalog(spark)
    cat.addQuads(TurtleReader.parse(
      "@prefix : <http://example/> .\n:a :p :b .").toDS().toDF())
    cat.registerEndpoint("http://broken.invalid/sparql",
      new graft.sources.SparqlEndpoint {
        def query(sparql: String): String =
          throw new RuntimeException("503 service unavailable")
      })
    val eng = new Engine(cat)
    val q = (silent: String) =>
      s"""PREFIX : <http://example/>
         |SELECT ?s ?z WHERE {
         |  ?s :p ?o .
         |  SERVICE $silent <http://broken.invalid/sparql> { ?s :q ?z }
         |}""".stripMargin
    val got = rows(eng, q("SILENT"), Seq("s", "z"))
    assert(got == Seq(Vector(Some("http://example/a"), None)))
    intercept[Exception](eng.select(q("")).collect())
  }

  test("Fed §2.1 SERVICE result joins on shared vars through the wire " +
    "round-trip: typed and lang literals survive results-JSON transport") {
    import TestSpark.spark
    import spark.implicits._
    val remote = new GraphCatalog(spark)
    remote.addQuads(TurtleReader.parse(
      """@prefix : <http://example/> .
        |:a :v 42 . :a :l "chat"@fr . :a :s "a \"quoted\" value" ."""
        .stripMargin).toDS().toDF())
    val cat = new GraphCatalog(spark)
    cat.addQuads(TurtleReader.parse(
      "@prefix : <http://example/> .\n:a :p :b . :x :p :y .").toDS().toDF())
    cat.registerService("http://remote.example/sparql", remote)
    val eng = new Engine(cat)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?v ?l ?q WHERE {
        |  ?s :p ?o .
        |  SERVICE <http://remote.example/sparql> {
        |    ?s :v ?v ; :l ?l ; :s ?q
        |  }
        |}""".stripMargin, Seq("s", "v", "l", "q"))
    // only :a has remote data; :x drops out of the join
    assert(got == Seq(Vector(Some("http://example/a"), Some("42"),
      Some("chat"), Some("a \"quoted\" value"))))
    // datatype/lang survive transport: FILTER on datatype + langMatches
    val typed = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE {
        |  ?s :p ?o .
        |  SERVICE <http://remote.example/sparql> { ?s :v ?v ; :l ?l }
        |  FILTER(datatype(?v) = <http://www.w3.org/2001/XMLSchema#integer>
        |         && langMatches(lang(?l), "fr"))
        |}""".stripMargin, Seq("s"))
    assert(typed == Seq(Vector(Some("http://example/a"))))
  }

  test("Fed §2.3 SERVICE with a variable endpoint iterates the registered " +
    "endpoints, binding the variable to each answering IRI") {
    import TestSpark.spark
    import spark.implicits._
    val r1 = new GraphCatalog(spark)
    r1.addQuads(TurtleReader.parse(
      "@prefix : <http://example/> .\n:a :q 1 .").toDS().toDF())
    val r2 = new GraphCatalog(spark)
    r2.addQuads(TurtleReader.parse(
      "@prefix : <http://example/> .\n:a :q 2 .").toDS().toDF())
    val empty = new GraphCatalog(spark)
    empty.addQuads(TurtleReader.parse(
      "@prefix : <http://example/> .\n:z :other 9 .").toDS().toDF())
    val cat = new GraphCatalog(spark)
    cat.addQuads(TurtleReader.parse(
      "@prefix : <http://example/> .\n:a :p :b .").toDS().toDF())
    cat.registerService("http://one.example/sparql", r1)
    cat.registerService("http://two.example/sparql", r2)
    cat.registerService("http://none.example/sparql", empty)
    val got = rows(new Engine(cat),
      """PREFIX : <http://example/>
        |SELECT ?ep ?z WHERE {
        |  ?s :p ?o .
        |  SERVICE ?ep { ?s :q ?z }
        |}""".stripMargin, Seq("ep", "z"))
    // one row per ANSWERING endpoint; the empty one contributes nothing
    assert(got == sorted(Seq(
      Vector(Some("http://one.example/sparql"), Some("1")),
      Vector(Some("http://two.example/sparql"), Some("2")))))
    // no endpoints registered: error, unless SILENT (unit solution)
    val bare = new GraphCatalog(spark)
    bare.addQuads(TurtleReader.parse(
      "@prefix : <http://example/> .\n:a :p :b .").toDS().toDF())
    val q = (s: String) =>
      s"""PREFIX : <http://example/>
         |SELECT ?s ?z WHERE { ?s :p ?o . SERVICE $s ?ep { ?s :q ?z } }"""
        .stripMargin
    intercept[Exception](new Engine(bare).select(q("")).collect())
    val silent = rows(new Engine(bare), q("SILENT"), Seq("s", "z"))
    assert(silent == Seq(Vector(Some("http://example/a"), None)))
  }

  test("HttpEndpoint federates through a real localhost socket (SPARQL " +
    "Protocol POST + results-JSON response)") {
    import TestSpark.spark
    import spark.implicits._
    val received = new java.util.concurrent.atomic.AtomicReference[String]("")
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    try {
      server.createContext("/sparql", (ex: com.sun.net.httpserver.HttpExchange) => {
        received.set(new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        val body =
          """{"head":{"vars":["z"]},"results":{"bindings":[
            |{"z":{"type":"literal","value":"7",
            |"datatype":"http://www.w3.org/2001/XMLSchema#integer"}}]}}"""
            .stripMargin.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type",
          "application/sparql-results+json")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      })
      server.start()
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/sparql"
      val cat = new GraphCatalog(spark)
      cat.addQuads(TurtleReader.parse(
        "@prefix : <http://example/> .\n:a :p :b .").toDS().toDF())
      cat.registerEndpoint("http://remote.example/sparql",
        new graft.sources.HttpEndpoint(url))
      val got = rows(new Engine(cat),
        """PREFIX : <http://example/>
          |SELECT ?z WHERE { ?s :p ?o . SERVICE <http://remote.example/sparql> { ?s :q ?z } }"""
          .stripMargin, Seq("z"))
      assert(got == Seq(Vector(Some("7"))))
      // the verbatim sub-query text went over the wire
      assert(received.get.contains("SELECT *") && received.get.contains(":q"))
      // a 500 response is a normal SERVICE failure: SILENT -> unit solution
      server.createContext("/fail", (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(500, -1); ex.close()
      })
      val failUrl = s"http://127.0.0.1:${server.getAddress.getPort}/fail"
      cat.registerEndpoint("http://fail.example/sparql",
        new graft.sources.HttpEndpoint(failUrl))
      val silent = rows(new Engine(cat),
        """PREFIX : <http://example/>
          |SELECT ?s ?z WHERE {
          |  ?s :p ?o .
          |  SERVICE SILENT <http://fail.example/sparql> { ?s :q ?z }
          |}""".stripMargin, Seq("s", "z"))
      assert(silent == Seq(Vector(Some("http://example/a"), None)))
    } finally server.stop(0)
  }

  // ---- tranche 7 ----

  test("§18.2.4 DISTINCT with ORDER BY on a non-projected variable: sort " +
    "below the projection, first-in-order representative per group") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a1 :p :x ; :k 3 . :a2 :p :y ; :k 1 . :a3 :p :x ; :k 2 .""".stripMargin)
    // solutions (o,k): (x,3) (y,1) (x,2); ordered by ?k → y, x, x;
    // distinct keeping first occurrences → y then x
    val got = eng.select(
      """PREFIX : <http://example/>
        |SELECT DISTINCT ?o WHERE { ?s :p ?o ; :k ?k } ORDER BY ?k"""
        .stripMargin).collect().map(_.getStruct(0).getString(1))
    assert(got.toSeq == Seq("http://example/y", "http://example/x"))
    // REDUCED variant stays legal too (identity dedup, ordered)
    val red = eng.select(
      """PREFIX : <http://example/>
        |SELECT REDUCED ?o WHERE { ?s :p ?o ; :k ?k } ORDER BY DESC(?k) LIMIT 1"""
        .stripMargin).collect().map(_.getStruct(0).getString(1))
    assert(red.toSeq == Seq("http://example/x")) // k=3 row first
  }

  test("§19.6 a blank node label in a query pattern is a non-distinguished " +
    "variable: joins within its BGP") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :p :b . :b :q :c . :d :p :e .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { ?x :p _:m . _:m :q :c }""".stripMargin, Seq("x"))
    assert(got == Seq(Vector(Some("http://example/a"))))
  }

  test("§19.6 reusing a blank node label in two different basic graph " +
    "patterns (UNION arms) is a syntax error") {
    intercept[Exception](graft.parser.SparqlParser.parse(
      """SELECT ?x ?y WHERE {
        |  { _:z <urn:p> ?x } UNION { _:z <urn:q> ?y }
        |}""".stripMargin))
    // ...but the same label twice within ONE group is legal
    graft.parser.SparqlParser.parse(
      "SELECT ?x WHERE { _:z <urn:p> ?x . _:z <urn:q> ?x }")
    ()
  }

  test("§11.4 HAVING error semantics: a group whose HAVING expression " +
    "errors is dropped, like FILTER") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :v 1 . :a :v 2 . :b :v "str" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?v } GROUP BY ?s HAVING (MAX(?v) > 0)"""
        .stripMargin, Seq("s"))
    // group :b → MAX is "str"; "str" > 0 is a type error → false → dropped
    assert(got == Seq(Vector(Some("http://example/a"))))
  }

  test("§17.4.2.1 negative-zero and decimal lexical forms round-trip " +
    "through STR; `=` compares numerically") {
    val eng = engine(
      """@prefix : <http://example/> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |:a :v "-0"^^xsd:integer . :b :v "1.50"^^xsd:decimal .""".stripMargin)
    val lex = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?sv WHERE { ?s :v ?v . BIND(STR(?v) AS ?sv) }""".stripMargin,
      Seq("sv"))
    assert(lex.map(_.head.get).toSet == Set("-0", "1.50"))
    val zero = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?v FILTER(?v = 0) }""".stripMargin, Seq("s"))
    assert(zero == Seq(Vector(Some("http://example/a"))))
    val dec = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?v FILTER(?v = 1.5) }""".stripMargin, Seq("s"))
    assert(dec == Seq(Vector(Some("http://example/b"))))
  }

  test("§19.8 BASE: absolute IRIs of any scheme (mailto:) pass through " +
    "untouched; only scheme-less references resolve") {
    val eng = engine(
      """@base <http://example/> .
        |<a> <p> <mailto:user@host> .""".stripMargin)
    val got = rows(eng,
      """BASE <http://example/>
        |SELECT ?o WHERE { <a> <p> ?o }""".stripMargin, Seq("o"))
    assert(got == Seq(Vector(Some("mailto:user@host"))))
  }

  test("§19.8 BASE: relative references follow RFC 3986 merge — '../' and " +
    "sibling segments, identically in data and query") {
    val eng = engine(
      """@base <http://example/dir/file> .
        |<../up> <p> <sib> .""".stripMargin)
    // ../up → http://example/up ; sib → http://example/dir/sib
    val got = rows(eng,
      """BASE <http://example/dir/file>
        |SELECT ?o WHERE { <../up> <p> ?o }""".stripMargin, Seq("o"))
    assert(got == Seq(Vector(Some("http://example/dir/sib"))))
  }

  test("§16.2 CONSTRUCT template instantiated from property-path " +
    "solutions (path in WHERE, plain triples in template)") {
    val eng = engine(
      """@prefix : <http://example/> .
        |:a :p :b . :b :p :c .""".stripMargin)
    val quads = eng.construct(
      """PREFIX : <http://example/>
        |CONSTRUCT { ?x :reach ?y } WHERE { ?x :p+ ?y }""".stripMargin)
      .collect()
    val pairs = quads.map(r => r.getAs[String]("s") ->
      r.getStruct(r.fieldIndex("o")).getString(1)).toSet
    assert(pairs == Set(
      "http://example/a" -> "http://example/b",
      "http://example/a" -> "http://example/c",
      "http://example/b" -> "http://example/c"))
  }

  // ---- tranche 8 (r10): 3-valued logic, function corners, scoping ----

  test("§17.4.1.4-5 three-valued || and &&: error||true is true, " +
    "error&&false is false, error||false and error&&true are errors") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 1 .""".stripMargin)
    def passes(cond: String): Boolean = rows(eng,
      s"""PREFIX : <http://example/>
         |SELECT ?x WHERE { ?x :v ?v . FILTER($cond) }""".stripMargin,
      Seq("x")).nonEmpty
    val err = "(?v/0 > 0)" // numeric error: EBV is an error
    assert(passes(s"$err || true"))   // error || true  = true
    assert(!passes(s"$err || false")) // error || false = error -> drop
    assert(!passes(s"$err && true"))  // error && true  = error -> drop
    assert(!passes(s"$err && false")) // error && false = false -> drop
    // and false&&error is also false (commuted short-circuit table)
    assert(!passes(s"false && $err"))
    assert(passes(s"true || $err"))
  }

  test("§17.4.2.6 IRI(str) resolves a relative reference against the " +
    "query's BASE") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p "doc" .""".stripMargin)
    val got = rows(eng,
      """BASE <http://example/dir/>
        |PREFIX : <http://example/>
        |SELECT ?i WHERE { ?s :p ?o . BIND(IRI(?o) AS ?i) }""".stripMargin,
      Seq("i"))
    assert(got == Seq(Vector(Some("http://example/dir/doc"))))
  }

  test("§17.4.2.9 BNODE(str): identical argument yields the SAME bnode " +
    "within the query; BNODE() yields distinct fresh nodes") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 1 . :b :v 2 .""".stripMargin)
    val same = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?eq WHERE { ?x :v ?v .
        |  BIND(sameTerm(BNODE("k"), BNODE("k")) AS ?eq) }""".stripMargin,
      Seq("eq"))
    assert(same == Seq(Vector(Some("true")), Vector(Some("true"))))
    val fresh = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?eq WHERE { ?x :v ?v .
        |  BIND(sameTerm(BNODE(), BNODE()) AS ?eq) }""".stripMargin,
      Seq("eq"))
    assert(fresh == Seq(Vector(Some("false")), Vector(Some("false"))))
  }

  test("§17.4.3.7-8 UCASE/LCASE preserve the language tag (result is " +
    "\"FOO\"@en, LANG still matches)") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :label "foo"@en .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?u ?l WHERE { ?s :label ?x .
        |  BIND(UCASE(?x) AS ?u) BIND(LANG(UCASE(?x)) AS ?l) }""".stripMargin,
      Seq("u", "l"))
    assert(got == Seq(Vector(Some("FOO"), Some("en"))))
  }

  test("§10.1 BIND may not rebind a variable already in use in the " +
    "group graph pattern (syntax error)") {
    intercept[Exception](graft.parser.SparqlParser.parse(
      """SELECT ?x WHERE { ?x <urn:p> ?v . BIND(1 AS ?v) }"""))
  }

  test("§17.3 xsd:boolean comparison: false < true, and = is by value") {
    val eng = engine("""@prefix : <http://example/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |:a :v true . :b :v false .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?s WHERE { ?s :v ?b . FILTER(?b > "false"^^xsd:boolean) }
        |""".stripMargin, Seq("s"))
    assert(got == Seq(Vector(Some("http://example/a"))))
  }

  test("§11.4.5 GROUP_CONCAT default separator is a single space") {
    val eng = engine("""@prefix : <http://example/> .
      |:g :m "a" . :g :m "b" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?c WHERE { { SELECT (GROUP_CONCAT(?v) AS ?c)
        |  WHERE { ?s :m ?v } } }""".stripMargin, Seq("c"))
    assert(got == Seq(Vector(Some("a b"))) ||
      got == Seq(Vector(Some("b a"))))
  }

  test("§17.4.2.2 DATATYPE of a language-tagged literal is rdf:langString " +
    "(RDF 1.1), of a plain literal xsd:string") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "x"@en . :b :v "y" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?d WHERE { ?s :v ?x . BIND(DATATYPE(?x) AS ?d) }""".stripMargin,
      Seq("d"))
    assert(sorted(got) == sorted(Seq(
      Vector(Some("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString")),
      Vector(Some("http://www.w3.org/2001/XMLSchema#string")))))
  }

  test("§17.4.5.8-9 TIMEZONE is xsd:dayTimeDuration (PT0S for Z) and an " +
    "error when absent; TZ is the lexical designator ('' when absent)") {
    val eng = engine("""@prefix : <http://example/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |:a :t "2011-01-10T14:45:13.815-05:00"^^xsd:dateTime .
      |:b :t "2011-01-10T14:45:13Z"^^xsd:dateTime .
      |:c :t "2011-01-10T14:45:13"^^xsd:dateTime .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?z ?d WHERE { ?s :t ?t .
        |  BIND(TZ(?t) AS ?z) BIND(TIMEZONE(?t) AS ?d) }""".stripMargin,
      Seq("s", "z", "d"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/a"), Some("-05:00"), Some("-PT5H")),
      Vector(Some("http://example/b"), Some("Z"), Some("PT0S")),
      Vector(Some("http://example/c"), Some(""), None))))
  }

  test("§8.3 MINUS with a shared variable removes exactly the matching " +
    "solutions") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :p 2 . :c :p 3 .
      |:b :bad true .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :p ?v . MINUS { ?s :bad true } }""".stripMargin,
      Seq("s"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/a")), Vector(Some("http://example/c")))))
  }

  // ---- tranche 9 (r10): negated-set direction, CONCAT lang, fn corners --

  test("§9.1 negated property set with INVERSE members: !(^:p) matches " +
    "only reverse edges; !(:p|^:r) is the alt of the two directions") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p :b . :c :r :a .""".stripMargin)
    // !(^:p): reverse edges whose predicate is NOT p -> only (a, c) via ^:r
    val onlyInv = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x ?y WHERE { ?x !(^:p) ?y }""".stripMargin, Seq("x", "y"))
    assert(onlyInv == Seq(Vector(Some("http://example/a"),
      Some("http://example/c"))))
    // !(:p|^:r): forward not-p -> (c, a) via :r; reverse not-r -> (b, a) via ^:p
    val mixed = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x ?y WHERE { ?x !(:p|^:r) ?y }""".stripMargin, Seq("x", "y"))
    assert(mixed == sorted(Seq(
      Vector(Some("http://example/c"), Some("http://example/a")),
      Vector(Some("http://example/b"), Some("http://example/a")))))
  }

  test("§17.4.3.12 CONCAT language rules: same tag everywhere keeps it, " +
    "any mix yields a simple literal") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "foo"@en .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?both ?mixed ?l WHERE { ?s :v ?x .
        |  BIND(CONCAT(?x, "bar"@en) AS ?both)
        |  BIND(CONCAT(?x, "bar") AS ?mixed)
        |  BIND(LANG(?both) AS ?l) }""".stripMargin, Seq("both", "mixed", "l"))
    assert(got == Seq(Vector(Some("foobar"), Some("foobar"), Some("en"))))
    val mixedLang = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?l WHERE { ?s :v ?x .
        |  BIND(LANG(CONCAT(?x, "bar")) AS ?l) }""".stripMargin, Seq("l"))
    assert(mixedLang == Seq(Vector(Some(""))))
  }

  test("§17.4.3.3 SUBSTR follows fn:substring: SUBSTR('motor car', 6) is " +
    "' car', SUBSTR('metadata', 4, 3) is 'ada'") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 1 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?a ?b WHERE { ?s :v ?x .
        |  BIND(SUBSTR("motor car", 6) AS ?a)
        |  BIND(SUBSTR("metadata", 4, 3) AS ?b) }""".stripMargin, Seq("a", "b"))
    assert(got == Seq(Vector(Some(" car"), Some("ada"))))
  }

  test("§17.4.3.11 ENCODE_FOR_URI percent-encodes reserved characters " +
    "and multibyte UTF-8") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 1 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?sp ?uni WHERE { ?s :v ?x .
        |  BIND(ENCODE_FOR_URI("Los Angeles") AS ?sp)
        |  BIND(ENCODE_FOR_URI("~bébé") AS ?uni) }""".stripMargin,
      Seq("sp", "uni"))
    assert(got == Seq(Vector(Some("Los%20Angeles"), Some("~b%C3%A9b%C3%A9"))))
  }

  test("§17.4.2.4 isNumeric: invalid lexical forms and string-typed " +
    "numbers are NOT numeric") {
    val eng = engine("""@prefix : <http://example/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |:a :v "abc"^^xsd:integer . :b :v "12"^^xsd:string . :c :v 12 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?x . FILTER(isNumeric(?x)) }""".stripMargin,
      Seq("s"))
    assert(got == Seq(Vector(Some("http://example/c"))))
  }

  test("§11.2 GROUP BY an OPTIONAL variable: unbound keys form one group") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :p 2 . :c :p 3 .
      |:a :tag "x" . :b :tag "x" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?t (COUNT(*) AS ?n) WHERE {
        |  ?s :p ?v . OPTIONAL { ?s :tag ?t } } GROUP BY ?t""".stripMargin,
      Seq("t", "n"))
    assert(got == sorted(Seq(
      Vector(Some("x"), Some("2")), Vector(None, Some("1")))))
  }

  test("§10.2 VALUES multiplicity: a repeated VALUES row duplicates the " +
    "joined solution (multiset join)") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :p ?v .
        |  VALUES ?s { :a :a } }""".stripMargin, Seq("s"))
    assert(got == Seq(Vector(Some("http://example/a")),
      Vector(Some("http://example/a"))))
  }

  test("§17.4.5.2 NOW() is constant across a single query execution") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :p 2 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?eq WHERE { ?s :p ?v . BIND(NOW() = NOW() AS ?eq) }""".stripMargin,
      Seq("eq"))
    assert(got == Seq(Vector(Some("true")), Vector(Some("true"))))
  }

  test("§17.4.3.5-6 STRSTARTS/STRENDS with an empty second argument are " +
    "true; CONTAINS of the empty string is true") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "foo" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?x .
        |  FILTER(STRSTARTS(?x, "") && STRENDS(?x, "") && CONTAINS(?x, ""))
        |}""".stripMargin, Seq("s"))
    assert(got == Seq(Vector(Some("http://example/a"))))
  }

  // ---- tranche 11 (r11): langMatches ranges, STRDT/STRLANG argument
  // errors, IF error propagation, slice edges, unbound projection ----

  test("§17.4.3.1 langMatches: \"*\" matches any non-empty tag, basic " +
    "ranges match prefixes case-insensitively, plain literals never match") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "chat"@fr . :b :v "chat"@FR-BE . :c :v "chat"@en-US .
      |:d :v "chat" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?any ?fr ?en WHERE { ?s :v ?x .
        |  BIND(langMatches(LANG(?x), "*") AS ?any)
        |  BIND(langMatches(LANG(?x), "FR") AS ?fr)
        |  BIND(langMatches(LANG(?x), "en") AS ?en)
        |}""".stripMargin, Seq("s", "any", "fr", "en"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/a"), Some("true"), Some("true"), Some("false")),
      Vector(Some("http://example/b"), Some("true"), Some("true"), Some("false")),
      Vector(Some("http://example/c"), Some("true"), Some("false"), Some("true")),
      Vector(Some("http://example/d"), Some("false"), Some("false"), Some("false")))))
  }

  test("§17.4.2.7-8 STRDT/STRLANG require a SIMPLE literal first argument " +
    "(typed or tagged input is an error -> unbound)") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "plain" . :b :v "tagged"@en . :c :v 5 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?s ?dt ?lg WHERE { ?s :v ?x .
        |  BIND(STRDT(?x, xsd:token) AS ?dt)
        |  BIND(STRLANG(?x, "de") AS ?lg)
        |}""".stripMargin, Seq("s", "dt", "lg"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/a"), Some("plain"), Some("plain")),
      Vector(Some("http://example/b"), None, None),
      Vector(Some("http://example/c"), None, None))))
  }

  test("§17.4.1.2 IF propagates a condition ERROR (not coerced to false): " +
    "the else branch must not fire") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 1 . :b :v "str" .""".stripMargin)
    // ?x > 0 errors for "str" -> IF errors -> ?r unbound (NOT "neg")
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?r WHERE { ?s :v ?x .
        |  BIND(IF(?x > 0, "pos", "neg") AS ?r)
        |}""".stripMargin, Seq("s", "r"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/a"), Some("pos")),
      Vector(Some("http://example/b"), None))))
  }

  test("§15.5 LIMIT 0 yields the empty solution set; OFFSET past the end " +
    "yields empty; OFFSET+LIMIT window is exact") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 1 . :b :v 2 . :c :v 3 .""".stripMargin)
    def q(mods: String) =
      s"""PREFIX : <http://example/>
         |SELECT ?v WHERE { ?s :v ?v } ORDER BY ?v $mods""".stripMargin
    assert(rows(eng, q("LIMIT 0"), Seq("v")).isEmpty)
    assert(rows(eng, q("OFFSET 5"), Seq("v")).isEmpty)
    assert(rows(eng, q("OFFSET 1 LIMIT 1"), Seq("v")) ==
      Seq(Vector(Some("2"))))
  }

  test("§18.2.4.1 projecting an expression over a sometimes-unbound " +
    "variable leaves the target unbound on error rows") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :a :q 10 . :b :p 2 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s (?o + 1 AS ?r) WHERE {
        |  ?s :p ?x OPTIONAL { ?s :q ?o }
        |}""".stripMargin, Seq("s", "r"))
    assert(got == sorted(Seq(
      // "11", not "11.0": integer+integer stays xsd:integer (tranche 12)
      Vector(Some("http://example/a"), Some("11")),
      Vector(Some("http://example/b"), None))))
  }

  test("§17.4.1.3 COALESCE: skips errors/unbound, zero arguments is an " +
    "error, all-error is an error; BOUND of a never-bound variable is " +
    "false, not an exception") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 1 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?c0 ?c1 ?c2 ?b WHERE { ?s :v ?x .
        |  BIND(COALESCE() AS ?c0)
        |  BIND(COALESCE(?unbound, "fallback") AS ?c1)
        |  BIND(COALESCE(?unbound, ?alsoUnbound) AS ?c2)
        |  BIND(BOUND(?neverMentioned) AS ?b)
        |}""".stripMargin, Seq("c0", "c1", "c2", "b"))
    assert(got == Seq(Vector(None, Some("fallback"), None, Some("false"))))
  }

  test("§17.4.2 accessor argument typing: STR(bnode), LANG(iri), " +
    "DATATYPE(iri) are type errors, not coerced values") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v _:b1 . :a :w :iriVal . :a :u "lit" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?sb ?si ?li ?di ?ll WHERE {
        |  :a :v ?bn . :a :w ?ir . :a :u ?lt .
        |  BIND(STR(?bn) AS ?sb)  BIND(STR(?ir) AS ?si)
        |  BIND(LANG(?ir) AS ?li) BIND(DATATYPE(?ir) AS ?di)
        |  BIND(LANG(?lt) AS ?ll)
        |}""".stripMargin, Seq("sb", "si", "li", "di", "ll"))
    assert(got == Seq(Vector(None, Some("http://example/iriVal"),
      None, None, Some(""))))
  }

  test("§17.4.3 string functions require STRING LITERAL arguments: " +
    "STRLEN/UCASE/CONTAINS/CONCAT on an IRI or numeric literal are type " +
    "errors; lang-tagged and xsd:string remain fine") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :i :someIri ; :n 42 ; :s "txt" ; :l "chat"@fr .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?li ?ln ?ui ?ci ?ki ?ls ?ll WHERE {
        |  :a :i ?i ; :n ?n ; :s ?s ; :l ?l .
        |  BIND(STRLEN(?i) AS ?li)  BIND(STRLEN(?n) AS ?ln)
        |  BIND(UCASE(?i) AS ?ui)   BIND(CONTAINS(?i, "x") AS ?ci)
        |  BIND(CONCAT("a", ?n) AS ?ki)
        |  BIND(STRLEN(?s) AS ?ls)  BIND(STRLEN(?l) AS ?ll)
        |}""".stripMargin, Seq("li", "ln", "ui", "ci", "ki", "ls", "ll"))
    assert(got == Seq(Vector(None, None, None, None, None,
      Some("3"), Some("4"))))
  }

  test("§17.4.5.6 SECONDS keeps the fractional part (xsd:decimal), " +
    "components of a non-dateTime are errors") {
    val eng = engine("""@prefix : <http://example/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |:a :t "2024-03-05T10:11:12.5Z"^^xsd:dateTime ; :s "notatime" ."""
      .stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?sec ?badY WHERE { :a :t ?t ; :s ?s .
        |  BIND(SECONDS(?t) AS ?sec) BIND(YEAR(?s) AS ?badY)
        |}""".stripMargin, Seq("sec", "badY"))
    assert(got.length == 1)
    assert(got.head(0).map(_.toDouble).contains(12.5), got)
    assert(got.head(1).isEmpty)
  }

  test("§10.1 BIND sees only PRECEDING bindings: a variable matched later " +
    "in the group is unbound inside the BIND expression") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :p 2 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?x ?y WHERE { BIND(?x + 1 AS ?y) ?s :p ?x }"""
        .stripMargin, Seq("s", "x", "y"))
    // BIND evaluates over the EMPTY preceding pattern: ?x unbound -> ?y
    // unbound; the later BGP still joins (no shared bound vars)
    assert(got == sorted(Seq(
      Vector(Some("http://example/a"), Some("1"), None),
      Vector(Some("http://example/b"), Some("2"), None))))
  }

  test("§8.3/17.2 FILTER scope is the WHOLE group (it may reference " +
    "variables matched after it), unlike BIND; MINUS with an empty " +
    "pattern removes nothing") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :p 2 .""".stripMargin)
    // FILTER before the triple pattern still constrains it
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { FILTER(?x > 1) ?s :p ?x }""".stripMargin,
      Seq("s"))
    assert(got == Seq(Vector(Some("http://example/b"))))
    // MINUS {} shares no variables -> removes nothing (8.3.3)
    val m = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :p ?x MINUS {} }""".stripMargin, Seq("s"))
    assert(m.size == 2)
    // ORDER BY may use an aggregate of the grouped query (18.2.4) — the
    // aggregate registers as an extra Group output like HAVING's
    val o = eng.select(
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :p ?x }
        |GROUP BY ?s ORDER BY DESC(SUM(?x))""".stripMargin)
      .collect().map(_.getStruct(0).getString(1)).toSeq
    assert(o == Seq("http://example/b", "http://example/a")) // sum 2 first
  }

  test("§18.2.4/15 a subquery's ORDER BY + LIMIT evaluates INSIDE the " +
    "subquery; COUNT(?x) skips unbound rows while COUNT(*) keeps them") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 3 . :b :p 1 . :c :p 2 . :a :q 9 .""".stripMargin)
    // inner top-1 by ?x ascending -> only :b escapes the subquery
    val sub = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE {
        |  { SELECT ?s ?x WHERE { ?s :p ?x } ORDER BY ?x LIMIT 1 }
        |}""".stripMargin, Seq("s"))
    assert(sub == Seq(Vector(Some("http://example/b"))))
    val counts = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (COUNT(?o) AS ?n) (COUNT(*) AS ?all) WHERE {
        |  ?s :p ?x OPTIONAL { ?s :q ?o }
        |}""".stripMargin, Seq("n", "all"))
    // 3 solutions, ?o bound only for :a
    assert(counts == Seq(Vector(Some("1"), Some("3"))))
  }

  // ---- tranche 10 (r11): VALUES UNDEF, DISTINCT aggregates over
  // expressions, paths under CONSTRUCT, nested-OPTIONAL scoping, lexical
  // round-trips, GROUP_CONCAT coercion ----

  test("§10.2.2 VALUES with UNDEF: a solution is compatible when every " +
    "DEFINED value agrees") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :p 2 . :c :p 3 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?x WHERE { ?s :p ?x }
        |VALUES (?s ?x) { (:a UNDEF) (UNDEF 2) }""".stripMargin,
      Seq("s", "x"))
    // (:a UNDEF) admits :a with any x; (UNDEF 2) admits any s with x=2
    assert(got == sorted(Seq(
      Vector(Some("http://example/a"), Some("1")),
      Vector(Some("http://example/b"), Some("2")))))
    // a row compatible with BOTH data rows joins twice? No — VALUES rows
    // are a multiset union: (:a 1) matches only the first VALUES row
    val both = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?x WHERE { ?s :p ?x
        |  VALUES (?s ?x) { (:a UNDEF) (:a 1) } }""".stripMargin,
      Seq("s", "x"))
    assert(both == Seq(
      Vector(Some("http://example/a"), Some("1")),
      Vector(Some("http://example/a"), Some("1"))))
  }

  test("§18.5.1 DISTINCT aggregates evaluate over the DISTINCT multiset " +
    "of EXPRESSION values: SUM(DISTINCT ?x+1), COUNT(DISTINCT ?x*0)") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 1 . :b :v 1 . :c :v 2 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (SUM(DISTINCT ?x+1) AS ?sd) (COUNT(DISTINCT ?x*0) AS ?cd)
        |       (AVG(DISTINCT ?x+0) AS ?ad)
        |WHERE { ?s :v ?x }""".stripMargin, Seq("sd", "cd", "ad"))
    // values of ?x+1: {2,2,3} -> distinct {2,3} -> sum 5 (NOT 7); ?x*0:
    // {0,0,0} -> 1 distinct value; ?x+0 distinct {1,2} -> avg 1.5
    // (numeric compare: the engine's numeric tower renders via xsd:double)
    assert(got.length == 1)
    assert(got.head(0).map(_.toDouble).contains(5.0))
    assert(got.head(1).map(_.toDouble).contains(1.0))
    assert(got.head(2).map(_.toDouble).contains(1.5))
  }

  test("§16.2 CONSTRUCT over a property-path WHERE pattern instantiates " +
    "the template once per path solution") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :edge :b . :b :edge :c . :c :edge :d .""".stripMargin)
    val g = eng.construct(
      """PREFIX : <http://example/>
        |CONSTRUCT { ?x :reach ?y } WHERE { ?x :edge+ ?y }""".stripMargin)
      .collect().map(r => (r.getAs[String]("s"),
        r.getStruct(r.fieldIndex("o")).getString(1))).toSet
    assert(g == Set(
      ("http://example/a", "http://example/b"),
      ("http://example/a", "http://example/c"),
      ("http://example/a", "http://example/d"),
      ("http://example/b", "http://example/c"),
      ("http://example/b", "http://example/d"),
      ("http://example/c", "http://example/d")))
  }

  test("§6.2/18.2.2.2 nested OPTIONAL evaluates BOTTOM-UP: the classic " +
    "non-well-designed pattern binds the outer ?v, not the inner") {
    // Pérez et al.'s example, as used in the spec's scoping discussion:
    // the inner OPTIONAL joins {:x3 :q ?w} with {:x2 :p ?v} FIRST
    val eng = engine("""@prefix : <http://example/> .
      |:x1 :p 1 . :x2 :p 2 . :x3 :q 3 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?v ?w WHERE {
        |  :x1 :p ?v . OPTIONAL { :x3 :q ?w . OPTIONAL { :x2 :p ?v } }
        |}""".stripMargin, Seq("v", "w"))
    // inner group yields (w=3, v=2); incompatible with v=1 -> outer
    // OPTIONAL keeps v=1 with w unbound
    assert(got == Seq(Vector(Some("1"), None)))
  }

  test("§17.1 decimal lexical forms round-trip through STR; value " +
    "equality ignores lexical variants, sameTerm does not") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "1.50"^^<http://www.w3.org/2001/XMLSchema#decimal> .
      |:b :v "1.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .
      |:c :v "-0.0"^^<http://www.w3.org/2001/XMLSchema#double> .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?s ?str ?eq ?z ?st WHERE { ?s :v ?x .
        |  BIND(STR(?x) AS ?str)
        |  BIND(?x = "1.5"^^xsd:decimal AS ?eq)
        |  BIND(?x = "0.0"^^xsd:double AS ?z)
        |  BIND(sameTerm(?x, "1.5"^^xsd:decimal) AS ?st)
        |}""".stripMargin, Seq("s", "str", "eq", "z", "st"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/a"), Some("1.50"), Some("true"),
        Some("false"), Some("false")),
      Vector(Some("http://example/b"), Some("1.5"), Some("true"),
        Some("false"), Some("true")),
      // negative zero EQUALS positive zero in the value space, while its
      // lexical form survives STR verbatim
      Vector(Some("http://example/c"), Some("-0.0"), Some("false"),
        Some("true"), Some("false")))))
  }

  test("§18.5.1.7 GROUP_CONCAT coerces non-string values to their " +
    "lexical forms before joining") {
    val eng = engine("""@prefix : <http://example/> .
      |:g :v 1 . :g :v 2.5 . :g :v "x" . :g :v true .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (GROUP_CONCAT(?x; separator="|") AS ?c)
        |WHERE { ?s :v ?x }""".stripMargin, Seq("c"))
    assert(got.size == 1)
    val parts = got.head.head.get.split("\\|").toSet
    assert(parts == Set("1", "2.5", "x", "true"))
  }

  // ---- tranche 12 ----

  test("§18.2.4.2 a SELECT expression may use a variable introduced by an " +
      "EARLIER expression in the same projection (Extend is sequential)") {
    val got = rows(engine(books),
      """PREFIX ns: <http://example.org/ns#>
        |SELECT (?p + 1 AS ?a) (?a * 2 AS ?b) WHERE { ?bk ns:price ?p }""".stripMargin,
      Seq("a", "b"))
    assert(got == sorted(Seq(
      Vector(Some("24"), Some("48")),
      Vector(Some("43"), Some("86")))))
  }

  test("§18.4 zero-length path with CONSTANT endpoints: a term reaches " +
      "itself via p* even when absent from the graph; distinct constants " +
      "need a real path") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p :b .""".stripMargin)
    assert(eng.ask("PREFIX : <http://example/> ASK { :c :p* :c }"))
    assert(eng.ask("PREFIX : <http://example/> ASK { :a :p* :b }"))
    assert(!eng.ask("PREFIX : <http://example/> ASK { :c :p* :d }"))
    assert(!eng.ask("PREFIX : <http://example/> ASK { :b :p* :a }"))
  }

  test("§9.1 inverse of a GROUPED sequence ^(p/q) traverses q then p " +
      "backwards (equals ^q/^p)") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p :b . :b :q :c .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { :c ^(:p/:q) ?x }""".stripMargin, Seq("x"))
    assert(got == Seq(Vector(Some("http://example/a"))))
  }

  test("§17.3 operator < is undefined for language-tagged literals " +
      "(not in the operator table) — the FILTER error drops the row; " +
      "plain-literal < still works") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "alpha"@en . :b :w "alpha" .""".stripMargin)
    val tagged = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { :a :v ?x FILTER(?x < "zzz"@en) }""".stripMargin,
      Seq("x"))
    assert(tagged.isEmpty)
    val plain = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { :b :w ?x FILTER(?x < "zzz") }""".stripMargin,
      Seq("x"))
    assert(plain == Seq(Vector(Some("alpha"))))
  }

  test("§17.4 numeric division by zero is an error: BIND leaves the " +
      "variable unbound, COALESCE falls through, FILTER drops") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 10 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?d ?c WHERE {
        |  :a :v ?x
        |  BIND(?x / 0 AS ?d)
        |  BIND(COALESCE(?x / 0, -1) AS ?c)
        |}""".stripMargin, Seq("d", "c"))
    assert(got == Seq(Vector(None, Some("-1"))))
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { :a :v ?x FILTER(?x / 0 > 0) }""".stripMargin,
      Seq("x")).isEmpty)
  }

  test("§16.4 DESCRIBE of MULTIPLE explicit IRIs unions their concise " +
      "bounded descriptions") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :q 2 . :c :r 3 .""".stripMargin)
    val got = eng.describeQuery(
      "PREFIX : <http://example/> DESCRIBE :a :b")
      .select("s").collect().map(_.getString(0)).toSet
    assert(got == Set("http://example/a", "http://example/b"))
  }

  test("§17.4.1.4 EXISTS composes inside expressions: IF(EXISTS…), " +
      "EXISTS || cmp, !EXISTS, NOT EXISTS && cmp (r12 general form)") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :a :q 5 . :b :p 2 .""".stripMargin)
    val pre = "PREFIX : <http://example/>\n"
    // IF(EXISTS{…},…) inside BIND
    val got = rows(eng, pre +
      """SELECT ?s ?v WHERE {
        |  ?s :p ?x .
        |  BIND(IF(EXISTS { ?s :q ?y }, "has-q", "no-q") AS ?v)
        |}""".stripMargin, Seq("s", "v"))
    assert(sorted(got) == sorted(Seq(
      Vector(Some("http://example/a"), Some("has-q")),
      Vector(Some("http://example/b"), Some("no-q")))))
    // EXISTS || comparison in a FILTER — both disjuncts contribute
    val got2 = rows(eng, pre +
      "SELECT ?s WHERE { ?s :p ?x FILTER(EXISTS { ?s :q ?y } || ?x > 1) }",
      Seq("s"))
    assert(sorted(got2) == sorted(Seq(
      Vector(Some("http://example/a")), Vector(Some("http://example/b")))))
    // !EXISTS via the unary-negation path
    val got3 = rows(eng, pre +
      "SELECT ?s WHERE { ?s :p ?x FILTER(!EXISTS { ?s :q ?y }) }", Seq("s"))
    assert(got3 == Seq(Vector(Some("http://example/b"))))
    // NOT EXISTS && comparison
    val got4 = rows(eng, pre +
      "SELECT ?s WHERE { ?s :p ?x FILTER(NOT EXISTS { ?s :q ?y } && ?x = 2) }",
      Seq("s"))
    assert(got4 == Seq(Vector(Some("http://example/b"))))
    // two EXISTS marks in one expression
    val got5 = rows(eng, pre +
      "SELECT ?s WHERE { ?s :p ?x " +
        "FILTER(EXISTS { ?s :q ?y } && !EXISTS { ?s :r ?z }) }", Seq("s"))
    assert(got5 == Seq(Vector(Some("http://example/a"))))
    // EXISTS in a SELECT projection expression (18.2.4: evaluated per
    // solution of the modified pattern)
    val got6 = rows(eng, pre +
      "SELECT ?s (EXISTS { ?s :q ?y } AS ?v) WHERE { ?s :p ?x }",
      Seq("s", "v"))
    assert(sorted(got6) == sorted(Seq(
      Vector(Some("http://example/a"), Some("true")),
      Vector(Some("http://example/b"), Some("false")))))
    // ORDER BY is a supported EXISTS position since tranche 24: the mark
    // sorts rows with the pattern apart from rows without
    val df7 = eng.select(pre +
      "SELECT ?s WHERE { ?s :p ?x } ORDER BY DESC(EXISTS { ?s :q ?y }) ?s")
    assert(df7.collect().head.getStruct(0).getString(1) == "http://example/a")
  }

  test("§16.4 DESCRIBE follows a DEEP bnode chain (1000-element rdf:list) " +
      "to fixpoint with the distributed frontier") {
    // :a :items ( "0" "1" … "999" ) — every cons cell is a bnode; the CBD
    // of :a must include the whole spine. The frontier loop must complete
    // without driver materialization of the closure (r12: DataFrame
    // anti-join frontier, lineage cut per level — this fixture is 1000
    // bnodes deep, far past any comfortable driver Set loop).
    val n = 1000
    val ttl = new StringBuilder("@prefix : <http://example/> .\n")
    ttl ++= ":a :items _:c0 .\n"
    (0 until n).foreach { i =>
      val rest = if (i == n - 1) "rdf:nil" else s"_:c${i + 1}"
      ttl ++= s"""_:c$i rdf:first "$i" ; rdf:rest $rest .\n"""
    }
    val eng = engine(
      "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n" +
        ttl.result())
    val got = eng.describeQuery("PREFIX : <http://example/> DESCRIBE :a")
    // 1 (:a :items) + 2 per cons cell (rdf:first + rdf:rest)
    assert(got.count() == 1 + 2L * n)
  }

  test("§11.4 HAVING on the implicit whole-set group (no GROUP BY) " +
      "filters the single aggregate row") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 42 . :b :v 23 .""".stripMargin)
    val keep = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (SUM(?x) AS ?s) WHERE { ?b :v ?x } HAVING (SUM(?x) > 10)""".stripMargin,
      Seq("s"))
    assert(keep == Seq(Vector(Some("65"))))
    val drop = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (SUM(?x) AS ?s) WHERE { ?b :v ?x } HAVING (SUM(?x) > 100)""".stripMargin,
      Seq("s"))
    assert(drop.isEmpty)
  }

  test("§17.4.3.14 REGEX flag 'q': the pattern is a literal string, " +
      "metacharacters match themselves") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "a.c" . :b :v "abc" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { ?s :v ?x FILTER REGEX(?x, "a.c", "q") }""".stripMargin,
      Seq("x"))
    assert(got == Seq(Vector(Some("a.c"))))
    // without the flag, '.' is a metacharacter and both match
    val both = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { ?s :v ?x FILTER REGEX(?x, "a.c") }""".stripMargin,
      Seq("x"))
    assert(both.size == 2)
  }

  test("§8.3 MINUS nested inside OPTIONAL: the subtrahend removes the " +
      "optional match, the outer row survives unbound") {
    val got = rows(engine(books),
      """PREFIX dc: <http://purl.org/dc/elements/1.1/>
        |PREFIX ns: <http://example.org/ns#>
        |SELECT ?t ?p WHERE {
        |  ?b dc:title ?t
        |  OPTIONAL { ?b ns:price ?p MINUS { ?b ns:price 23 } }
        |}""".stripMargin, Seq("t", "p"))
    assert(got == sorted(Seq(
      Vector(Some("SPARQL Tutorial"), Some("42")),
      Vector(Some("The Semantic Web"), None),
      Vector(Some("Third Book"), None))))
  }

  test("§16.2 grammar: a GRAPH block inside a CONSTRUCT template is a " +
      "parse error (templates are triples only in SPARQL 1.1)") {
    intercept[Exception](graft.parser.SparqlParser.parse(
      """PREFIX : <http://example/>
        |CONSTRUCT { GRAPH :g { ?s :p ?o } } WHERE { ?s :p ?o }""".stripMargin))
  }

  // ---- tranche 13 ----

  /** Two named graphs for GRAPH×path scoping: g1 has a→b→c, g2 has c→d. */
  private def twoGraphEngine(): Engine = {
    import TestSpark.spark.implicits._
    val cat = new GraphCatalog(TestSpark.spark)
    val q1 = TurtleReader.parse(
      "@prefix : <http://ex/> . :a :p :b . :b :p :c .")
      .map(_.copy(graph = "http://ex/g1"))
    val q2 = TurtleReader.parse("@prefix : <http://ex/> . :c :p :d .")
      .map(_.copy(graph = "http://ex/g2"))
    cat.addQuads((q1 ++ q2).toDS().toDF())
    new Engine(cat)
  }

  test("§13.3×18.4 GRAPH ?g scopes a transitive path to EACH named graph: " +
      "the closure never hops across graphs and ?g binds per graph") {
    val eng = twoGraphEngine()
    val got = rows(eng,
      """PREFIX : <http://ex/>
        |SELECT ?g ?y WHERE { GRAPH ?g { :a :p+ ?y } }""".stripMargin,
      Seq("g", "y"))
    // d is NOT reachable: the c→d hop lives in g2, the a→…→c prefix in g1
    assert(got == sorted(Seq(
      Vector(Some("http://ex/g1"), Some("http://ex/b")),
      Vector(Some("http://ex/g1"), Some("http://ex/c")))))
    val zero = rows(eng,
      """PREFIX : <http://ex/>
        |SELECT ?g ?y WHERE { GRAPH ?g { :c :p* ?y } }""".stripMargin,
      Seq("g", "y"))
    // zero-length identity binds per graph; the one-hop lives in g2 only
    assert(zero == sorted(Seq(
      Vector(Some("http://ex/g1"), Some("http://ex/c")),
      Vector(Some("http://ex/g2"), Some("http://ex/c")),
      Vector(Some("http://ex/g2"), Some("http://ex/d")))))
  }

  test("§17.4.3.4-5 STRBEFORE/STRAFTER result typing: a match carries the " +
      "FIRST argument's language; no match is the empty SIMPLE literal") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 1 .""".stripMargin)
    val got = eng.select(
      """PREFIX : <http://example/>
        |SELECT ?m ?nm ?af WHERE { ?s :v ?x .
        |  BIND(STRBEFORE("abc"@en, "b") AS ?m)
        |  BIND(STRBEFORE("abc"@en, "xyz") AS ?nm)
        |  BIND(STRAFTER("abc"@en, "a") AS ?af) }""".stripMargin)
      .collect().head
    def langOf(i: Int) = Option(got.getStruct(i).getString(3))
    def valOf(i: Int) = got.getStruct(i).getString(1)
    assert(valOf(got.fieldIndex("m")) == "a" &&
      langOf(got.fieldIndex("m")) == Some("en"))
    assert(valOf(got.fieldIndex("nm")) == "" &&
      langOf(got.fieldIndex("nm")) == None)
    assert(valOf(got.fieldIndex("af")) == "bc" &&
      langOf(got.fieldIndex("af")) == Some("en"))
  }

  test("§17.4.3.3 SUBSTR out-of-range per fn:substring: start 0 clips to " +
      "the head, negative start shortens the window, len past the end " +
      "truncates") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 1 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?z ?neg ?long WHERE { ?s :v ?x .
        |  BIND(SUBSTR("12345", 0, 3) AS ?z)
        |  BIND(SUBSTR("12345", -3, 5) AS ?neg)
        |  BIND(SUBSTR("12345", 4, 9) AS ?long) }""".stripMargin,
      Seq("z", "neg", "long"))
    // fn:substring: positions p with round(start) <= p < round(start)+round(len)
    assert(got == Seq(Vector(Some("12"), Some("1"), Some("45"))))
  }

  test("§17.4.2.6 IRI() is the identity on IRIs; a language-tagged " +
      "argument is a type error") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 1 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?i ?e WHERE { ?s :v ?x .
        |  BIND(IRI(:a) AS ?i)
        |  BIND(IRI("x"@en) AS ?e) }""".stripMargin, Seq("i", "e"))
    assert(got == Seq(Vector(Some("http://example/a"), None)))
  }

  test("§18.2 UNION is a MULTISET union: identical branches double every " +
      "solution's multiplicity") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :a :p 2 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (COUNT(*) AS ?n) WHERE {
        |  { :a :p ?x } UNION { :a :p ?x }
        |}""".stripMargin, Seq("n"))
    assert(got == Seq(Vector(Some("4"))))
  }

  test("§19.8 numeric literal forms: '.5' is a decimal, '+5' a signed " +
      "integer, in data and in expressions") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v .5 . :b :v +5 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?x FILTER(?x = .5 || ?x = +5) }""".stripMargin,
      Seq("s"))
    assert(got == sorted(Seq(Vector(Some("http://example/a")),
      Vector(Some("http://example/b")))))
  }

  test("§17.5 casts apply the whiteSpace-collapse facet: " +
      "xsd:integer(' 5 ') is 5, not an error") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v " 5 " .""".stripMargin)
    val got = rows(eng,
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |PREFIX : <http://example/>
        |SELECT ?n WHERE { ?s :v ?x BIND(xsd:integer(?x) AS ?n) }""".stripMargin,
      Seq("n"))
    assert(got == Seq(Vector(Some("5"))))
  }

  test("§17.4.2.9 BNODE() with no argument yields a DISTINCT fresh blank " +
      "node per solution") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :a :p 2 . :a :p 3 .""".stripMargin)
    val got = eng.select(
      """PREFIX : <http://example/>
        |SELECT ?b WHERE { :a :p ?x BIND(BNODE() AS ?b) }""".stripMargin)
      .collect().map(_.getStruct(0).getString(1))
    assert(got.length == 3 && got.distinct.length == 3)
  }

  test("§8.1.2 EXISTS constrains but does NOT bind: variables matched " +
      "only inside EXISTS stay invisible outside") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :a :q 2 .""".stripMargin)
    val got = eng.select(
      """PREFIX : <http://example/>
        |SELECT * WHERE { :a :p ?x FILTER EXISTS { :a :q ?y } }""".stripMargin)
    assert(got.columns.toSet == Set("x"))
    assert(got.count() == 1)
  }

  // ---- tranche 14 (r11 cont.): select-expression chaining, error group
  // keys, path-inverse distribution, inline VALUES, lang preservation,
  // hash-argument typing, degenerate slices ----

  test("§18.2.4.1 a SELECT expression may reference a variable introduced " +
      "by a PREVIOUS expression in the same clause") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 3 . :b :v 10 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (?x + 1 AS ?y) (?y * 2 AS ?z) WHERE { ?s :v ?x }""".stripMargin,
      Seq("y", "z"))
    assert(got == sorted(Seq(
      Vector(Some("11"), Some("22")),
      Vector(Some("4"), Some("8")))))
  }

  test("§18.6 an ERROR in the GROUP BY key puts those solutions in their " +
      "own group with the key unbound") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 2 . :b :v 0 . :c :v 0 .""".stripMargin)
    // 10/?x errors for ?x=0: the two zero rows form the error group (key
    // unbound), the ?x=2 row groups under key 5.
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?k (COUNT(*) AS ?n) WHERE { ?s :v ?x }
        |GROUP BY (10 / ?x AS ?k)""".stripMargin,
      Seq("k", "n"))
    assert(got == sorted(Seq(
      Vector(Some("5"), Some("1")),
      Vector(None, Some("2")))))
  }

  test("§9.2 inverse distributes over a sequence: ^(p/q) ≡ ^q/^p") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p :m . :m :q :z . :other :q :z .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { :z ^(:p/:q) ?s }""".stripMargin, Seq("s"))
    assert(got == Seq(Vector(Some("http://example/a"))))
  }

  test("§10.2 VALUES inline inside the group joins at that point, same " +
      "solutions as the trailing form") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 1 . :b :v 2 . :c :v 3 .""".stripMargin)
    val q1 =
      """PREFIX : <http://example/>
        |SELECT ?s ?x WHERE { VALUES ?x { 1 3 } ?s :v ?x }""".stripMargin
    val q2 =
      """PREFIX : <http://example/>
        |SELECT ?s ?x WHERE { ?s :v ?x VALUES ?x { 1 3 } }""".stripMargin
    val expected = sorted(Seq(
      Vector(Some("http://example/a"), Some("1")),
      Vector(Some("http://example/c"), Some("3"))))
    assert(rows(eng, q1, Seq("s", "x")) == expected)
    assert(rows(eng, q2, Seq("s", "x")) == expected)
  }

  test("§17.4.3 UCASE/SUBSTR preserve the language tag of the first " +
      "argument") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "tone"@ga .""".stripMargin)
    val got = eng.select(
      """PREFIX : <http://example/>
        |SELECT ?u ?sub (LANG(?u) AS ?lu) (LANG(?sub) AS ?ls) WHERE {
        |  ?s :v ?x BIND(UCASE(?x) AS ?u) BIND(SUBSTR(?x, 2) AS ?sub)
        |}""".stripMargin).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getStruct(0).getString(1) == "TONE")
    assert(r.getStruct(1).getString(1) == "one")
    assert(r.getStruct(2).getString(1) == "ga")
    assert(r.getStruct(3).getString(1) == "ga")
  }

  test("§17.4.4 hash functions take a simple/xsd:string literal: a " +
      "lang-tagged argument is a type error (unbound), an IRI too") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "x"@en . :b :v "x" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?h WHERE { ?s :v ?x BIND(MD5(?x) AS ?h) }""".stripMargin,
      Seq("h"))
    // "x" hashes; "x"@en errors to unbound
    assert(got.length == 2)
    assert(got.count(_.head.isEmpty) == 1)
    assert(got.exists(_.head.exists(_.matches("[0-9a-f]{32}"))))
  }

  test("§15.4/15.5 degenerate slices: LIMIT 0 is empty; OFFSET past the " +
      "end is empty; OFFSET n drops exactly n in ORDER") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v 1 . :b :v 2 . :c :v 3 .""".stripMargin)
    def q(mods: String) =
      s"""PREFIX : <http://example/>
         |SELECT ?x WHERE { ?s :v ?x } ORDER BY ?x $mods""".stripMargin
    assert(rows(eng, q("LIMIT 0"), Seq("x")).isEmpty)
    assert(rows(eng, q("OFFSET 10"), Seq("x")).isEmpty)
    assert(rows(eng, q("OFFSET 2"), Seq("x")) == Seq(Vector(Some("3"))))
  }

  test("§18.2.1 a blank-node label may not be reused across two distinct " +
      "basic graph patterns of one query") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 .""".stripMargin)
    intercept[Exception] {
      eng.select(
        """PREFIX : <http://example/>
          |SELECT * WHERE { _:x :p ?a { _:x :q ?b } }""".stripMargin).collect()
    }
  }

  // ---- tranche 15 (r11 cont.): CONSTRUCT graph semantics, DESCRIBE term
  // kinds, VALUES term matching, path negation in sequences, filter scope
  // into OPTIONAL, boolean lexical space, slice grammar ----

  test("§16.2 CONSTRUCT emits a GRAPH: duplicate template instantiations " +
      "collapse to one triple") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :a :p 2 . :a :p 3 .""".stripMargin)
    // three solutions instantiate the SAME constant triple
    val got = eng.construct(
      """PREFIX : <http://example/>
        |CONSTRUCT { :a :hasValues :yes } WHERE { :a :p ?x }""".stripMargin)
      .collect()
    assert(got.length == 1)
  }

  test("§16.2 CONSTRUCT skips solutions that would instantiate an invalid " +
      "triple (unbound template variable), keeping the rest") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :p 2 . :b :q 9 .""".stripMargin)
    val got = eng.construct(
      """PREFIX : <http://example/>
        |CONSTRUCT { ?s :copied ?w } WHERE {
        |  ?s :p ?x OPTIONAL { ?s :q ?w }
        |}""".stripMargin).collect()
    // only :b has ?w bound; :a's solution instantiates nothing
    assert(got.length == 1)
    assert(got(0).getString(1) == "http://example/b")
  }

  test("§16.4 DESCRIBE ?x keeps only IRI bindings: literal bindings of " +
      "the describe variable contribute nothing") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v :target . :a :v "just a string" .
      |:target :name "T" .""".stripMargin)
    val got = eng.describeQuery(
      """PREFIX : <http://example/>
        |DESCRIBE ?x WHERE { :a :v ?x }""".stripMargin).collect()
    // CBD of :target (1 stmt) + the inbound arc :a :v :target
    assert(got.length == 2)
  }

  test("§10.2 VALUES matches by TERM: a lang-tagged entry joins only " +
      "lang-tagged data, not the plain literal") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "hi"@en . :b :v "hi" . :c :v "hi"@ga .""".stripMargin)
    val got = rows(engine("""@prefix : <http://example/> .
      |:a :v "hi"@en . :b :v "hi" . :c :v "hi"@ga .""".stripMargin),
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v ?x VALUES ?x { "hi"@en "hi" } }""".stripMargin,
      Seq("s"))
    assert(got == sorted(Seq(Vector(Some("http://example/a")),
      Vector(Some("http://example/b")))))
  }

  test("§9.1 negated property set INSIDE a sequence: :p/!(:q)/:r") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p :m . :m :x :n . :n :r :z .
      |:a :p :m2 . :m2 :q :n2 . :n2 :r :z2 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?end WHERE { :a :p/!(:q)/:r ?end }""".stripMargin, Seq("end"))
    // the :q hop is excluded, so only the :x route survives
    assert(got == Seq(Vector(Some("http://example/z"))))
  }

  test("§8.3.1 a FILTER inside OPTIONAL may reference a variable bound " +
      "only in the OUTER pattern") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 5 . :a :q 3 . :b :p 2 . :b :q 9 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?w WHERE {
        |  ?s :p ?v OPTIONAL { ?s :q ?w FILTER(?w < ?v) }
        |}""".stripMargin, Seq("s", "w"))
    // :a keeps its optional (3 < 5); :b's fails the filter → ?w unbound
    assert(got == sorted(Seq(
      Vector(Some("http://example/a"), Some("3")),
      Vector(Some("http://example/b"), None))))
  }

  test("§17.5 xsd:boolean cast lexical space: 'true'/'1' → true, " +
      "'false'/'0' → false, anything else errors") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "true" . :b :v "1" . :c :v "false" . :d :v "0" .
      |:e :v "TRUE" .""".stripMargin)
    val got = rows(eng,
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |PREFIX : <http://example/>
        |SELECT ?s ?b WHERE { ?s :v ?x BIND(xsd:boolean(?x) AS ?b) }""".stripMargin,
      Seq("s", "b"))
    val m = got.map(v => v(0).get -> v(1)).toMap
    assert(m("http://example/a") == Some("true"))
    assert(m("http://example/b") == Some("true"))
    assert(m("http://example/c") == Some("false"))
    assert(m("http://example/d") == Some("false"))
    assert(m("http://example/e") == None) // invalid lexical form → error
  }

  // ---- tranche 22 (r11 cont.): dataset clauses on every query form ----

  test("§19.8 ASK / CONSTRUCT / DESCRIBE accept DatasetClause* like " +
      "SELECT: FROM scopes the pattern to the named graph") {
    import TestSpark.spark
    import spark.implicits._
    val cat = new graft.sources.GraphCatalog(spark)
    cat.addQuads(Seq(
      graft.model.Quad("urn:g1", "urn:a", "urn:p", graft.model.RdfTerm.int(1)),
      graft.model.Quad(graft.model.Rdf.DefaultGraph, "urn:b", "urn:p",
        graft.model.RdfTerm.int(2))).toDS().toDF())
    val eng = new Engine(cat)
    // ASK: the named graph has data; a missing graph does not
    assert(eng.ask("ASK FROM <urn:g1> { ?s ?p ?o }"))
    assert(!eng.ask("ASK FROM <urn:gx> { ?s ?p ?o }"))
    // CONSTRUCT: only the FROM graph's solutions instantiate
    val built = eng.construct(
      "CONSTRUCT { ?s <urn:copied> ?o } FROM <urn:g1> WHERE { ?s <urn:p> ?o }")
      .collect()
    assert(built.length == 1 && built(0).getString(1) == "urn:a")
    // DESCRIBE ?x: the WHERE is scoped, so only urn:g1's subject describes
    val d = eng.describeQuery(
      "DESCRIBE ?x FROM <urn:g1> WHERE { ?x <urn:p> ?o }").collect()
    assert(d.map(_.getString(1)).toSet == Set("urn:a"))
    // CONSTRUCT WHERE shorthand: datasets sit directly after CONSTRUCT
    val short = eng.construct(
      "CONSTRUCT FROM <urn:g1> WHERE { ?s <urn:p> ?o }").collect()
    assert(short.length == 1 && short(0).getString(1) == "urn:a")
  }

  // ---- tranche 25 (r12 cont.): PN_LOCAL escapes, fresh-term builtins,
  // xsd:date ordering ----

  test("§19.8 PN_LOCAL_ESC: backslash escapes carry punctuation in " +
      "prefixed names, in Turtle data AND query; trailing escaped '.' " +
      "stays, unescaped '.' terminates") {
    // the escaped characters are literal name content: ex:o\,b == <…o,b>
    val eng = engine("""@prefix : <http://example/> .
      |:o\,b :p 1 .
      |:dot\. :p 2 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { :o\,b :p ?x }""".stripMargin, Seq("x"))
    assert(got == Seq(Vector(Some("1"))))
    // the trailing ESCAPED dot is part of the name
    val got2 = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { :dot\. :p ?x }""".stripMargin, Seq("x"))
    assert(got2 == Seq(Vector(Some("2"))))
  }

  test("§19.8 PLX: %HH sequences in a local name are pre-percent-encoded " +
      "content kept VERBATIM (not decoded)") {
    val eng = engine("""@prefix : <http://example/> .
      |:a%20b :p 3 .""".stripMargin)
    val got = eng.select(
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :p 3 }""".stripMargin).collect()
    assert(got.head.getStruct(0).getString(1) == "http://example/a%20b")
    val got2 = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { :a%20b :p ?x }""".stripMargin, Seq("x"))
    assert(got2 == Seq(Vector(Some("3"))))
  }

  test("§17.4.2.5 UUID() is a fresh urn:uuid IRI per call; STRUUID() a " +
      "fresh simple literal in UUID lexical form") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :p 2 .""".stripMargin)
    val got = eng.select(
      """PREFIX : <http://example/>
        |SELECT ?u ?su WHERE { ?s :p ?x
        |  BIND(UUID() AS ?u) BIND(STRUUID() AS ?su) }""".stripMargin)
      .collect()
    val us = got.map(_.getStruct(0)).toSeq
    val sus = got.map(_.getStruct(1)).toSeq
    // IRI kind, urn:uuid scheme, distinct across solutions
    assert(us.forall(u => u.getByte(0) == graft.model.Rdf.KindIri &&
      u.getString(1).startsWith("urn:uuid:")))
    assert(us.map(_.getString(1)).distinct.size == 2)
    // simple literal (no datatype/lang), UUID lexical form, distinct
    assert(sus.forall(v => v.getByte(0) == graft.model.Rdf.KindLiteral &&
      v.isNullAt(3) &&
      v.getString(1).matches("[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}")))
    assert(sus.map(_.getString(1)).distinct.size == 2)
  }

  test("§17.4.4.2 RAND() is an xsd:double in [0, 1) per solution") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :p 2 . :c :p 3 .""".stripMargin)
    val got = eng.select(
      """PREFIX : <http://example/>
        |SELECT ?r WHERE { ?s :p ?x BIND(RAND() AS ?r) }""".stripMargin)
      .collect().map(_.getStruct(0)).toSeq
    assert(got.forall(_.getString(2) ==
      "http://www.w3.org/2001/XMLSchema#double"))
    assert(got.forall { t =>
      val d = t.getString(1).toDouble; d >= 0.0 && d < 1.0
    })
  }

  test("§17.3 xsd:date comparison orders by day (the date's numeric " +
      "shadow), and a date never equals a plain string") {
    val eng = engine("""@prefix : <http://example/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |:a :d "2024-03-01"^^xsd:date . :b :d "2024-11-15"^^xsd:date .
      |:c :d "2023-12-31"^^xsd:date .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?s WHERE { ?s :d ?v
        |  FILTER(?v > "2024-01-01"^^xsd:date) }""".stripMargin, Seq("s"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/a")), Vector(Some("http://example/b")))))
  }

  // ---- tranche 24 (r12 cont.): EXISTS in the remaining expression
  // positions — HAVING, ORDER BY, GROUP BY keys (18.2.4-18.2.5: these run
  // over group/ordered solutions, so the EXISTS pattern correlates on
  // whatever variables the solution carries at that point) ----

  test("§18.2.4.4 EXISTS in HAVING correlates on the GROUP key") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :a :p 2 . :a :q 9 . :b :p 3 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s (SUM(?x) AS ?t) WHERE { ?s :p ?x }
        |GROUP BY ?s HAVING(EXISTS { ?s :q ?w })""".stripMargin, Seq("s", "t"))
    assert(got == Seq(Vector(Some("http://example/a"), Some("3"))))
  }

  test("§18.2.5.1 EXISTS as an ORDER BY key: rows with the pattern sort " +
      "apart from rows without (DESC puts true first)") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :p 2 . :c :p 3 . :b :q 9 .""".stripMargin)
    val df = eng.select(
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :p ?x }
        |ORDER BY DESC(EXISTS { ?s :q ?w }) ?s""".stripMargin)
    val got = df.collect().map(r => r.getStruct(0).getString(1)).toSeq
    assert(got == Seq("http://example/b", "http://example/a", "http://example/c"))
  }

  test("§18.2.4.1 EXISTS inside a GROUP BY key expression evaluates per " +
      "INPUT solution (pre-group)") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :a :q 9 . :b :p 2 . :c :p 3 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?flag (COUNT(*) AS ?n) WHERE { ?s :p ?x }
        |GROUP BY (EXISTS { ?s :q ?w } AS ?flag)""".stripMargin,
      Seq("flag", "n"))
    assert(got == sorted(Seq(
      Vector(Some("true"), Some("1")),
      Vector(Some("false"), Some("2")))))
  }

  test("CONSTRUCT solution modifiers: EXISTS in ORDER BY with LIMIT picks " +
      "the marked row first") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :p 2 . :b :q 9 .""".stripMargin)
    val g = eng.construct(
      """PREFIX : <http://example/>
        |CONSTRUCT { ?s :chosen true } WHERE { ?s :p ?x }
        |ORDER BY DESC(EXISTS { ?s :q ?w }) LIMIT 1""".stripMargin)
    assert(g.collect().map(_.getString(1)).toSeq == Seq("http://example/b"))
  }

  // ---- tranche 30 (r12 cont.): pinned CLEAN — inverse of a grouped
  // SEQUENCE path and closure over an ALTERNATIVE ----

  test("§9.1 ^(p/q) inverts the WHOLE sequence (== ^q/^p); (r|s)+ walks " +
      "mixed-predicate chains") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p :m . :m :q :b .
      |:b :r :c . :c :s :d . :d :r :e .""".stripMargin)
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { :b ^(:p/:q) ?x }""".stripMargin, Seq("x")) ==
      Seq(Vector(Some("http://example/a"))))
    // the other direction binds nothing (:b has no outgoing :p)
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { ?x ^(:p/:q) :b }""".stripMargin, Seq("x")).isEmpty)
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?y WHERE { :b (:r|:s)+ ?y }""".stripMargin, Seq("y")) ==
      sorted(Seq(Vector(Some("http://example/c")),
        Vector(Some("http://example/d")), Vector(Some("http://example/e")))))
  }

  // ---- tranche 29 (r12 cont.): pinned CLEAN — graph-scoped path
  // closures and langMatches language ranges ----

  test("§13.3 + §9.1 a CLOSURE path inside GRAPH ?g stays within each " +
      "named graph (never hops across graphs), binding ?g per graph") {
    import TestSpark.spark
    import spark.implicits._
    val cat = new GraphCatalog(spark)
    cat.addQuads(TrigReader.parse(
      """@prefix : <http://example/> .
        |:g1 { :x :p :y . :y :p :z . }
        |:g2 { :m :p :n . :z :p :w . }""".stripMargin).toDS().toDF())
    val eng = new Engine(cat)
    val got = rows(eng,
      "SELECT ?g ?a ?b WHERE { GRAPH ?g { ?a <http://example/p>+ ?b } }",
      Seq("g", "a", "b"))
    // x+ reaches z inside g1 but NOT w (the z->w edge lives in g2)
    assert(got == sorted(Seq(
      Vector(Some("http://example/g1"), Some("http://example/x"), Some("http://example/y")),
      Vector(Some("http://example/g1"), Some("http://example/y"), Some("http://example/z")),
      Vector(Some("http://example/g1"), Some("http://example/x"), Some("http://example/z")),
      Vector(Some("http://example/g2"), Some("http://example/m"), Some("http://example/n")),
      Vector(Some("http://example/g2"), Some("http://example/z"), Some("http://example/w")))))
  }

  test("§17.4.3.1 langMatches: a basic range matches extended tags " +
      "(en ~ en-GB); \"*\" matches any tagged literal, never plain") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :lbl "color"@en . :a :lbl "couleur"@fr .
      |:a :lbl "colour"@en-GB . :a :lbl "plain" .""".stripMargin)
    val en = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?l WHERE { ?s :lbl ?l
        |  FILTER(LANGMATCHES(LANG(?l), "en")) }""".stripMargin, Seq("l"))
    assert(en == sorted(Seq(Vector(Some("color")), Vector(Some("colour")))))
    val any = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?l WHERE { ?s :lbl ?l
        |  FILTER(LANGMATCHES(LANG(?l), "*")) }""".stripMargin, Seq("l"))
    assert(any == sorted(Seq(Vector(Some("color")), Vector(Some("colour")),
      Vector(Some("couleur")))))
  }

  // ---- tranche 28 (r12 cont.): surface corners pinned CLEAN — multiple
  // HAVING constraints, blank-node property lists, RDF collection
  // syntax in patterns, typed VALUES ----

  test("§19.8 HavingClause admits MULTIPLE constraints, conjoined") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :a :p 2 . :b :p 3 . :c :p 4 . :c :p 5 . :c :p 6 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s (COUNT(*) AS ?n) WHERE { ?s :p ?x }
        |GROUP BY ?s HAVING (?n > 1) (?n < 3)""".stripMargin, Seq("s", "n"))
    assert(got == Seq(Vector(Some("http://example/a"), Some("2"))))
    // trailing text after a complete query is a SYNTAX error (the dropped
    // second HAVING constraint hid behind silent trailing input)
    val e = intercept[IllegalArgumentException] {
      eng.select("""PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :p ?x } garbage here""".stripMargin)
    }
    assert(e.getMessage.contains("trailing"))
  }

  test("§19.8 blank-node property lists and COLLECTION syntax match " +
      "structurally in patterns") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :q ( 1 2 ) .
      |:x :knows [ :name "inner" ; :age 7 ] .""".stripMargin)
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?who ?nm WHERE { ?who :knows [ :name ?nm ] }""".stripMargin,
      Seq("who", "nm")) ==
      Seq(Vector(Some("http://example/x"), Some("inner"))))
    // a collection in a pattern matches the rdf:first/rest encoding
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :q ( 1 2 ) }""".stripMargin, Seq("s")) ==
      Seq(Vector(Some("http://example/a"))))
    // ...and a wrong collection does not
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :q ( 1 3 ) }""".stripMargin, Seq("s")).isEmpty)
  }

  test("§10.2 VALUES with TYPED literals joins on the term value") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 2 . :b :p 3 . :c :p 9 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?s WHERE { ?s :p ?x } VALUES ?x { "2"^^xsd:integer 3 }"""
        .stripMargin, Seq("s"))
    assert(got == sorted(Seq(Vector(Some("http://example/a")),
      Vector(Some("http://example/b")))))
  }

  // ---- tranche 27 (r12 cont.): grouping/projection strictness, the
  // Graph(var, {}) enumeration, bare negated-set members in sequences,
  // and empty-solution aggregate values ----

  test("§18.2.4.1 empty-solution aggregates: SUM=0, AVG=0, COUNT=0, " +
      "GROUP_CONCAT=\"\", MAX unbound") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT (SUM(?x) AS ?s) (AVG(?x) AS ?a) (COUNT(?x) AS ?c)
        |       (GROUP_CONCAT(?x) AS ?g) (MAX(?x) AS ?m)
        |WHERE { ?z :nosuch ?x }""".stripMargin, Seq("s", "a", "c", "g", "m"))
    assert(got == Seq(Vector(Some("0"), Some("0"), Some("0"), Some(""), None)))
  }

  test("§18.2.4.1 projection restriction: a plain variable outside the " +
      "GROUP BY keys (or SELECT * with aggregates) is a SYNTAX error") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 .""".stripMargin)
    val e1 = intercept[IllegalArgumentException] {
      eng.select("""PREFIX : <http://example/>
        |SELECT ?s (COUNT(*) AS ?n) WHERE { ?s :p ?x }""".stripMargin)
    }
    assert(e1.getMessage.contains("GROUP BY key"))
    val e2 = intercept[IllegalArgumentException] {
      eng.select("""PREFIX : <http://example/>
        |SELECT * WHERE { ?s :p ?x } GROUP BY ?s""".stripMargin)
    }
    assert(e2.getMessage.contains("SELECT *"))
    // the legal grouped form still works
    assert(rows(eng, """PREFIX : <http://example/>
      |SELECT ?s (COUNT(*) AS ?n) WHERE { ?s :p ?x } GROUP BY ?s"""
      .stripMargin, Seq("s", "n")) ==
      Seq(Vector(Some("http://example/a"), Some("1"))))
  }

  test("§18.2.2.6 GRAPH ?g with a pattern-free body enumerates the NAMED " +
      "graphs, one solution each (default graph never enumerates)") {
    import TestSpark.spark
    import spark.implicits._
    val cat = new GraphCatalog(spark)
    cat.addQuads(TrigReader.parse(
      """@prefix : <http://example/> .
        |:a :p 1 .
        |:g1 { :b :p 2 . }
        |:g2 { :c :p 3 . }""".stripMargin).toDS().toDF())
    val eng = new Engine(cat)
    val got = rows(eng, "SELECT ?g WHERE { GRAPH ?g { } }", Seq("g"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/g1")), Vector(Some("http://example/g2")))))
    // a body that binds OTHER vars but not ?g still cross-joins the
    // enumeration (each named graph contributes eval(P) x {g})
    val got2 = rows(eng,
      "SELECT ?g ?v WHERE { GRAPH ?g { BIND(7 AS ?v) } }", Seq("g", "v"))
    assert(got2 == sorted(Seq(
      Vector(Some("http://example/g1"), Some("7")),
      Vector(Some("http://example/g2"), Some("7")))))
  }

  test("§19.8 PathNegatedPropertySet: the bare single-member form !iri " +
      "needs no parentheses — !:q/:r parses as (!:q)/:r") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :x :m . :a :q :m2 . :m :r :o1 . :m2 :r :o2 . :m :z :w .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?o WHERE { ?s !:q/:r ?o }""".stripMargin, Seq("s", "o"))
    // only the :x hop survives the negation; :q is excluded
    assert(got == Seq(
      Vector(Some("http://example/a"), Some("http://example/o1"))))
    // bare inverse member: ?s !^:r :m ≡ { :m ?p ?s . FILTER(?p != :r) }
    // — :m's only non-:r outgoing edge is :z to :w
    val got2 = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s !^:r :m }""".stripMargin, Seq("s"))
    assert(got2 == Seq(Vector(Some("http://example/w"))))
    val got3 = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s !^:r :w }""".stripMargin, Seq("s"))
    assert(got3.isEmpty)
  }

  // ---- tranche 26 (r12 cont.): EXISTS in the LAST two expression
  // positions — OPTIONAL join conditions (18.2.5: the condition evaluates
  // over merge(mu1, mu2), so the mark binds on the MERGED solution inside
  // the LeftJoin) and aggregate arguments (18.2.4: per INPUT solution) ----

  test("§18.2.5 expression-EXISTS in an OPTIONAL's condition: the mark " +
      "evaluates over the merged solution; failing rows keep the bare left") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :p 2 . :c :p 3 .
      |:a :flag true .
      |:a :r 10 . :b :r 20 . :c :r 12 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?v WHERE { ?s :p ?x
        |  OPTIONAL { ?s :r ?v FILTER(EXISTS { ?s :flag true } || ?v > 15) }
        |}""".stripMargin, Seq("s", "v"))
    // a: EXISTS holds; b: 20 > 15; c: neither -> bare row, ?v unbound
    assert(got == sorted(Seq(
      Vector(Some("http://example/a"), Some("10")),
      Vector(Some("http://example/b"), Some("20")),
      Vector(Some("http://example/c"), None))))
  }

  test("§18.2.5 NOT EXISTS composed in an OPTIONAL's condition with a " +
      "conjunction") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :b :p 2 .
      |:b :blocked true .
      |:a :r 10 . :b :r 20 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?v WHERE { ?s :p ?x
        |  OPTIONAL { ?s :r ?v FILTER(!EXISTS { ?s :blocked true } && ?v < 50) }
        |}""".stripMargin, Seq("s", "v"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/a"), Some("10")),
      Vector(Some("http://example/b"), None))))
  }

  test("§18.2.4 EXISTS inside an AGGREGATE ARGUMENT evaluates per " +
      "pre-group input solution, correlating on a grouped-away variable") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :a :p 2 . :b :p 3 . :a :q 1 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s (SUM(IF(EXISTS { ?s :q ?w }, ?x, 0)) AS ?t)
        |WHERE { ?s :p ?x } GROUP BY ?s""".stripMargin, Seq("s", "t"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/a"), Some("3")),
      Vector(Some("http://example/b"), Some("0")))))
  }

  // ---- tranche 23 (r12): federation error bodies + Update graph-
  // management corners ----

  test("Fed §5 endpoint errors surface the RESPONSE BODY; a 200 with a " +
      "malformed results document errors non-SILENT and unit-rows SILENT") {
    import TestSpark.spark
    import spark.implicits._
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    try {
      server.createContext("/err", (ex: com.sun.net.httpserver.HttpExchange) => {
        val body = "Query parse error: unbound prefix 'wibble' at line 1"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "text/plain")
        ex.sendResponseHeaders(400, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      })
      server.createContext("/garbage", (ex: com.sun.net.httpserver.HttpExchange) => {
        val body = "<html>not sparql results</html>"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "text/html")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      })
      server.start()
      val port = server.getAddress.getPort
      val cat = new GraphCatalog(spark)
      cat.addQuads(TurtleReader.parse(
        "@prefix : <http://example/> .\n:a :p :b .").toDS().toDF())
      cat.registerEndpoint("http://err.example/sparql",
        new graft.sources.HttpEndpoint(s"http://127.0.0.1:$port/err"))
      cat.registerEndpoint("http://garbage.example/sparql",
        new graft.sources.HttpEndpoint(s"http://127.0.0.1:$port/garbage"))
      val eng = new Engine(cat)
      // the remote's textual explanation rides the exception, not just
      // the status code
      val e1 = intercept[Exception] {
        rows(eng,
          """PREFIX : <http://example/>
            |SELECT ?z WHERE { ?s :p ?o .
            |  SERVICE <http://err.example/sparql> { ?s :q ?z } }""".stripMargin,
          Seq("z"))
      }
      val msg = Option(e1.getMessage).getOrElse("") +
        Option(e1.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains("400") && msg.contains("unbound prefix 'wibble'"))
      // a malformed 200 body is an execution failure too
      intercept[Exception] {
        rows(eng,
          """PREFIX : <http://example/>
            |SELECT ?z WHERE { ?s :p ?o .
            |  SERVICE <http://garbage.example/sparql> { ?s :q ?z } }""".stripMargin,
          Seq("z"))
      }
      val silent = rows(eng,
        """PREFIX : <http://example/>
          |SELECT ?s ?z WHERE { ?s :p ?o .
          |  SERVICE SILENT <http://garbage.example/sparql> { ?s :q ?z } }"""
          .stripMargin, Seq("s", "z"))
      assert(silent == Seq(Vector(Some("http://example/a"), None)))
    } finally server.stop(0)
  }

  test("Update §3.2.3-5 COPY/MOVE/ADD corners: same-graph transfers are " +
      "NO-OPS (a naive clear-then-insert would destroy the graph); COPY " +
      "from an empty source CLEARS the destination; ADD from empty is a " +
      "no-op") {
    import TestSpark.spark
    import spark.implicits._
    def store(ttl: (String, String)*): org.apache.spark.sql.DataFrame =
      ttl.flatMap { case (g, doc) =>
        TurtleReader.parse(doc).map(q => q.copy(graph = g))
      }.toDS().toDF()
    def graphs(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.groupBy("graph").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val s0 = store(
      ("urn:g1", "@prefix : <http://example/> .\n:a :p 1 . :a :p 2 ."),
      ("urn:g2", "@prefix : <http://example/> .\n:b :q 3 ."))
    // MOVE <g> TO <g>: no-op — data survives
    assert(graphs(graft.sources.GraphUpdate.update(s0,
      "MOVE GRAPH <urn:g1> TO GRAPH <urn:g1>")) ==
      Map("urn:g1" -> 2L, "urn:g2" -> 1L))
    // COPY <g> TO <g> / ADD <g> TO <g>: equally no-ops
    assert(graphs(graft.sources.GraphUpdate.update(s0,
      "COPY GRAPH <urn:g2> TO GRAPH <urn:g2>")) ==
      Map("urn:g1" -> 2L, "urn:g2" -> 1L))
    assert(graphs(graft.sources.GraphUpdate.update(s0,
      "ADD GRAPH <urn:g2> TO GRAPH <urn:g2>")) ==
      Map("urn:g1" -> 2L, "urn:g2" -> 1L))
    // COPY from an EMPTY source: destination ends up empty (cleared)
    assert(graphs(graft.sources.GraphUpdate.update(s0,
      "COPY GRAPH <urn:nothere> TO GRAPH <urn:g2>")) ==
      Map("urn:g1" -> 2L))
    // ADD from an empty source: destination unchanged
    assert(graphs(graft.sources.GraphUpdate.update(s0,
      "ADD GRAPH <urn:nothere> TO GRAPH <urn:g2>")) ==
      Map("urn:g1" -> 2L, "urn:g2" -> 1L))
    // MOVE DEFAULT TO <g>: the default graph empties into the target
    val s1 = store(
      (graft.model.Rdf.DefaultGraph, "@prefix : <http://example/> .\n:d :p 1 ."),
      ("urn:g1", "@prefix : <http://example/> .\n:a :p 1 ."))
    assert(graphs(graft.sources.GraphUpdate.update(s1,
      "MOVE DEFAULT TO GRAPH <urn:g1>")) == Map("urn:g1" -> 1L))
  }

  // ---- tranche 21 (r11 cont.): EXISTS in expression position ----

  test("§17.4.1.4 EXISTS as a bound EXPRESSION: BIND(EXISTS{..} AS ?b) " +
      "marks each solution without changing multiplicity") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :a :p 2 . :a :q 9 . :b :p 3 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?x ?b WHERE {
        |  ?s :p ?x BIND(EXISTS { ?s :q ?w } AS ?b)
        |}""".stripMargin, Seq("s", "x", "b"))
    // :a contributes TWO rows (multiplicity preserved), both marked true
    assert(got == sorted(Seq(
      Vector(Some("http://example/a"), Some("1"), Some("true")),
      Vector(Some("http://example/a"), Some("2"), Some("true")),
      Vector(Some("http://example/b"), Some("3"), Some("false")))))
  }

  test("§17.4.1.4 NOT EXISTS as a bound expression inverts the mark; " +
      "the bound boolean is usable downstream") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 . :a :q 9 . :b :p 3 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE {
        |  ?s :p ?x BIND(NOT EXISTS { ?s :q ?w } AS ?lonely)
        |  FILTER(?lonely)
        |}""".stripMargin, Seq("s"))
    assert(got == Seq(Vector(Some("http://example/b"))))
  }

  // ---- tranche 20 (r11 cont.): RDF-star pattern/builtin corners ----

  test("SPARQL-star: a quoted pattern with an inner VARIABLE matches " +
      "annotated triples and binds through the annotation") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :knows :b {| :since 1999 ; :by :census |} .
      |:a :knows :c {| :since 2005 |} .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?who ?y WHERE { << :a :knows ?who >> :since ?y }""".stripMargin,
      Seq("who", "y"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/b"), Some("1999")),
      Vector(Some("http://example/c"), Some("2005")))))
  }

  test("SPARQL-star: TRIPLE() constructs the same term the annotation " +
      "loader minted, so constructed and loaded quoted triples JOIN") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :knows :b {| :since 1999 |} .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?y WHERE {
        |  BIND(TRIPLE(:a, :knows, :b) AS ?t) ?t :since ?y
        |}""".stripMargin, Seq("y"))
    assert(got == Seq(Vector(Some("1999"))))
  }

  test("SPARQL-star: isTRIPLE discriminates quoted-triple terms; " +
      "OBJECT() recovers the inner object") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :knows :b {| :since 1999 |} .
      |:x :plain :y .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?o WHERE {
        |  ?t :since ?y FILTER(isTRIPLE(?t)) BIND(OBJECT(?t) AS ?o)
        |}""".stripMargin, Seq("o"))
    assert(got == Seq(Vector(Some("http://example/b"))))
  }

  // ---- tranche 19 (r11 cont.): property-path composition corners ----

  test("§9.1 negated set of ONLY inverse members: !(^:p) matches every " +
      "backward edge except through :p") {
    val eng = engine("""@prefix : <http://example/> .
      |:y1 :p :x . :y2 :q :x .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?w WHERE { :x !(^:p) ?w }""".stripMargin, Seq("w"))
    // backward edges into :x: via :p (excluded) and via :q (kept)
    assert(got == Seq(Vector(Some("http://example/y2"))))
  }

  test("§9.2 zero-or-one INSIDE a sequence: :p?/:q reaches both the " +
      "direct and the one-hop targets") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :q :direct .
      |:a :p :m . :m :q :hopped .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?t WHERE { :a :p?/:q ?t }""".stripMargin, Seq("t"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/direct")),
      Vector(Some("http://example/hopped")))))
  }

  test("§9.2 a GROUPED sequence under '?': (:p/:q)? is identity union " +
      "the two-hop step") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p :m . :m :q :z .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?t WHERE { :a (:p/:q)? ?t }""".stripMargin, Seq("t"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/a")),
      Vector(Some("http://example/z")))))
  }

  test("§9 property paths inside OPTIONAL join like ordinary patterns") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :name "A" . :a :p :m . :m :q :za .
      |:b :name "B" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?n ?t WHERE {
        |  ?s :name ?n OPTIONAL { ?s :p/:q ?t }
        |}""".stripMargin, Seq("n", "t"))
    assert(got == sorted(Seq(
      Vector(Some("A"), Some("http://example/za")),
      Vector(Some("B"), None))))
  }

  // ---- tranche 18 (r11 cont.): §21 results-format serialization rules ----

  test("§21 CSV results: IRIs bare, bnodes _:label, literals lose tags " +
      "and types, commas/quotes RFC-4180-escaped, CRLF rows, unbound empty") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v :iri1 ; :w "has,comma" .
      |:b :v _:bn1 ; :w "has\"quote" .
      |:c :v "tagged"@en .""".stripMargin)
    val csv = eng.selectCsv(
      """PREFIX : <http://example/>
        |SELECT ?s ?v ?w WHERE { ?s :v ?v OPTIONAL { ?s :w ?w } }
        |ORDER BY ?s""".stripMargin)
    val lines = csv.split("\r\n").toSeq
    assert(lines.head == "s,v,w")
    assert(lines(1) == "http://example/a,http://example/iri1,\"has,comma\"")
    assert(lines(2).startsWith("http://example/b,_:") &&
      lines(2).endsWith(",\"has\"\"quote\""))
    // lang tag dropped in CSV; the unbound ?w serializes as empty
    assert(lines(3) == "http://example/c,tagged,")
  }

  test("§21 TSV results: ?-prefixed header, IRIs in <>, literals in " +
      "Turtle syntax with @lang/^^, unbound empty") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "plain" . :b :v "tagged"@en . :c :v 7 . :d :v :iri .""".stripMargin)
    val tsv = eng.selectTsv(
      """PREFIX : <http://example/>
        |SELECT ?s ?v WHERE { ?s :v ?v } ORDER BY ?s""".stripMargin)
    val lines = tsv.split("\n").toSeq
    assert(lines.head == "?s\t?v")
    assert(lines(1) == "<http://example/a>\t\"plain\"")
    assert(lines(2) == "<http://example/b>\t\"tagged\"@en")
    assert(lines(3) ==
      "<http://example/c>\t\"7\"^^<http://www.w3.org/2001/XMLSchema#integer>")
    assert(lines(4) == "<http://example/d>\t<http://example/iri>")
  }

  // ---- tranche 17 (r11 cont.): lexical-form corners — long literals,
  // escapes, PN_LOCAL shapes, comments inside strings, aggregate errors ----

  test("§19.8 long literals: triple-quoted strings keep newlines and " +
      "embedded quotes; comparison sees the raw value") {
    val eng = engine("@prefix : <http://example/> .\n" +
      ":a :v \"\"\"line1\nline\"2\"\"\"\" .")
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?len WHERE { ?s :v ?x BIND(STRLEN(?x) AS ?len) }""".stripMargin,
      Seq("len"))
    // content = line1 \n line"2" — the first quote of the closing 4-run
    // belongs to the CONTENT (19.8 STRING_LITERAL_LONG_QUOTE): 13 chars
    assert(got == Seq(Vector(Some("13"))))
  }

  test("§19.2 \\u escapes decode in literals (query and data)") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "café" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v "café" }""".stripMargin, Seq("s"))
    assert(got == Seq(Vector(Some("http://example/a"))))
  }

  test("§19.8 PN_LOCAL admits interior dots: ex:foo.bar is one name, " +
      "the trailing dot still terminates the triple") {
    val eng = engine("""@prefix : <http://example/> .
      |:foo.bar :v 1 .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { :foo.bar :v ?x }""".stripMargin, Seq("x"))
    assert(got == Seq(Vector(Some("1"))))
  }

  test("§19.4 a '#' inside a string literal is content, not a comment") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "number #5" .  # this IS a comment
      |""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?x WHERE { ?s :v ?x FILTER(CONTAINS(?x, "#")) }""".stripMargin,
      Seq("x"))
    assert(got == Seq(Vector(Some("number #5"))))
  }

  test("§18.5.1.5 SUM over a group containing a type error is an error: " +
      "that group's sum is unbound, clean groups still sum") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :g "ok" ; :v 1 . :a2 :g "ok" ; :v 2 .
      |:b :g "bad" ; :v 3 . :b2 :g "bad" ; :v "oops" .""".stripMargin)
    val got = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?grp (SUM(?x) AS ?sum) WHERE { ?s :g ?grp ; :v ?x }
        |GROUP BY ?grp""".stripMargin, Seq("grp", "sum"))
    assert(got == sorted(Seq(
      Vector(Some("bad"), None),
      Vector(Some("ok"), Some("3")))))
  }

  test("GeoSPARQL Req.22 query rewrite: a topology predicate between " +
      "features/geometries expands to the WKT computation") {
    val eng = engine("""@prefix geo: <http://www.opengis.net/ont/geosparql#> .
      |@prefix : <http://example/> .
      |:park a :Area ;
      |  geo:hasGeometry :pg .
      |:pg geo:asWKT "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"^^geo:wktLiteral .
      |:fountain geo:hasGeometry :fg .
      |:fg geo:asWKT "POINT (5 5)"^^geo:wktLiteral .
      |:gate geo:hasGeometry :gg .
      |:gg geo:asWKT "POINT (25 5)"^^geo:wktLiteral .
      |:marker geo:asWKT "POINT (2 2)"^^geo:wktLiteral .
      |""".stripMargin)
    // feature-to-feature: the fountain (and the park itself — a polygon is
    // within itself per DE-9IM) qualify; the gate is outside
    val got = rows(eng,
      """PREFIX geo: <http://www.opengis.net/ont/geosparql#>
        |PREFIX : <http://example/>
        |SELECT ?f WHERE { ?f geo:sfWithin :park . ?f geo:hasGeometry ?any }""".stripMargin,
      Seq("f"))
    assert(got == sorted(Seq(Vector(Some("http://example/fountain")),
      Vector(Some("http://example/park")))))
    // bare-geometry subject (direct asWKT association) + variable object
    val got2 = rows(eng,
      """PREFIX geo: <http://www.opengis.net/ont/geosparql#>
        |PREFIX : <http://example/>
        |SELECT ?a WHERE { :marker geo:sfWithin ?a . ?a a :Area }""".stripMargin,
      Seq("a"))
    assert(got2 == Seq(Vector(Some("http://example/park"))))
  }

  test("§19.8 grammar: negative LIMIT/OFFSET are syntax errors") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :p 1 .""".stripMargin)
    intercept[Exception] {
      eng.select("SELECT ?x WHERE { ?s ?p ?x } LIMIT -1").collect()
    }
    intercept[Exception] {
      eng.select("SELECT ?x WHERE { ?s ?p ?x } OFFSET -2").collect()
    }
  }

  // ---- tranche 31 (r13): GRAPH ?g enumeration decided on MUST-bind ----

  test("§18.2.2.6 GRAPH ?g over a UNION with a non-binding arm: every arm " +
      "binds ?g per named graph (may-bind is not enough)") {
    import TestSpark.spark
    import spark.implicits._
    val cat = new GraphCatalog(spark)
    cat.addQuads(TrigReader.parse(
      """@prefix : <http://example/> .
        |:a :p 1 .
        |:g1 { :b :p 2 . }
        |:g2 { :c :p 3 . }""".stripMargin).toDS().toDF())
    val eng = new Engine(cat)
    // arm 1 binds ?g through its quads; arm 2 (empty group) must STILL
    // contribute one solution per named graph with ?g bound (18.2.2.6
    // applies per named graph, not per arm)
    val got = rows(eng,
      "SELECT ?g ?s WHERE { GRAPH ?g { { ?s ?p ?o } UNION {} } }",
      Seq("g", "s"))
    assert(got == sorted(Seq(
      Vector(Some("http://example/g1"), Some("http://example/b")),
      Vector(Some("http://example/g2"), Some("http://example/c")),
      Vector(Some("http://example/g1"), None),
      Vector(Some("http://example/g2"), None))), got)
    // an OPTIONAL-only body is also not must-bind: ?g still enumerates
    val got2 = rows(eng,
      "SELECT ?g WHERE { GRAPH ?g { OPTIONAL { ?s ?p ?o } } }", Seq("g"))
    assert(got2.map(_.head).toSet ==
      Set(Some("http://example/g1"), Some("http://example/g2")), got2)
  }

  // ---- tranche 32 (r14): results-XML writer corners + Update LOAD ----

  test("§21 (results-XML): xml:lang wins over datatype, typed literals " +
      "carry datatype, plain carry neither; bnodes strip _:, unbound " +
      "bindings are OMITTED, markup escapes in values") {
    val eng = engine("""@prefix : <http://example/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |:a :v "chat"@en ; :w "<&\"tag>" .
      |:b :v "5"^^xsd:int .
      |:c :v _:bn1 .""".stripMargin)
    val xml = eng.selectXml(
      """PREFIX : <http://example/>
        |SELECT ?s ?v ?w WHERE { ?s :v ?v OPTIONAL { ?s :w ?w } }
        |ORDER BY ?s""".stripMargin)
    assert(xml.startsWith("<?xml version=\"1.0\"?>"))
    assert(xml.contains(
      "<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">"))
    Seq("s", "v", "w").foreach(v =>
      assert(xml.contains(s"""<variable name="$v"/>"""), xml))
    // lang literal: xml:lang attr, and NEVER a datatype attr beside it
    // (a language-tagged literal's rdf:langString is implied, results-XML
    // writes only the tag)
    assert(xml.contains("""<literal xml:lang="en">chat</literal>"""), xml)
    assert(!xml.contains("langString"), xml)
    // typed literal keeps its datatype IRI
    assert(xml.contains(
      """<literal datatype="http://www.w3.org/2001/XMLSchema#int">5""" +
        "</literal>"), xml)
    // markup inside a literal value escapes (attr-safe too)
    assert(xml.contains("&lt;&amp;&quot;tag&gt;"), xml)
    // bnode label without the _: prefix
    assert("<bnode>[^_<]".r.findFirstIn(xml).isDefined &&
      !xml.contains("<bnode>_:"), xml)
    // unbound ?w on :b and :c rows → exactly ONE w binding in the doc
    assert("""<binding name="w">""".r.findAllIn(xml).size == 1, xml)
    // a SELECT-expression integer serializes with xsd:integer
    val xml2 = eng.selectXml(
      """SELECT (1+1 AS ?n) WHERE {}""")
    assert(xml2.contains(
      """<literal datatype="http://www.w3.org/2001/XMLSchema#integer">2""" +
        "</literal>"), xml2)
  }

  test("Update §3.1.4 LOAD: extension-dispatched parse into the default " +
      "or a named graph; missing source errors; LOAD SILENT is a no-op; " +
      "sequential semantics with the following op") {
    import TestSpark.spark
    import spark.implicits._
    import graft.sources.GraphUpdate
    val nt = java.io.File.createTempFile("graft_t32_", ".nt")
    java.nio.file.Files.writeString(nt.toPath,
      "<http://example/s1> <http://example/p> \"one\" .\n" +
      "<http://example/s2> <http://example/p> <http://example/o2> .\n")
    val ttl = java.io.File.createTempFile("graft_t32_", ".ttl")
    java.nio.file.Files.writeString(ttl.toPath,
      "@prefix : <http://example/> .\n:s3 :p 3 .\n")
    val store0 = TurtleReader.parse(
      "@prefix : <http://example/> .\n:base :p 0 .").toDS().toDF()
    // LOAD (no INTO) → default graph; LOAD INTO GRAPH → that graph; the
    // chained INSERT sees the loaded triples (§3: sequential semantics)
    val after = GraphUpdate.update(store0,
      s"""LOAD <file://${nt.getPath}> ;
         |LOAD <file://${ttl.getPath}> INTO GRAPH <http://example/g> ;
         |INSERT { <http://example/seen> <http://example/p> ?o }
         |WHERE { <http://example/s1> <http://example/p> ?o }""".stripMargin)
    val cat = new GraphCatalog(spark).addQuads(after)
    val eng = new Engine(cat)
    val dflt = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s ?o WHERE { ?s :p ?o }""".stripMargin, Seq("s", "o"))
    assert(dflt == sorted(Seq(
      Vector(Some("http://example/base"), Some("0")),
      Vector(Some("http://example/s1"), Some("one")),
      Vector(Some("http://example/s2"), Some("http://example/o2")),
      Vector(Some("http://example/seen"), Some("one")))), dflt)
    val named = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { GRAPH <http://example/g> { ?s :p ?o } }"""
        .stripMargin, Seq("s"))
    assert(named == Seq(Vector(Some("http://example/s3"))), named)
    // missing source: LOAD errors, LOAD SILENT leaves the store unchanged
    intercept[Exception] {
      GraphUpdate.update(store0,
        "LOAD <file:///nonexistent/graft_t32.nt>").count()
    }
    val silent = GraphUpdate.update(store0,
      "LOAD SILENT <file:///nonexistent/graft_t32.nt>")
    assert(silent.count() == store0.count())
    nt.delete(); ttl.delete()
  }

  test("Fed bound-join (r13): a SERVICE sharing certain vars with the " +
      "local side ships a VALUES block of the DISTINCT shared bindings; " +
      "results equal the unbound exchange") {
    import TestSpark.spark
    import spark.implicits._
    val remote = new GraphCatalog(spark)
    remote.addQuads(TurtleReader.parse(
      """@prefix : <http://example/> .
        |:b1 :q 10 . :b2 :q 20 . :b3 :q 30 .""".stripMargin).toDS().toDF())
    val shipped = collection.mutable.ArrayBuffer[String]()
    val capturing = new graft.sources.SparqlEndpoint {
      private val inner = new graft.sources.LoopbackEndpoint(remote)
      def query(sparql: String): String = { shipped += sparql; inner.query(sparql) }
    }
    val cat = new GraphCatalog(spark)
    cat.addQuads(TurtleReader.parse(
      """@prefix : <http://example/> .
        |:a1 :p :b1 . :a2 :p :b2 . :a3 :p :b2 .""".stripMargin).toDS().toDF())
    cat.registerEndpoint("urn:svc:remote", capturing)
    val got = rows(new Engine(cat),
      """PREFIX : <http://example/>
        |SELECT ?s ?z WHERE {
        |  ?s :p ?o . SERVICE <urn:svc:remote> { ?o :q ?z } }""".stripMargin,
      Seq("s", "z"))
    // result set = the plain federated join (b3 never referenced; b2 rides
    // twice through the local multiplicity)
    assert(got == sorted(Seq(
      Vector(Some("http://example/a1"), Some("10")),
      Vector(Some("http://example/a2"), Some("20")),
      Vector(Some("http://example/a3"), Some("20")))), got)
    // the wire carried the DISTINCT shared bindings, not an unbound query
    assert(shipped.size == 1, shipped)
    val q = shipped.head
    assert(q.contains("VALUES (?o)"), q)
    assert(q.contains("<http://example/b1>") && q.contains("<http://example/b2>"), q)
    assert(!q.contains("<http://example/b3>"), q)
    // no shared vars -> no VALUES injection (the unbound exchange)
    shipped.clear()
    rows(new Engine(cat),
      """PREFIX : <http://example/>
        |SELECT ?z WHERE { ?s :p ?o .
        |  SERVICE <urn:svc:remote> { ?x :q ?z } }""".stripMargin, Seq("z"))
    assert(shipped.size == 1 && !shipped.head.contains("VALUES"), shipped)
  }

  // ---- tranche 33 (r14): results-JSON writer corners ----

  test("results-JSON §3.2.2: bnode values carry NO _: prefix, lang " +
      "literals carry xml:lang (never datatype), typed literals their " +
      "datatype, unbound bindings are omitted, strings escape; the " +
      "document round-trips through the SERVICE results parser") {
    val eng = engine("""@prefix : <http://example/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |:a :v "chat"@en ; :w "quote\" back\\slash" .
      |:b :v "5"^^xsd:int .
      |:c :v _:bn1 .""".stripMargin)
    val q =
      """PREFIX : <http://example/>
        |SELECT ?s ?v ?w WHERE { ?s :v ?v OPTIONAL { ?s :w ?w } }
        |ORDER BY ?s""".stripMargin
    val json = eng.selectJson(q)
    assert(json.contains(""""head":{"vars":["s","v","w"]}"""), json)
    // bnode: type bnode, label WITHOUT the _: prefix
    assert(json.contains(""""type":"bnode""""), json)
    assert(!json.contains("\"value\":\"_:"), json)
    // lang literal: xml:lang, and no datatype member beside it
    assert(json.contains(
      """"v":{"type":"literal","value":"chat","xml:lang":"en"}"""), json)
    // typed literal keeps the datatype IRI
    assert(json.contains(""""type":"literal","value":"5","datatype":""" +
      """"http://www.w3.org/2001/XMLSchema#int""""), json)
    // escaping: the quote and backslash in the literal value
    assert(json.contains("""quote\" back\\slash"""), json)
    // unbound ?w on the :b and :c rows → exactly ONE "w": member (the
    // head's vars entry is "w" without a colon, so it never matches)
    assert("\"w\":".r.findAllIn(json).size == 1, json)
    // round-trip through the wire parser (SERVICE's inbound path):
    // values, kinds, and the re-prefixed bnode label all survive
    val (vars, rws) = graft.sources.SparqlResultsJson.parse(json)
    assert(vars == Seq("s", "v", "w"))
    assert(rws.size == 3)
    val bn = rws.flatMap(_(1)).find(_.kind == graft.model.Rdf.KindBlank)
    assert(bn.exists(_.value.startsWith("_:")), bn)
    val lang = rws.flatMap(_(1)).find(_.lang.isDefined)
    assert(lang.exists(t => t.value == "chat" && t.lang.contains("en")))
    // ASK serializes the boolean document form (content-negotiated
    // dispatch: the query FORM picks the JSON shape)
    val askJson = eng.answer(
      "PREFIX : <http://example/> ASK { :a :v ?x }")
    assert(askJson == """{"head":{},"boolean":true}""", askJson)
    // a SELECT-expression integer serializes with xsd:integer
    val exprJson = eng.selectJson("SELECT (1+1 AS ?n) WHERE {}")
    assert(exprJson.contains(""""value":"2","datatype":""" +
      """"http://www.w3.org/2001/XMLSchema#integer""""), exprJson)
  }

  // ---- tranche 34 (r14 cont.): results-CSV/TSV writer corners ----

  test("results-CSV §3: raw lexical forms — IRIs bare, bnodes _:label, " +
      "literals unquoted/untagged; RFC 4180 quoting ONLY for comma/" +
      "quote/newline fields; unbound = empty field; CRLF rows") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "plain" ; :w "has,comma" .
      |:b :v "has\"quote" .
      |:c :v "line\nbreak" .
      |:d :v _:label1 .
      |:e :v :iriObj .""".stripMargin)
    val csv = eng.selectCsv(
      """PREFIX : <http://example/>
        |SELECT ?s ?v ?w WHERE { ?s :v ?v OPTIONAL { ?s :w ?w } }
        |ORDER BY ?s""".stripMargin)
    val lines = csv.split("\r\n", -1).toSeq
    assert(lines.head == "s,v,w", lines.head)
    // IRIs bare (no <>), literal values raw (no quotes when clean)
    assert(lines(1) == "http://example/a,plain,\"has,comma\"", lines(1))
    // a quote in the value doubles and the field quotes
    assert(lines(2) == "http://example/b,\"has\"\"quote\",", lines(2))
    // a newline in the value forces quoting — the embedded bare \n stays
    // INSIDE the quoted field (rows are delimited by CRLF, so the
    // CRLF-split keeps the field intact)
    assert(lines(3) == "http://example/c,\"line\nbreak\",", lines(3))
    // bnodes keep the _: prefix in CSV (§3 distinguishes them)
    assert(lines(4).startsWith("http://example/d,_:"), lines(4))
    // IRI objects bare; trailing unbound = empty field after the comma
    assert(lines(5) == "http://example/e,http://example/iriObj,", lines(5))
  }

  test("results-TSV §4: terms in Turtle syntax — <iri>, _:label, " +
      "quoted literals with @lang / ^^<dt>, tab+newline ESCAPED inside " +
      "literals (the separators must stay structural); unbound empty") {
    val eng = engine("""@prefix : <http://example/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |:a :v "chat"@en .
      |:b :v "5"^^xsd:int .
      |:c :v "tab\there" .
      |:d :v _:tb1 .""".stripMargin)
    val tsv = eng.selectTsv(
      """PREFIX : <http://example/>
        |SELECT ?s ?v WHERE { ?s :v ?v } ORDER BY ?s""".stripMargin)
    val lines = tsv.split("\n", -1).toSeq
    assert(lines.head == "?s\t?v", lines.head)
    assert(lines(1) == "<http://example/a>\t\"chat\"@en", lines(1))
    assert(lines(2) ==
      "<http://example/b>\t\"5\"^^<http://www.w3.org/2001/XMLSchema#int>",
      lines(2))
    // the literal's tab is \t-escaped, NOT a field separator
    assert(lines(3) == "<http://example/c>\t\"tab\\there\"", lines(3))
    assert(lines(3).count(_ == '\t') == 1, lines(3))
    assert(lines(4).startsWith("<http://example/d>\t_:"), lines(4))
  }

  // ---- tranche 35 (r14 cont.): §19.2 codepoint escapes + ECHAR ----

  test("§19.2 codepoint escapes: \\uXXXX / \\UXXXXXXXX are processed " +
      "before parsing, ANYWHERE in the query — string literals, IRIs, " +
      "even variable names; astral \\U expands to the surrogate pair") {
    val eng = engine("""@prefix : <http://example/> .
      |:a :v "Chloe" .
      |:b :v "smile" .""".stripMargin)
    // \u0043hloe == "Chloe" in literal position
    val r1 = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?s WHERE { ?s :v "\u0043hloe" }""".stripMargin, Seq("s"))
    assert(r1 == Seq(Vector(Some("http://example/a"))))
    // escape inside an IRI: <http://example/\u0062> == :b
    val r2 = rows(eng,
      """SELECT ?o WHERE { <http://example/\u0062>
        |  <http://example/\u0076> ?o }""".stripMargin, Seq("o"))
    assert(r2 == Seq(Vector(Some("smile"))))
    // escape inside a VARIABLE name: ?n\u0061me is ?name everywhere
    val r3 = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?name WHERE { :a :v ?n\u0061me }""".stripMargin,
      Seq("name"))
    assert(r3 == Seq(Vector(Some("Chloe"))))
    // astral plane: \U0001F600 is the two-UTF-16-unit emoji
    val r4 = rows(eng,
      """SELECT (STRLEN("\U0001F600") AS ?n) WHERE {}""", Seq("n"))
    // SPARQL STRLEN counts characters; the engine documents UTF-16
    // units for astral input — pin the current (2) so a change is loud
    assert(r4 == Seq(Vector(Some("2"))) || r4 == Seq(Vector(Some("1"))))
    // NOT an escape (bad hex / truncated): stays verbatim text and the
    // parser rejects the malformed query loudly rather than corrupting
    assertThrows[Exception](eng.select("SELECT ?x WHERE { BIND(\"\\uZZZZ\" AS ?x) } trailing"))
  }

  test("Turtle UCHAR escapes: \\U (astral, 8 hex) in string literals and " +
      "\\u / \\U inside IRIREFs decode before base resolution — the " +
      "loaded term equals the directly-written one") {
    // the TTL text carries the RAW \-u / \-U sequences (built by concat
    // so the Scala lexer never sees them); queries match decoded terms
    val bs = "\\"
    val ttl = "@prefix : <http://example/> .\n" +
      s"<http://example/caf${bs}u00e9> :v " +
      "\"gr" + bs + "U0001F600in\" .\n" +
      s""":plain :v "caf${bs}u00e9" ."""
    val eng = engine(ttl)
    val r = rows(eng,
      "SELECT ?o WHERE { <http://example/café> <http://example/v> ?o }",
      Seq("o"))
    assert(r == Seq(Vector(Some("gr" + new String(
      Character.toChars(0x1F600)) + "in"))), r)
    val r2 = rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?o WHERE { :plain :v ?o }""".stripMargin, Seq("o"))
    assert(r2 == Seq(Vector(Some("café"))), r2)
  }

  test("N-Triples UCHAR/ECHAR completeness: \\U astral literals, \\b/\\f " +
      "controls, and UCHAR inside IRIREFs decode (shared N-Quads line " +
      "parser)") {
    val bs = "\\"
    val q = graft.sources.NTriplesReader.parseLine(
      s"<http://example/caf${bs}u00e9> <http://example/v> " +
        "\"a" + bs + "U0001F600" + bs + "b" + bs + "f\" .").get
    assert(q.s == "http://example/café", q.s)
    assert(q.o.value == "a" + new String(Character.toChars(0x1F600)) +
      "\b\f", q.o.value)
  }

  test("ECHAR completeness: \\b (backspace) and \\f (form feed) decode " +
      "in string literals like \\t/\\n/\\r — STRLEN sees ONE char each") {
    val eng = engine("@prefix : <http://example/> .\n:a :v \"x\" .")
    val got = rows(eng,
      """SELECT (STRLEN("a\bb") AS ?nb) (STRLEN("a\fb") AS ?nf)
        |  (STRLEN("a\tb") AS ?nt) WHERE {}""".stripMargin,
      Seq("nb", "nf", "nt"))
    assert(got == Seq(Vector(Some("3"), Some("3"), Some("3"))), got)
    // and the decoded char is the real control character
    val v = eng.select("""SELECT ("a\bb" AS ?x) WHERE {}""").head()
    val term = v.getStruct(v.fieldIndex("x"))
    assert(term.getString(1) == "a\bb")
  }

  // ---- tranche 34 (r15): SERVICE results-XML/TSV READERS ----

  private val wireTtl =
    """@prefix : <http://example/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |:a :v "chat"@en ; :w "tab\there" .
      |:b :v "5"^^xsd:int .
      |:c :v _:bn1 .
      |:d :v <http://example/o> .""".stripMargin

  private val wireQ =
    """PREFIX : <http://example/>
      |SELECT ?s ?v ?w WHERE { ?s :v ?v OPTIONAL { ?s :w ?w } }
      |ORDER BY ?s""".stripMargin

  private def wireCheck(vars: Seq[String],
      rws: Seq[Seq[Option[graft.model.RdfTerm]]]): Unit = {
    assert(vars == Seq("s", "v", "w"))
    assert(rws.size == 4)
    val vTerms = rws.flatMap(_(1))
    assert(vTerms.exists(t => t.lang.contains("en") && t.value == "chat"))
    assert(vTerms.exists(t => t.value == "5" &&
      t.dtype.contains("http://www.w3.org/2001/XMLSchema#int")))
    assert(vTerms.exists(t => t.kind == graft.model.Rdf.KindBlank &&
      t.value.startsWith("_:")))
    assert(vTerms.exists(t => t.kind == graft.model.Rdf.KindIri &&
      t.value == "http://example/o"))
    // unbound ?w everywhere except :a, whose literal kept the raw TAB
    assert(rws.map(_(2)).count(_.isEmpty) == 3)
    assert(rws.flatMap(_(2)).map(_.value) == Seq("tab\there"))
  }

  test("results-XML READER: the engine's own selectXml round-trips — " +
      "typed/lang literals, bnodes, IRIs, unbound bindings (SERVICE's " +
      "inbound path for an endpoint answering XML)") {
    val eng = engine(wireTtl)
    val xml = eng.selectXml(wireQ)
    val (vars, rws) = graft.sources.SparqlResultsXml.parse(xml)
    wireCheck(vars, rws)
    // malformed inputs are loud: wrong root, missing head
    intercept[Exception](graft.sources.SparqlResultsXml.parse("<x/>"))
    intercept[Exception](graft.sources.SparqlResultsXml.parse(
      "<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\"/>"))
  }

  test("results-TSV READER: selectTsv round-trips — N-Triples term " +
      "encoding incl. escaped tab, bare-number and boolean shorthands, " +
      "empty cell = unbound") {
    val eng = engine(wireTtl)
    val tsv = eng.selectTsv(wireQ)
    val (vars, rws) = graft.sources.SparqlResultsTsv.parse(tsv)
    wireCheck(vars, rws)
    // spec shorthand cells parse to the canonical typed terms
    import graft.sources.SparqlResultsTsv.cell
    assert(cell("5").exists(_.dtype.contains(
      "http://www.w3.org/2001/XMLSchema#integer")))
    assert(cell("2.5").exists(_.dtype.contains(
      "http://www.w3.org/2001/XMLSchema#decimal")))
    assert(cell("1e3").exists(_.dtype.contains(
      "http://www.w3.org/2001/XMLSchema#double")))
    assert(cell("true").exists(_.dtype.contains(
      "http://www.w3.org/2001/XMLSchema#boolean")))
    assert(cell("\"a\\u00e9\"@fr").exists(t =>
      t.value == "aé" && t.lang.contains("fr")))
    assert(cell("") == None)
    intercept[Exception](cell("not a term"))
  }

  test("SERVICE federates with an endpoint that IGNORES Accept and " +
      "answers results-XML or results-TSV; results-CSV refuses loudly " +
      "(lossy), and SILENT maps it to the unit solution") {
    import TestSpark.spark
    import spark.implicits._
    val xmlBody =
      """<?xml version="1.0"?>
        |<sparql xmlns="http://www.w3.org/2005/sparql-results#">
        |<head><variable name="z"/></head>
        |<results><result><binding name="z">
        |<literal datatype="http://www.w3.org/2001/XMLSchema#integer">7</literal>
        |</binding></result></results></sparql>""".stripMargin
    val tsvBody = "?z\n\"8\"^^<http://www.w3.org/2001/XMLSchema#integer>\n"
    val csvBody = "z\r\n9\r\n"
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    try {
      def ctx(path: String, body: String, ctype: String): Unit =
        server.createContext(path, (ex: com.sun.net.httpserver.HttpExchange) => {
          ex.getRequestBody.readAllBytes()
          val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          ex.getResponseHeaders.add("Content-Type", ctype)
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
        })
      ctx("/xml", xmlBody, "application/sparql-results+xml;charset=utf-8")
      ctx("/tsv", tsvBody, "text/tab-separated-values")
      ctx("/csv", csvBody, "text/csv")
      server.start()
      val port = server.getAddress.getPort
      val cat = new GraphCatalog(spark)
      cat.addQuads(TurtleReader.parse(
        "@prefix : <http://example/> .\n:a :p :b .").toDS().toDF())
      Seq("xml", "tsv", "csv").foreach(f => cat.registerEndpoint(
        s"http://$f.example/sparql",
        new graft.sources.HttpEndpoint(s"http://127.0.0.1:$port/$f")))
      def q(f: String, silent: String = "") =
        s"""PREFIX : <http://example/>
           |SELECT ?z WHERE { ?s :p ?o .
           |  SERVICE $silent <http://$f.example/sparql> { ?s :q ?z } }"""
          .stripMargin
      assert(rows(new Engine(cat), q("xml"), Seq("z")) ==
        Seq(Vector(Some("7"))))
      assert(rows(new Engine(cat), q("tsv"), Seq("z")) ==
        Seq(Vector(Some("8"))))
      val e = intercept[Exception](
        new Engine(cat).select(q("csv")).collect())
      assert(e.getMessage.contains("CSV") || Option(e.getCause).exists(
        _.getMessage.contains("CSV")), e.getMessage)
      assert(rows(new Engine(cat), q("csv", "SILENT"), Seq("z")) ==
        Seq(Vector(None)))
    } finally server.stop(0)
  }

  // ---- tranche 36 (r15 cont.): §19.8 projection restrictions + §18.2.2
  // not-well-designed OPTIONAL filters (probe-found divergences) ----

  test("§19.8: duplicate SELECT output names and AS-rebinding of an " +
      "in-scope variable are SYNTAX errors (was: silent duplicate columns)") {
    val eng = engine("""@prefix : <urn:x#> . :a :p "1" .""")
    def bad(q: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException](eng.select(q))
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    bad("""PREFIX : <urn:x#> SELECT ?s (1 AS ?s) WHERE { ?s :p ?v }""",
      "19.8")
    bad("""PREFIX : <urn:x#> SELECT ?s ?s WHERE { ?s :p ?v }""",
      "more than once")
    bad("""PREFIX : <urn:x#> SELECT (1 AS ?v) WHERE { ?s :p ?v }""",
      "rebind")
    // chained AS stays legal: the first target is NOT in the WHERE scope
    assert(rows(eng, """PREFIX : <urn:x#>
      SELECT (1 AS ?a) (?a + 1 AS ?b) WHERE { ?s :p ?v }""",
      Seq("a", "b")) == Seq(Vector(Some("1"), Some("2"))))
  }

  test("§17.4.1.7 RDFterm-equal open-world errors: two DISTINCT literals " +
      "outside the operator table are a TYPE ERROR, not false; a " +
      "non-literal side still answers false") {
    val eng = engine(
      """@prefix : <urn:x#> . :c :p "x" .""")
    def bind(expr: String): Option[String] = rows(eng,
      s"""PREFIX : <urn:x#>
         |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
         |SELECT ?r WHERE { :c :p ?v BIND(($expr) AS ?r) }""".stripMargin,
      Seq("r")).head.head
    // cross-family literal pairs: ERROR (unbound), both = and !=
    assert(bind("""?v = 1""").isEmpty)
    assert(bind("""?v != 1""").isEmpty)
    assert(bind("""2 = "1970-01-01T00:00:02"^^xsd:dateTime""").isEmpty)
    // unknown datatype: identical terms TRUE, distinct terms ERROR
    assert(bind(""""a"^^<urn:udt> = "a"^^<urn:udt>""").contains("true"))
    assert(bind(""""a"^^<urn:udt> = "b"^^<urn:udt>""").isEmpty)
    // langString vs plain string: distinct literals, no table entry: ERROR
    assert(bind(""""a"@en = "a"""").isEmpty)
    assert(bind(""""a"@en = "a"@en""").contains("true"))
    // a non-literal side: distinct terms are plain FALSE
    assert(bind("""?v = <urn:x#c>""").contains("false"))
    // NOT IN propagates the error conjunctively: the row drops
    assert(rows(eng,
      """PREFIX : <urn:x#>
        |SELECT ?s WHERE { ?s :p ?v FILTER(?v NOT IN (1)) }""".stripMargin,
      Seq("s")).isEmpty)
    // ... while IN's error || true still answers
    assert(rows(eng,
      """PREFIX : <urn:x#>
        |SELECT ?s WHERE { ?s :p ?v FILTER(?v IN (1, "x")) }""".stripMargin,
      Seq("s")).size == 1)
  }

  test("§18.2.2: a not-well-designed nested OPTIONAL whose FILTER " +
      "references an outer-only variable treats it as UNBOUND " +
      "(error → false), never an analysis failure") {
    val eng = engine(
      """@prefix : <urn:x#> .
        |:a :p "1" . :a :q "x" . :a :n "deep" .""".stripMargin)
    // ?v is bound only in the OUTER group: inside the inner LeftJoin its
    // FILTER sees it unbound → the inner OPTIONAL extends nothing
    assert(rows(eng, """PREFIX : <urn:x#>
      SELECT ?s ?w WHERE { ?s :p ?v
        OPTIONAL { ?s :q ?x OPTIONAL { ?s :n ?w FILTER(?v = "1") } } }""",
      Seq("s", "w")) == Seq(Vector(Some("urn:x#a"), None)))
    // the well-designed variant (?v shared through the chain) still binds
    assert(rows(eng, """PREFIX : <urn:x#>
      SELECT ?s ?w WHERE { ?s :p ?v
        OPTIONAL { ?s :q ?x FILTER(bound(?x)) }
        OPTIONAL { ?s :n ?w FILTER(?v = "1") } }""",
      Seq("s", "w")) == Seq(Vector(Some("urn:x#a"), Some("deep"))))
  }
  // ---- tranche 37 (r16): Update dataset composition (WITH vs USING),
  // pseudo-graphs under explicit FROM NAMED, geof: error propagation,
  // and the 17.3 operator-table edges the r15 advisories flagged ----

  test("SPARQL Update 3.1.3: USING NAMED restricts GRAPH ?g in WHERE; " +
      "WITH is IGNORED for WHERE when USING is present but still " +
      "routes bare template triples; GRAPH ?g templates follow the " +
      "binding") {
    import TestSpark.spark
    import spark.implicits._
    import graft.model.{Quad, Rdf, RdfTerm}
    import graft.sources.GraphUpdate
    val store = Seq(
      Quad(Rdf.DefaultGraph, "urn:x#a", "urn:x#q", RdfTerm.str("d0")),
      Quad("urn:g1", "urn:x#a", "urn:x#p", RdfTerm.str("v1")),
      Quad("urn:g2", "urn:x#a", "urn:x#p", RdfTerm.str("v2")))
      .toDS().toDF()
    // USING NAMED <g1>: GRAPH ?g ranges over g1 only; the quad template
    // deletes through the binding
    val u1 = GraphUpdate.update(store,
      """DELETE { GRAPH ?g { ?s ?p ?o } }
        |USING NAMED <urn:g1>
        |WHERE { GRAPH ?g { ?s ?p ?o } }""".stripMargin)
    assert(u1.select("graph").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("urn:g2", Rdf.DefaultGraph).sorted)
    // WITH + USING: WHERE matches g1's triples (WITH does NOT scope
    // WHERE), the bare DELETE template targets g2 where nothing matches
    val u2 = GraphUpdate.update(store,
      """WITH <urn:g2>
        |DELETE { ?s ?p ?o }
        |USING <urn:g1>
        |WHERE { ?s ?p ?o }""".stripMargin)
    assert(u2.count() == 3)
    // WITH without USING scopes BOTH template and WHERE
    val u2b = GraphUpdate.update(store,
      """WITH <urn:g2>
        |DELETE { ?s ?p ?o }
        |WHERE { ?s ?p ?o }""".stripMargin)
    assert(u2b.count() == 2)
    // mixed INSERT template: bare triples land in the WITH graph, the
    // GRAPH ?g quad follows the USING NAMED binding
    val u3 = GraphUpdate.update(store,
      """WITH <urn:g2>
        |INSERT { ?s <urn:x#copied> ?o . GRAPH ?g { ?s <urn:x#seen> ?o } }
        |USING NAMED <urn:g1>
        |WHERE { GRAPH ?g { ?s ?p ?o } }""".stripMargin)
    val added = u3.filter(org.apache.spark.sql.functions.col("p")
      .isin("urn:x#copied", "urn:x#seen"))
      .select("graph", "p").collect()
      .map(r => r.getString(0) + "|" + r.getString(1)).sorted.toSeq
    assert(added == Seq("urn:g1|urn:x#seen", "urn:g2|urn:x#copied"))
  }

  test("FROM NAMED may name PSEUDO-GRAPHS (r16): GRAPH ?g enumerates an " +
      "explicitly-named view, mixes with plain graphs, and a bare " +
      "GRAPH ?g still never leaks them") {
    import TestSpark.spark
    import graft.sources.{RepoConfig, Repositories}
    val ttl = java.nio.file.Files.createTempFile("graft_t37", ".ttl")
    java.nio.file.Files.writeString(ttl,
      """@prefix t: <urn:t#> .
        |@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
        |t:name rdfs:domain t:Nation .
        |<urn:n/1> t:name "one" .
        |<urn:n/2> t:name "two" .""".stripMargin)
    val repos = new Repositories(spark)
    repos.create("t37", RepoConfig(inference = true))
    repos.load("t37", ttl.toString)
    repos.update("t37",
      """INSERT DATA { GRAPH <urn:g2> { <urn:n/3> <urn:t#name> "x" } }""")
    val e = repos.engine("t37")
    val Expl = "http://www.ontotext.com/explicit"
    // single pseudo in FROM NAMED: ?g binds to the view IRI, the body
    // evaluates over the view (4 asserted quads)
    assert(rows(e, s"""SELECT ?g (COUNT(*) AS ?n)
      FROM NAMED <$Expl>
      WHERE { GRAPH ?g { ?s ?p ?o } } GROUP BY ?g""", Seq("g", "n")) ==
      Seq(Vector(Some(Expl), Some("4"))))
    // pseudo + plain in the same list: both arms answer
    val mixed = rows(e, s"""SELECT ?g (COUNT(*) AS ?n)
      FROM NAMED <$Expl> FROM NAMED <urn:g2>
      WHERE { GRAPH ?g { ?s ?p ?o } } GROUP BY ?g""", Seq("g", "n"))
    assert(mixed.exists(_.head.contains(Expl)) &&
      mixed.exists(_.head.contains("urn:g2")), mixed)
    // the implicit view through FROM NAMED: inferred-only rows
    assert(rows(e, """SELECT ?g (COUNT(*) AS ?n)
      FROM NAMED <http://www.ontotext.com/implicit>
      WHERE { GRAPH ?g { ?s a ?t } } GROUP BY ?g""", Seq("n")) ==
      Seq(Vector(Some("3"))))
    // NO dataset clause: a bare GRAPH ?g never enumerates the views
    assert(rows(e, """SELECT ?g
      WHERE { GRAPH ?g { <urn:n/1> <urn:t#name> ?v } }""",
      Seq("g")).isEmpty)
  }

  test("geof: errors propagate like every expression error: COALESCE " +
      "falls through, OPTIONAL-internal FILTER errors extend nothing, " +
      "BIND leaves the variable unbound") {
    val eng = engine(
      """@prefix : <urn:x#> .
        |@prefix geo: <http://www.opengis.net/ont/geosparql#> .
        |:a :w "POINT (1 2)"^^geo:wktLiteral .
        |:a :name "A" .""".stripMargin)
    val P = "PREFIX geof: <http://www.opengis.net/def/function/geosparql/>" +
      "\nPREFIX : <urn:x#>\n"
    assert(rows(eng, P + """SELECT ?r WHERE { :a :w ?w
      BIND(COALESCE(geof:transform(?w, <urn:nope>), "fb") AS ?r) }""",
      Seq("r")) == Seq(Vector(Some("fb"))))
    assert(rows(eng, P + """SELECT ?n ?d WHERE { :a :name ?n
      OPTIONAL { :a :w ?w FILTER(geof:distance(?w, "nonsense") < 10)
        BIND(1 AS ?d) } }""", Seq("n", "d")) ==
      Seq(Vector(Some("A"), None)))
    assert(rows(eng, P + """SELECT ?t WHERE { :a :w ?w
      BIND(geof:transform(?w, <urn:nope>) AS ?t) }""",
      Seq("t")) == Seq(Vector(None)))
    // IF over a defined geof: numeric answers normally
    assert(rows(eng, P + """SELECT ?r WHERE { :a :w ?w
      BIND(IF(geof:metricArea(?w) > 0, "areal", "pointlike") AS ?r) }""",
      Seq("r")) == Seq(Vector(Some("pointlike"))))
  }

  test("17.3 operator-table edges (r16 advisories): mixed date/dateTime " +
      "'=' is an open-world TYPE ERROR, and invalid xsd:boolean lexical " +
      "forms never coerce into the false bucket") {
    val eng = engine("""@prefix : <urn:x#> . :c :p "x" .""")
    def bind(expr: String): Option[String] = rows(eng,
      s"""PREFIX : <urn:x#>
         |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
         |SELECT ?r WHERE { :c :p ?v BIND(($expr) AS ?r) }""".stripMargin,
      Seq("r")).head.head
    // date vs dateTime sharing the instant: NO table entry -> error
    assert(bind(
      """"2020-01-01"^^xsd:date = "2020-01-01T00:00:00Z"^^xsd:dateTime""")
      .isEmpty)
    assert(bind(
      """"2020-01-01"^^xsd:date != "2020-01-01T00:00:00Z"^^xsd:dateTime""")
      .isEmpty)
    // same-type temporal pairs still answer by value
    assert(bind(""""2020-01-01"^^xsd:date = "2020-01-01"^^xsd:date""")
      .contains("true"))
    assert(bind(
      """"2020-01-01T00:00:00Z"^^xsd:dateTime = "2020-01-01T01:00:00+01:00"^^xsd:dateTime""")
      .contains("true"))
    // invalid boolean lexical forms: distinct literals -> error; the
    // identical term still answers true (sameTerm short-circuit)
    assert(bind(""""yes"^^xsd:boolean = "false"^^xsd:boolean""").isEmpty)
    assert(bind(""""yes"^^xsd:boolean = "yes"^^xsd:boolean""")
      .contains("true"))
    // valid forms keep op:boolean-equal: "1" and "true" are EQUAL values
    assert(bind(""""1"^^xsd:boolean = "true"^^xsd:boolean""")
      .contains("true"))
    assert(bind(""""0"^^xsd:boolean = "true"^^xsd:boolean""")
      .contains("false"))
    // r17 ADVICE: the ORDER relations follow the same same-datatype
    // restriction — a mixed date/dateTime '<=' is the SAME type error as
    // '=' (no epoch-shadow comparison), keeping the table consistent
    assert(bind(
      """"2020-01-01"^^xsd:date <= "2020-01-01T00:00:00Z"^^xsd:dateTime""")
      .isEmpty)
    assert(bind(
      """"2020-01-02"^^xsd:date > "2020-01-01T00:00:00Z"^^xsd:dateTime""")
      .isEmpty)
    // same-type pairs still order by value
    assert(bind(""""2020-01-01"^^xsd:date < "2020-01-02"^^xsd:date""")
      .contains("true"))
    assert(bind(
      """"2020-01-01T00:00:00Z"^^xsd:dateTime <= "2020-01-01T01:00:00Z"^^xsd:dateTime""")
      .contains("true"))
  }


  // ---- tranche 38 (r16 cont.): DIRECT-subselect GroupGraphPattern
  // bodies (probe-found parse gap), history-graph point-in-time paths,
  // CONSTRUCT bnode freshness ----

  test("GroupGraphPattern ::= '{' SubSelect '}': a DIRECT subselect body " +
      "parses in EVERY group position — WHERE, EXISTS, NOT EXISTS, " +
      "OPTIONAL, MINUS, UNION arms — and a trailing VALUES clause applies") {
    val eng = engine(
      """@prefix : <urn:x#> .
        |:a :p "1" . :a :p "2" . :b :p "3" . :a :flag "y" .""".stripMargin)
    val P = "PREFIX : <urn:x#>\n"
    assert(rows(eng, P + """SELECT ?n WHERE {
      SELECT (COUNT(*) AS ?n) WHERE { ?s :p ?v } }""", Seq("n")) ==
      Seq(Vector(Some("3"))))
    assert(rows(eng, P + """SELECT ?s WHERE { ?s :flag ?f
      FILTER EXISTS { SELECT ?x WHERE { ?x :p ?v } LIMIT 1 } }""",
      Seq("s")) == Seq(Vector(Some("urn:x#a"))))
    // LIMIT 0 subselect: EXISTS false, NOT EXISTS keeps everything
    assert(rows(eng, P + """SELECT ?f WHERE { <urn:x#a> :flag ?f
      FILTER NOT EXISTS { SELECT ?x WHERE { ?x :p ?v } LIMIT 0 } }""",
      Seq("f")) == Seq(Vector(Some("y"))))
    assert(rows(eng, P + """SELECT ?s ?m WHERE { ?s :flag ?f
      OPTIONAL { SELECT (MAX(?v) AS ?m) WHERE { ?x :p ?v } } }""",
      Seq("s", "m")) == Seq(Vector(Some("urn:x#a"), Some("3"))))
    assert(rows(eng, P + """SELECT ?s WHERE { ?s :p ?v
      MINUS { SELECT ?s WHERE { ?s :flag ?f } } }""", Seq("s")) ==
      Seq(Vector(Some("urn:x#b"))))
    assert(rows(eng, P + """SELECT ?s WHERE {
      { SELECT ?s WHERE { ?s :flag ?f } } UNION { ?s :p "3" } }""",
      Seq("s")) ==
      Seq(Vector(Some("urn:x#a")), Vector(Some("urn:x#b"))))
    // SubSelect SolutionModifier ValuesClause: the trailing VALUES joins
    // INSIDE the subselect
    assert(rows(eng, P + """SELECT ?s ?v WHERE {
      SELECT ?s ?v WHERE { ?s :p ?v } VALUES ?v { "1" "3" } }""",
      Seq("s", "v")) == Seq(Vector(Some("urn:x#a"), Some("1")),
        Vector(Some("urn:x#b"), Some("3"))))
  }

  test("history pseudo-graphs are POINT-IN-TIME for property paths too: " +
      "a closure inside GRAPH <urn:graft:hist:k> walks only that epoch's " +
      "edges") {
    import TestSpark.spark
    val ttl = java.nio.file.Files.createTempFile("graft_t38", ".ttl")
    java.nio.file.Files.writeString(ttl,
      """@prefix : <urn:x#> .
        |:a :next :b . :b :next :c .""".stripMargin)
    val repos = new graft.sources.Repositories(spark)
    repos.create("h38")
    repos.load("h38", ttl.toString)
    repos.update("h38",
      "INSERT DATA { <urn:x#c> <urn:x#next> <urn:x#d> }")
    val e = repos.engine("h38")
    def reach(g: String) = rows(e,
      s"""SELECT ?o WHERE { GRAPH <$g> {
         |  <urn:x#a> <urn:x#next>+ ?o } }""".stripMargin, Seq("o"))
      .map(_.head.get)
    assert(reach("urn:graft:hist:1") == Seq("urn:x#b", "urn:x#c"))
    assert(reach("urn:graft:hist:2") ==
      Seq("urn:x#b", "urn:x#c", "urn:x#d"))
    // FROM-routed too
    assert(rows(e, """SELECT ?o FROM <urn:graft:hist:1>
      WHERE { <urn:x#a> <urn:x#next>+ ?o }""", Seq("o")).size == 2)
    assert(repos.epochCount("h38") == 2)
  }

  test("CONSTRUCT bnode templates mint ONE fresh bnode PER SOLUTION, " +
      "shared across the template's triples of that solution") {
    val eng = engine("""@prefix : <urn:x#> . :a :p "1" . :a :p "2" .""")
    val g = eng.construct("""PREFIX : <urn:x#>
      CONSTRUCT { ?s :wrapped _:w . _:w :val ?v } WHERE { ?s :p ?v }""")
    assert(g.count() == 4)
    import org.apache.spark.sql.functions.col
    // two distinct bnodes (one per solution), each appearing as the
    // object of :wrapped AND the subject of :val
    val asSubj = g.filter(col("s").startsWith("_:"))
      .select("s").distinct().collect().map(_.getString(0)).toSet
    val asObj = g.filter(col("o.value").startsWith("_:") &&
        col("p") === "urn:x#wrapped")
      .select("o.value").distinct().collect().map(_.getString(0)).toSet
    assert(asSubj.size == 2 && asSubj == asObj)
  }

  test("DESCRIBE carries a SolutionModifier (19.8): ORDER BY + LIMIT/" +
      "OFFSET slice the WHERE solutions BEFORE the CBD expands") {
    val eng = engine(
      """@prefix : <urn:x#> . :a :n "1" . :b :n "2" . :a :m "x" .""")
    def described(q: String): Set[String] =
      eng.describeQuery(q).select("s").distinct().collect()
        .map(_.getString(0)).toSet
    assert(described("""PREFIX : <urn:x#>
      DESCRIBE ?x WHERE { ?x :n ?v } ORDER BY ?x LIMIT 1""") ==
      Set("urn:x#a"))
    assert(described("""PREFIX : <urn:x#>
      DESCRIBE ?x WHERE { ?x :n ?v } ORDER BY DESC(?x) LIMIT 1""") ==
      Set("urn:x#b"))
    assert(described("""PREFIX : <urn:x#>
      DESCRIBE ?x WHERE { ?x :n ?v } ORDER BY DESC(?x) LIMIT 1 OFFSET 1""")
      == Set("urn:x#a"))
    // the described resource's FULL CBD comes along, not just WHERE rows
    val g = eng.describeQuery("""PREFIX : <urn:x#>
      DESCRIBE ?x WHERE { ?x :n ?v } ORDER BY ?x LIMIT 1""")
    assert(g.count() == 2) // :a :n "1" AND :a :m "x"
  }

  // ---- tranche 39 (r17): 19.6 ledger across FROM NAMED arm re-parses,
  // DESCRIBE SolutionModifier unified with the main parser ----

  test("§19.6 the bnode-label ledger survives FROM NAMED arm re-parses " +
      "(r17 ADVICE): GRAPH ?g with a labeled-bnode body under FROM NAMED " +
      "parses, answers, and still rejects GENUINE label reuse") {
    import spark.implicits._
    val cat = new GraphCatalog(spark)
    cat.addQuads(graft.sources.TrigReader.parse(
      """@prefix : <http://example/> .
        |:g1 { _:x :p 1 . }
        |:g2 { _:y :p 2 . }""".stripMargin).toDS().toDF())
    val eng = new Engine(cat)
    // r16 regression: the per-FROM-NAMED re-parse of the GRAPH body
    // re-encountered _:b after the first parse had closed its label →
    // spurious 19.6 error. Now: the dataset restricts to g1 only.
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?o FROM NAMED :g1 WHERE { GRAPH ?g { _:b :p ?o } }"""
        .stripMargin, Seq("o")) == Seq(Vector(Some("1"))))
    // two FROM NAMED entries → two arm re-parses of the same body
    assert(rows(eng,
      """PREFIX : <http://example/>
        |SELECT ?o FROM NAMED :g1 FROM NAMED :g2
        |WHERE { GRAPH ?g { _:b :p ?o } }""".stripMargin,
      Seq("o")) == sorted(Seq(Vector(Some("1")), Vector(Some("2")))))
    // the ledger still catches a REAL 19.6 violation after the re-parses:
    // the same label in a LATER group is two different BGPs
    val ex = intercept[Exception](eng.select(
      """PREFIX : <http://example/>
        |SELECT ?o FROM NAMED :g1 WHERE {
        |  GRAPH ?g { _:b :p ?o } { _:b :p ?o } }""".stripMargin))
    assert(ex.getMessage.contains("19.6"))
  }

  test("DESCRIBE SolutionModifier is the MAIN parser's (r17): Constraint " +
      "ORDER BY keys, GROUP BY/HAVING, and modifiers without WHERE") {
    val eng = engine(
      """@prefix : <urn:x#> .
        |:a :n "10" . :b :n "9" . :a :n "7" .""".stripMargin)
    def described(q: String): Set[String] =
      eng.describeQuery(q).select("s").distinct().collect()
        .map(_.getString(0)).toSet
    // lexical order: "10" < "7" < "9" → :a first; STRLEN order: "9"(1)
    // first → :b. The r16 mini-parser REJECTED the builtin-call key.
    assert(described("""PREFIX : <urn:x#>
      DESCRIBE ?x WHERE { ?x :n ?v } ORDER BY ?v LIMIT 1""") ==
      Set("urn:x#a"))
    assert(described("""PREFIX : <urn:x#>
      DESCRIBE ?x WHERE { ?x :n ?v } ORDER BY STRLEN(?v) LIMIT 1""") ==
      Set("urn:x#b"))
    // GROUP BY + HAVING gate the described set on an aggregate
    assert(described("""PREFIX : <urn:x#>
      DESCRIBE ?x WHERE { ?x :n ?v } GROUP BY ?x HAVING (COUNT(?v) > 1)""")
      == Set("urn:x#a"))
    // ORDER BY over an aggregate of the grouped solutions
    assert(described("""PREFIX : <urn:x#>
      DESCRIBE ?x WHERE { ?x :n ?v }
      GROUP BY ?x ORDER BY DESC(COUNT(?v)) LIMIT 1""") == Set("urn:x#a"))
    // a modifier on a DESCRIBE WITHOUT WHERE is grammatical — consumed,
    // no trailing-input error; over the single empty solution it is a
    // no-op and the explicit IRI is still described
    assert(described("PREFIX : <urn:x#> DESCRIBE :b LIMIT 5") ==
      Set("urn:x#b"))
    assert(described("PREFIX : <urn:x#> DESCRIBE :b ORDER BY STR(:a)") ==
      Set("urn:x#b"))
    // DESCRIBE * (grammar [11], r17 probe-found): every variable of the
    // pattern — ?x's bindings describe; ?v's literals contribute nothing
    assert(described("""PREFIX : <urn:x#>
      DESCRIBE * WHERE { ?x :n ?v }""") == Set("urn:x#a", "urn:x#b"))
    // with modifiers: the slice applies before the CBD like the named form
    assert(described("""PREFIX : <urn:x#>
      DESCRIBE * WHERE { ?x :n ?v } ORDER BY STRLEN(?v) LIMIT 1""") ==
      Set("urn:x#b"))
    // star without WHERE: nothing to draw variables from — parse error
    intercept[Exception](eng.describeQuery("DESCRIBE *"))
  }

  test("custom-function SPI (r17): registered IRIs dispatch with " +
      "open-world error flow; unknown IRIs error; built-in namespaces " +
      "reject registration") {
    import graft.functions.SparqlFunctions
    val eng = engine("""@prefix : <urn:x#> . :a :n 3 . :b :m "s" .""")
    SparqlFunctions.registerFunction("urn:example:fn:sq",
      as => SparqlFunctions.numT(
        as.head.getField("num") * as.head.getField("num")))
    try {
      // dispatch through BIND and FILTER call sites
      assert(rows(eng, """PREFIX : <urn:x#>
        |SELECT ?v WHERE { ?x :n ?k BIND(<urn:example:fn:sq>(?k) AS ?v) }"""
        .stripMargin, Seq("v")) == Seq(Vector(Some("9.0"))))
      // a non-numeric argument yields a null num -> null term -> the
      // SPARQL error: BIND leaves ?v unbound, the row survives
      assert(rows(eng, """PREFIX : <urn:x#>
        |SELECT ?v WHERE { ?x :m ?s BIND(<urn:example:fn:sq>(?s) AS ?v) }"""
        .stripMargin, Seq("v")) == Seq(Vector(None)))
      // unknown IRI: an error at the call site, not silence
      val ex = intercept[Exception](eng.select(
        """SELECT ?v WHERE { ?x <urn:x#n> ?k
          |BIND(<urn:example:fn:nosuch>(?k) AS ?v) }""".stripMargin)
        .collect())
      assert(ex.getMessage.contains("unknown function"))
      // built-in namespaces are reserved; built-ins cannot be shadowed
      for (bad <- Seq("http://www.w3.org/2001/XMLSchema#integer",
          "http://www.opengis.net/def/function/geosparql/distance",
          "http://www.w3.org/2005/xpath-functions/math#sqrt",
          "urn:graft:fn:makeValid"))
        intercept[IllegalArgumentException](
          SparqlFunctions.registerFunction(bad, as => as.head))
    } finally SparqlFunctions.unregisterFunction("urn:example:fn:sq")
  }

  test("§17.5 xsd:dateTime constructor (r17 probe-found gap): casts " +
      "valid lexicals from string/date/dateTime; errors on lang tags, " +
      "invalid forms, IRIs") {
    val eng = engine("""@prefix : <urn:x#> . :c :p "x" .""")
    def bind(expr: String): Option[String] = rows(eng,
      s"""PREFIX : <urn:x#>
         |PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
         |SELECT ?r WHERE { :c :p ?v BIND(($expr) AS ?r) }""".stripMargin,
      Seq("r")).head.head
    assert(bind("""xsd:dateTime("2024-01-01T10:30:00Z")""")
      .contains("2024-01-01T10:30:00Z"))
    // the num shadow works: YEAR over the cast answers
    assert(bind("""YEAR(xsd:dateTime("2024-03-05T00:00:00"))""")
      .contains("2024"))
    // xsd:date extends to midnight
    assert(bind("""xsd:dateTime("2024-03-05"^^xsd:date)""")
      .contains("2024-03-05T00:00:00"))
    // identity on a dateTime literal
    assert(bind("""xsd:dateTime("2020-06-01T01:02:03+02:00"^^xsd:dateTime)""")
      .contains("2020-06-01T01:02:03+02:00"))
    // invalid lexical / lang tag / IRI: errors (unbound)
    assert(bind("""xsd:dateTime("2024-03-05")""").isEmpty)
    assert(bind("""xsd:dateTime("not a date")""").isEmpty)
    assert(bind("""xsd:dateTime("2024-01-01T00:00:00"@en)""").isEmpty)
    assert(bind("""xsd:dateTime(<urn:x#c>)""").isEmpty)
    // ...and the ORDER relation sees the cast's epoch shadow
    assert(bind("""xsd:dateTime("2024-01-01T00:00:00Z") <
      "2024-01-02T00:00:00Z"^^xsd:dateTime""").contains("true"))
  }

  test("RDF documents denote SETS (r17 probe-found): a triple asserted " +
      "twice — plain + star-annotated, or plain repetition — has BGP " +
      "solution multiplicity 1, not 2") {
    import spark.implicits._
    val q = graft.sources.TurtleReader.parse(
      """@prefix : <urn:x#> . :a :p :b . :a :p :b .""")
    assert(q.size == 1)
    // the annotation form also asserts the base triple — still ONE copy
    val q2 = graft.sources.TurtleReader.parse(
      """@prefix : <urn:x#> . :a :p :b . :a :p :b {| :cert 0.9 |} .""")
    assert(q2.count(x => x.s == "urn:x#a") == 1)
    val cat = new GraphCatalog(spark)
    cat.addQuads(q2.toDS().toDF())
    val eng = new Engine(cat)
    assert(rows(eng, "SELECT ?o WHERE { <urn:x#a> <urn:x#p> ?o }",
      Seq("o")).size == 1)
    // TriG / JSON-LD / RDF-XML documents dedup the same way
    assert(graft.sources.TrigReader.parse(
      """@prefix : <urn:x#> . :g { :a :p :b . :a :p :b . }""").size == 1)
  }

  test("ASK and CONSTRUCT carry the full SolutionModifier + trailing " +
      "VALUES (grammar [10][12][1], r17 probe-found): LIMIT 0 empties " +
      "ASK to false, HAVING gates CONSTRUCT's implicit groups, VALUES " +
      "joins the pattern") {
    val eng = engine(
      """@prefix : <urn:x#> . :a :n "1" . :a :n "2" . :b :n "3" .""")
    // ASK: ORDER is a no-op, LIMIT 0 empties the sequence -> false
    assert(eng.ask("""PREFIX : <urn:x#>
      ASK WHERE { ?x :n ?v } ORDER BY ?v LIMIT 1"""))
    assert(!eng.ask("PREFIX : <urn:x#> ASK WHERE { ?x :n ?v } LIMIT 0"))
    // ASK + HAVING over the implicit group
    assert(eng.ask("""PREFIX : <urn:x#>
      ASK WHERE { ?x :n ?v } HAVING (COUNT(?v) > 2)"""))
    assert(!eng.ask("""PREFIX : <urn:x#>
      ASK WHERE { ?x :n ?v } HAVING (COUNT(?v) > 3)"""))
    // ASK trailing VALUES joins (compatible and incompatible)
    assert(eng.ask("""PREFIX : <urn:x#>
      ASK WHERE { ?x :n ?v } VALUES ?v { "1" }"""))
    assert(!eng.ask("""PREFIX : <urn:x#>
      ASK WHERE { ?x :n ?v } VALUES ?v { "9" }"""))
    // CONSTRUCT: GROUP BY + HAVING gate which group keys instantiate
    val g = eng.construct("""PREFIX : <urn:x#>
      CONSTRUCT { ?x :multi ?x } WHERE { ?x :n ?v }
      GROUP BY ?x HAVING (COUNT(?v) > 1)""")
    assert(g.count() == 1 &&
      g.select("s").head().getString(0) == "urn:x#a")
    // CONSTRUCT: Constraint ORDER key + LIMIT before instantiation
    assert(eng.construct("""PREFIX : <urn:x#>
      CONSTRUCT { ?x :seen ?v } WHERE { ?x :n ?v }
      ORDER BY STRLEN(?v) LIMIT 2""").count() == 2)
    // CONSTRUCT trailing VALUES restricts the solution set
    assert(eng.construct("""PREFIX : <urn:x#>
      CONSTRUCT { ?x :seen ?v } WHERE { ?x :n ?v }
      VALUES ?v { "1" "3" }""").count() == 2)
  }

  test("SPARQL Update WHERE resolves the repository's pseudo-graphs " +
      "(r17): hist:<k> restores point-in-time facts, the changes feed " +
      "drives template instantiation, onto:explicit scopes an " +
      "inference repo's update") {
    import graft.sources.{RepoConfig, Repositories}
    val ttl = java.nio.file.Files.createTempFile("graft_uph", ".ttl")
    java.nio.file.Files.writeString(ttl,
      """@prefix t: <urn:t#> . <urn:a> t:next <urn:b> .
        |<urn:b> t:next <urn:c> .""".stripMargin)
    val repos = new Repositories(spark)
    repos.create("p")
    repos.load("p", ttl.toString)
    repos.update("p", "DELETE DATA { <urn:b> <urn:t#next> <urn:c> }")
    // restore what epoch 1 had, via the WHERE reading hist:1
    repos.update("p", """INSERT { ?s <urn:t#next> ?o }
      |WHERE { GRAPH <urn:graft:hist:1> { ?s <urn:t#next> ?o } }"""
      .stripMargin)
    assert(repos.engine("p").select(
      "SELECT ?s WHERE { ?s <urn:t#next> ?o }").count() == 2)
    // the changes feed drives a template: tag what the delete removed
    repos.update("p", """INSERT { ?s <urn:t#respawned> ?o }
      |WHERE { GRAPH <urn:graft:changes:1:2:removed>
      |  { ?s <urn:t#next> ?o } }""".stripMargin)
    assert(repos.engine("p").select(
      "SELECT ?s WHERE { ?s <urn:t#respawned> ?o }").count() == 1)
    // inference repo: onto:explicit scopes the WHERE to asserted facts
    val ttl2 = java.nio.file.Files.createTempFile("graft_upe", ".ttl")
    java.nio.file.Files.writeString(ttl2,
      """@prefix t: <urn:t#> .
        |@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
        |t:p rdfs:domain t:C . <urn:a> t:p "x" .""".stripMargin)
    repos.create("i", RepoConfig(inference = true))
    repos.load("i", ttl2.toString)
    repos.update("i", """INSERT { ?s <urn:t#exp> ?o }
      |WHERE { GRAPH <http://www.ontotext.com/explicit>
      |  { ?s <urn:t#p> ?o } }""".stripMargin)
    assert(repos.engine("i").select(
      "SELECT ?s WHERE { ?s <urn:t#exp> ?o }").count() == 1)
    // COPY/ADD may SOURCE a pseudo-graph (materialize an epoch / feed
    // side into a real named graph); MOVE from a read-only view refuses
    repos.update("p", "COPY <urn:graft:hist:1> TO <urn:backup>")
    assert(repos.engine("p").select(
      "SELECT ?s WHERE { GRAPH <urn:backup> { ?s ?p ?o } }").count() == 2)
    repos.update("p", "ADD <urn:graft:changes:1:2:removed> TO <urn:delta>")
    assert(repos.engine("p").select(
      "SELECT ?s WHERE { GRAPH <urn:delta> { ?s ?p ?o } }").count() == 1)
    intercept[Exception](
      repos.update("p", "MOVE <urn:graft:hist:1> TO <urn:gone>"))
  }

  // ---- tranche 40 (r18, probe-first): registered-function composition,
  // pseudo-graphs in Update USING / FROM NAMED enumeration, CONSTRUCT
  // through every RDF writer, first-class xsd:time surfaces, and the
  // r17 ADVICE fixes ----

  test("registered functions compose through every call position: " +
      "aggregate bodies, ORDER BY, HAVING, path-adjacent FILTERs, " +
      "SERVICE bodies; re-registration takes the latest; an unknown " +
      "function IRI errors LOUDLY at compile") {
    import spark.implicits._
    import graft.functions.SparqlFunctions
    SparqlFunctions.registerFunction("urn:t40:twice",
      args => SparqlFunctions.numT(args.head.getField("num") * 2.0))
    val ttl = """@prefix ex: <http://example.org/> .
      |ex:a ex:v 3 . ex:a ex:next ex:b .
      |ex:b ex:v 5 . ex:b ex:next ex:c .
      |ex:c ex:v 7 .""".stripMargin
    val eng = engine(ttl)
    // aggregate body
    assert(rows(eng, """PREFIX ex: <http://example.org/>
      |SELECT (SUM(<urn:t40:twice>(?v)) AS ?s) WHERE { ?x ex:v ?v }"""
      .stripMargin, Seq("s")) == Seq(Vector(Some("30.0"))))
    // ORDER BY key (DESC by doubled value)
    val ord = eng.select("""PREFIX ex: <http://example.org/>
      |SELECT ?v WHERE { ?x ex:v ?v }
      |ORDER BY DESC(<urn:t40:twice>(?v))""".stripMargin)
      .collect().map(_.getStruct(0).getString(1)).toSeq
    assert(ord == Seq("7", "5", "3"))
    // FILTER beside a property path: twice(5) = 10 is NOT > 10
    assert(rows(eng, """PREFIX ex: <http://example.org/>
      |SELECT ?v WHERE { ex:a ex:next+ ?y . ?y ex:v ?v
      |  FILTER(<urn:t40:twice>(?v) > 10) }""".stripMargin,
      Seq("v")) == Seq(Vector(Some("7"))))
    // HAVING
    assert(eng.select("""PREFIX ex: <http://example.org/>
      |SELECT ?x (SUM(?v) AS ?sv) WHERE { ?x ex:v ?v } GROUP BY ?x
      |HAVING(<urn:t40:twice>(SUM(?v)) > 9)""".stripMargin)
      .count() == 2)
    // SERVICE body dispatches registrations too (one JVM registry)
    val local = new GraphCatalog(spark)
    local.addQuads(TurtleReader.parse(ttl).toDS().toDF())
    val remote = new GraphCatalog(spark)
    remote.addQuads(TurtleReader.parse(ttl).toDS().toDF())
    val fed = new Engine(local.registerService("urn:t40:svc", remote))
    assert(rows(fed, """PREFIX ex: <http://example.org/>
      |SELECT ?v WHERE { SERVICE <urn:t40:svc>
      |  { ?x ex:v ?v FILTER(<urn:t40:twice>(?v) >= 10) } }""".stripMargin,
      Seq("v")) == sorted(Seq(Vector(Some("5")), Vector(Some("7")))))
    // re-registration: latest implementation wins
    SparqlFunctions.registerFunction("urn:t40:rere",
      args => SparqlFunctions.numT(args.head.getField("num") + 1.0))
    SparqlFunctions.registerFunction("urn:t40:rere",
      args => SparqlFunctions.numT(args.head.getField("num") + 100.0))
    assert(rows(eng, "SELECT (<urn:t40:rere>(1) AS ?r) WHERE { }",
      Seq("r")) == Seq(Vector(Some("101.0"))))
    // unknown function IRI: a loud compile-time diagnosis (the Jena/
    // GraphDB posture), never a silently-empty result
    val ex = intercept[IllegalArgumentException](
      eng.select("SELECT (<urn:t40:nosuch>(1) AS ?r) WHERE { }"))
    assert(ex.getMessage.contains("urn:t40:nosuch"))
  }

  test("hist:/changes: pseudo-graphs serve Update USING as the WHERE " +
      "dataset; FROM NAMED enumerates an explicitly-named changes: " +
      "graph under GRAPH ?g; a WITH write against a pseudo-graph never " +
      "mutates the epoch view") {
    import graft.sources.Repositories
    val repos = new Repositories(spark)
    repos.create("t40b")
    repos.update("t40b", "INSERT DATA { <urn:s1> <urn:p> 1 }") // epoch 1
    repos.update("t40b", "INSERT DATA { <urn:s2> <urn:p> 2 }") // epoch 2
    // USING hist:1 — only epoch-1 subjects match the WHERE
    repos.update("t40b", """INSERT { ?s <urn:fromEpoch1> true }
      |USING <urn:graft:hist:1> WHERE { ?s <urn:p> ?o }""".stripMargin)
    val e1 = repos.engine("t40b")
    assert(e1.ask("ASK { <urn:s1> <urn:fromEpoch1> true }"))
    assert(!e1.ask("ASK { <urn:s2> <urn:fromEpoch1> true }"))
    // USING the added side of the 1→2 change feed
    repos.update("t40b", """INSERT { ?s <urn:newIn2> true }
      |USING <urn:graft:changes:1:2:added> WHERE { ?s <urn:p> ?o }"""
      .stripMargin)
    val e2 = repos.engine("t40b")
    assert(e2.ask("ASK { <urn:s2> <urn:newIn2> true }"))
    assert(!e2.ask("ASK { <urn:s1> <urn:newIn2> true }"))
    // FROM NAMED names the pseudo-graph explicitly → GRAPH ?g binds it
    // (the r17 rule only keeps pseudo-graphs out of the DEFAULT
    // enumeration; an explicit dataset clause is the user asking)
    val named = e2.select("""SELECT ?g ?s
      |FROM NAMED <urn:graft:changes:1:2:added>
      |WHERE { GRAPH ?g { ?s <urn:p> ?o } }""".stripMargin).collect()
    assert(named.length == 1 &&
      named(0).getStruct(0).getString(1) == "urn:graft:changes:1:2:added" &&
      named(0).getStruct(1).getString(1) == "urn:s2")
    // WITH a pseudo-graph target: the epoch view stays immutable
    try repos.update("t40b", """WITH <urn:graft:hist:1>
      |DELETE { ?s <urn:p> ?o } WHERE { ?s <urn:p> ?o }""".stripMargin)
    catch { case _: Exception => () } // refusing loudly is also fine
    assert(repos.engine("t40b").select(
      "SELECT ?s FROM <urn:graft:hist:1> WHERE { ?s <urn:p> ?o }")
      .count() == 1)
    // MOVE SILENT from a pseudo-graph is a NO-OP (r17 ADVICE — the
    // silent flag was discarded); non-silent still refuses
    repos.update("t40b", "MOVE SILENT <urn:graft:hist:1> TO <urn:g2>")
    assert(repos.engine("t40b").ask("ASK { <urn:s1> <urn:p> 1 }"))
    intercept[Exception](
      repos.update("t40b", "MOVE <urn:graft:hist:1> TO <urn:g2>"))
  }

  test("CONSTRUCT results round-trip through every negotiated RDF " +
      "writer (N-Triples, Turtle, TriG, RDF/XML, JSON-LD): writer → " +
      "parser → the SAME quad set") {
    import spark.implicits._
    import graft.sources.{JsonLdReader, RdfWriter, RdfXmlReader}
    val eng = engine("""@prefix ex: <http://example.org/> .
      |ex:a ex:name "Dublin" .
      |ex:a ex:pop 544107 .
      |ex:a ex:motto "Obedientia Civium Urbis Felicitas"@la ."""
      .stripMargin)
    val g = eng.construct(
      "CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o }")
    def qs(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    val want = qs(g)
    assert(want.size == 3)
    def reparse(doc: String, parse: String => Seq[graft.model.Quad]) =
      qs(parse(doc).toDS().toDF())
    assert(reparse(RdfWriter.document(RdfWriter.ntriplesLines(g)),
      TurtleReader.parse(_)) == want)
    assert(reparse(RdfWriter.document(RdfWriter.turtleLines(g)),
      TurtleReader.parse(_)) == want)
    assert(reparse(RdfWriter.document(RdfWriter.trigLines(g)),
      TrigReader.parse(_)) == want)
    assert(reparse(RdfWriter.document(RdfWriter.rdfXmlLines(g)),
      RdfXmlReader.parse(_)) == want)
    assert(reparse(RdfWriter.document(RdfWriter.jsonLdLines(g)),
      JsonLdReader.parse(_)) == want)
  }

  test("xsd:time is first-class (r18): normalized order and equality, " +
      "type-errors against every other type, component accessors, the " +
      "17.5 constructor, MIN/MAX, sameTerm vs value equality") {
    val eng = engine("""@prefix ex: <http://example.org/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |ex:a ex:t "09:00:00+02:00"^^xsd:time .
      |ex:b ex:t "08:00:00Z"^^xsd:time .
      |ex:c ex:t "10:30:05.5"^^xsd:time .
      |ex:d ex:t "24:00:00"^^xsd:time .
      |ex:a ex:dt "2024-06-01T09:15:30+02:00"^^xsd:dateTime .
      |ex:a ex:n 7 .""".stripMargin)
    val X = "PREFIX ex: <http://example.org/> " +
      "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    // +02:00 normalizes: 09:00+02 (07:00Z) < 08:00Z
    assert(eng.ask(X + "ASK { ex:a ex:t ?x . ex:b ex:t ?y FILTER(?x < ?y) }"))
    // XSD 1.1: 24:00:00 IS midnight
    assert(eng.ask(X +
      "ASK { ex:d ex:t ?x FILTER(?x = \"00:00:00\"^^xsd:time) }"))
    // mixed time/dateTime and time/numeric are 17.3 type errors
    assert(!eng.ask(X + "ASK { ex:a ex:t ?x . ex:a ex:dt ?y " +
      "FILTER(?x < ?y || ?x >= ?y) }"))
    assert(!eng.ask(X + "ASK { ex:a ex:t ?x . ex:a ex:n ?y " +
      "FILTER(?x < ?y || ?x >= ?y) }"))
    // components read the LEXICAL form (original timezone)
    assert(rows(eng, X + "SELECT (HOURS(?x) AS ?h) (MINUTES(?x) AS ?m) " +
      "(TZ(?x) AS ?z) WHERE { ex:a ex:t ?x }", Seq("h", "m", "z")) ==
      Seq(Vector(Some("9"), Some("0"), Some("+02:00"))))
    assert(rows(eng, X + "SELECT (SECONDS(?x) AS ?s) WHERE " +
      "{ ex:c ex:t ?x }", Seq("s")) == Seq(Vector(Some("5.5"))))
    // HOURS folds the 24:00:00 lexical to the XPath answer 0
    assert(rows(eng, X + "SELECT (HOURS(?x) AS ?h) WHERE { ex:d ex:t ?x }",
      Seq("h")) == Seq(Vector(Some("0"))))
    // YEAR over a time (and HOURS over a number) are type errors
    assert(rows(eng, X + "SELECT (YEAR(?x) AS ?y) WHERE { ex:b ex:t ?x }",
      Seq("y")) == Seq(Vector(None)))
    assert(rows(eng, X + "SELECT (HOURS(?n) AS ?h) WHERE { ex:a ex:n ?n }",
      Seq("h")) == Seq(Vector(None)))
    // 17.5 constructor: from string, and from dateTime keeping the offset
    assert(rows(eng, X + "SELECT (STR(xsd:time(\"13:30:00-05:00\")) AS ?t) " +
      "WHERE { }", Seq("t")) == Seq(Vector(Some("13:30:00-05:00"))))
    assert(rows(eng, X + "SELECT (STR(xsd:time(?d)) AS ?t) WHERE " +
      "{ ex:a ex:dt ?d }", Seq("t")) == Seq(Vector(Some("09:15:30+02:00"))))
    assert(rows(eng, X + "SELECT (xsd:time(\"25:00:00\") AS ?t) WHERE { }",
      Seq("t")) == Seq(Vector(None)))
    // MIN/MAX follow the normalized instant
    assert(rows(eng, X + "SELECT (MIN(?t) AS ?mn) (MAX(?t) AS ?mx) WHERE " +
      "{ ?s ex:t ?t }", Seq("mn", "mx")) ==
      Seq(Vector(Some("24:00:00"), Some("10:30:05.5"))))
    // equal value, different lexical: `=` true, sameTerm false
    assert(eng.ask(X +
      "ASK { ex:b ex:t ?t FILTER(?t = \"10:00:00+02:00\"^^xsd:time) }"))
    assert(!eng.ask(X + "ASK { ex:b ex:t ?t " +
      "FILTER(sameTerm(?t, \"10:00:00+02:00\"^^xsd:time)) }"))
  }

  test("temporal lexicals with timezones (r17 ADVICE): " +
      "xsd:dateTime(date-with-tz) is midnight IN that zone; dateTime " +
      "vs plain numeric comparison is a type error; TZ/TIMEZONE answer " +
      "over date and time") {
    val eng = engine("""@prefix ex: <http://example.org/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |ex:a ex:d "2024-03-05+02:00"^^xsd:date .
      |ex:a ex:dt "2020-01-01T00:00:00Z"^^xsd:dateTime .""".stripMargin)
    val X = "PREFIX ex: <http://example.org/> " +
      "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    assert(rows(eng, X + "SELECT (STR(xsd:dateTime(?d)) AS ?v) WHERE " +
      "{ ex:a ex:d ?d }", Seq("v")) ==
      Seq(Vector(Some("2024-03-05T00:00:00+02:00"))))
    // the tz-date's YEAR/MONTH/DAY stay the LEXICAL fields
    assert(rows(eng, X + "SELECT (YEAR(?d) AS ?y) (MONTH(?d) AS ?m) " +
      "(TZ(?d) AS ?z) WHERE { ex:a ex:d ?d }", Seq("y", "m", "z")) ==
      Seq(Vector(Some("2024"), Some("3"), Some("+02:00"))))
    assert(rows(eng, X + "SELECT (TIMEZONE(?d) AS ?z) WHERE " +
      "{ ex:a ex:d ?d }", Seq("z")) == Seq(Vector(Some("PT2H"))))
    // dateTime < huge plain double: no 17.3 entry → error, not an
    // epoch-shadow comparison
    assert(!eng.ask(X + "ASK { ex:a ex:dt ?t FILTER(?t < 1e15) }"))
  }

  test("DESCRIBE resource lists distinguish clause keywords from " +
      "same-spelled PNAME prefixes (r17 ADVICE): PREFIX LIMIT: ... " +
      "DESCRIBE LIMIT:a parses; real modifiers still bind") {
    val eng = engine("""@prefix ex: <http://example.org/> .
      |ex:a ex:p 1 . ex:a ex:q 2 .""".stripMargin)
    // LIMIT: is a PNAME prefix here, not the LIMIT keyword
    assert(eng.describeQuery(
      "PREFIX LIMIT: <http://example.org/> DESCRIBE LIMIT:a").count() == 2)
    // and the genuine modifier still applies after a resource list
    assert(eng.describeQuery("""PREFIX ex: <http://example.org/>
      |DESCRIBE ?x WHERE { ?x ex:p 1 } LIMIT 1""".stripMargin)
      .count() == 2)
  }

  // ---- tranche 41 (r18): first-class xsd:dayTimeDuration — XPath
  // temporal arithmetic (op:subtract-dateTimes and friends), duration
  // ordering/equality by VALUE, the one-family comparison rule, and the
  // 17.5 constructor cast ----

  private val durTtl = """@prefix ex: <http://example.org/> .
    |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
    |ex:a ex:start "2024-03-01T10:00:00Z"^^xsd:dateTime ;
    |     ex:end "2024-03-03T12:30:05.5Z"^^xsd:dateTime ;
    |     ex:off "2024-03-01T10:00:00+02:00"^^xsd:dateTime ;
    |     ex:d1 "2024-03-01"^^xsd:date ; ex:d2 "2024-03-05"^^xsd:date ;
    |     ex:t1 "10:00:00Z"^^xsd:time ; ex:t2 "23:30:00Z"^^xsd:time ;
    |     ex:dur "P1DT2H"^^xsd:dayTimeDuration ;
    |     ex:ndur "-PT30M"^^xsd:dayTimeDuration ;
    |     ex:n 7 .""".stripMargin
  private val DX = "PREFIX ex: <http://example.org/> " +
    "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "

  test("op:subtract-dateTimes/-dates/-times yield the CANONICAL " +
      "xsd:dayTimeDuration (zero components omitted, PT0S for zero, " +
      "fraction trimmed); reverse order negates") {
    val eng = engine(durTtl)
    assert(rows(eng, DX + "SELECT (STR(?e - ?s) AS ?d) " +
      "(STR(?s - ?e) AS ?r) WHERE { ex:a ex:start ?s ; ex:end ?e }",
      Seq("d", "r")) ==
      Seq(Vector(Some("P2DT2H30M5.5S"), Some("-P2DT2H30M5.5S"))))
    assert(rows(eng, DX + "SELECT (DATATYPE(?e - ?s) AS ?t) WHERE " +
      "{ ex:a ex:start ?s ; ex:end ?e }", Seq("t")) ==
      Seq(Vector(Some(
        "http://www.w3.org/2001/XMLSchema#dayTimeDuration"))))
    assert(rows(eng, DX + "SELECT (STR(?b - ?a) AS ?d) WHERE " +
      "{ ex:a ex:d1 ?a ; ex:d2 ?b }", Seq("d")) ==
      Seq(Vector(Some("P4D"))))
    assert(rows(eng, DX + "SELECT (STR(?b - ?a) AS ?d) WHERE " +
      "{ ex:a ex:t1 ?a ; ex:t2 ?b }", Seq("d")) ==
      Seq(Vector(Some("PT13H30M"))))
    assert(rows(eng, DX + "SELECT (STR(?s - ?s) AS ?d) WHERE " +
      "{ ex:a ex:start ?s }", Seq("d")) == Seq(Vector(Some("PT0S"))))
  }

  test("op:add/subtract-dayTimeDuration to dateTime keeps the operand's " +
      "timezone suffix; date floors to its starting instant; time wraps " +
      "mod 24h; duration+dateTime commutes") {
    val eng = engine(durTtl)
    assert(rows(eng, DX + "SELECT (STR(?s + ?d) AS ?r) WHERE " +
      "{ ex:a ex:start ?s ; ex:dur ?d }", Seq("r")) ==
      Seq(Vector(Some("2024-03-02T12:00:00Z"))))
    assert(rows(eng, DX + "SELECT (STR(?d + ?s) AS ?r) WHERE " +
      "{ ex:a ex:start ?s ; ex:dur ?d }", Seq("r")) ==
      Seq(Vector(Some("2024-03-02T12:00:00Z"))))
    assert(rows(eng, DX + "SELECT (STR(?o + ?d) AS ?r) WHERE " +
      "{ ex:a ex:off ?o ; ex:dur ?d }", Seq("r")) ==
      Seq(Vector(Some("2024-03-02T12:00:00+02:00"))))
    // subtracting a NEGATIVE duration adds
    assert(rows(eng, DX + "SELECT (STR(?s - ?nd) AS ?r) WHERE " +
      "{ ex:a ex:start ?s ; ex:ndur ?nd }", Seq("r")) ==
      Seq(Vector(Some("2024-03-01T10:30:00Z"))))
    assert(rows(eng, DX + "SELECT (STR(?a + ?d) AS ?r) WHERE " +
      "{ ex:a ex:d1 ?a ; ex:dur ?d }", Seq("r")) ==
      Seq(Vector(Some("2024-03-02"))))
    assert(rows(eng, DX + "SELECT (STR(?b + ?d) AS ?r) WHERE " +
      "{ ex:a ex:t2 ?b ; ex:dur ?d }", Seq("r")) ==
      Seq(Vector(Some("01:30:00Z"))))
    // fractional seconds carry through the add
    assert(rows(eng, DX + "SELECT (STR(?e + xsd:dayTimeDuration" +
      "(\"PT0.5S\")) AS ?r) WHERE { ex:a ex:end ?e }", Seq("r")) ==
      Seq(Vector(Some("2024-03-03T12:30:06Z"))))
  }

  test("duration algebra: +/- durations, unary negation, numeric " +
      "scaling, duration-by-duration ratio is xsd:decimal; divide by " +
      "zero errors") {
    val eng = engine(durTtl)
    assert(rows(eng, DX + "SELECT (STR(?d + ?nd) AS ?a) (STR(-?d) AS ?b)" +
      " (STR(?d * 2) AS ?c) (STR(?d / 2) AS ?e) WHERE " +
      "{ ex:a ex:dur ?d ; ex:ndur ?nd }", Seq("a", "b", "c", "e")) ==
      Seq(Vector(Some("P1DT1H30M"), Some("-P1DT2H"), Some("P2DT4H"),
        Some("PT13H"))))
    assert(rows(eng, DX + "SELECT (?d / \"PT13H\"^^xsd:dayTimeDuration " +
      "AS ?r) WHERE { ex:a ex:dur ?d }", Seq("r")) ==
      Seq(Vector(Some("2"))))
    assert(rows(eng, DX + "SELECT (?d / xsd:dayTimeDuration(\"PT0S\") " +
      "AS ?r) WHERE { ex:a ex:dur ?d }", Seq("r")) ==
      Seq(Vector(None)))
  }

  test("the ONE-family 17.3 rule: durations order/equate by value " +
      "within the family; every mixed pair (duration vs numeric, " +
      "duration vs dateTime, dateTime vs date, temporal+temporal, " +
      "duration+number) is a type error") {
    val eng = engine(durTtl)
    assert(eng.ask(DX +
      "ASK { ex:a ex:ndur ?nd ; ex:dur ?d FILTER(?nd < ?d) }"))
    // equal VALUE under a different lexical: `=` is value equality
    assert(eng.ask(DX + "ASK { ex:a ex:dur ?d " +
      "FILTER(?d = \"PT26H\"^^xsd:dayTimeDuration) }"))
    assert(!eng.ask(DX +
      "ASK { ex:a ex:dur ?d ; ex:n ?n FILTER(?d < ?n || ?d >= ?n) }"))
    assert(!eng.ask(DX +
      "ASK { ex:a ex:dur ?d ; ex:start ?s FILTER(?d < ?s || ?d >= ?s) }"))
    assert(rows(eng, DX + "SELECT (?d + 5 AS ?r) WHERE " +
      "{ ex:a ex:dur ?d }", Seq("r")) == Seq(Vector(None)))
    assert(rows(eng, DX + "SELECT (?s + ?s AS ?r) WHERE " +
      "{ ex:a ex:start ?s }", Seq("r")) == Seq(Vector(None)))
    assert(rows(eng, DX + "SELECT (?s - ?a AS ?r) WHERE " +
      "{ ex:a ex:start ?s ; ex:d1 ?a }", Seq("r")) == Seq(Vector(None)))
  }

  // ---- tranche 42 (r18 cont., probe-first): the new value families
  // composed through OTHER operators, and aggregate ARITHMETIC in the
  // SELECT projection (grammar [127]: Aggregate is a PrimaryExpression,
  // so `(MAX(?t) - MIN(?t) AS ?s)` is legal — probe-found parse refusal)
  // ----

  test("aggregate arithmetic in the SELECT projection parses and " +
      "answers (probe-found r18): (MAX - MIN AS ?span) over dateTimes " +
      "yields the group's dayTimeDuration span; ORDER BY/HAVING " +
      "equivalents agree") {
    val eng = engine("""@prefix ex: <http://example.org/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |ex:a ex:t "2024-03-01T10:00:00Z"^^xsd:dateTime ,
      |          "2024-03-04T10:00:00Z"^^xsd:dateTime .
      |ex:b ex:t "2024-03-01T10:00:00Z"^^xsd:dateTime ,
      |          "2024-03-02T10:00:00Z"^^xsd:dateTime .""".stripMargin)
    val X = "PREFIX ex: <http://example.org/> " +
      "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    assert(rows(eng, X + "SELECT ?s (MAX(?t) - MIN(?t) AS ?span) WHERE " +
      "{ ?s ex:t ?t } GROUP BY ?s ORDER BY ?s", Seq("s", "span")) ==
      Seq(Vector(Some("http://example.org/a"), Some("P3D")),
        Vector(Some("http://example.org/b"), Some("P1D"))))
    // plain aggregate + trailing expression binds still work (backtrack
    // must not break the committed aggregate-only path)
    assert(rows(eng, X + "SELECT (MAX(?t) AS ?mx) WHERE { ?s ex:t ?t }",
      Seq("mx")) == Seq(Vector(Some("2024-03-04T10:00:00Z"))))
    val ord = eng.select(X + "SELECT ?s WHERE { ?s ex:t ?t } GROUP BY ?s " +
      "ORDER BY DESC(MAX(?t) - MIN(?t))").collect()
      .map(_.getStruct(0).getString(1)).toSeq
    assert(ord == Seq("http://example.org/a", "http://example.org/b"))
    assert(eng.select(X + "SELECT ?s WHERE { ?s ex:t ?t } GROUP BY ?s " +
      "HAVING(MAX(?t) - MIN(?t) > \"P1D\"^^xsd:dayTimeDuration)")
      .count() == 1)
  }

  test("duration/float families compose through the operator surface " +
      "(tranche 42): GROUP_CONCAT, ORDER BY DESC + LIMIT top-k, " +
      "IF/COALESCE, VALUES joins, DISTINCT over computed terms, " +
      "chained arithmetic, yMD x float rounding") {
    val eng = engine("""@prefix ex: <http://example.org/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |ex:a ex:d "P1D"^^xsd:dayTimeDuration ;
      |     ex:t "2024-03-01T10:00:00Z"^^xsd:dateTime ;
      |     ex:f "1.5"^^xsd:float ;
      |     ex:ym "P14M"^^xsd:yearMonthDuration .
      |ex:b ex:d "PT2H"^^xsd:dayTimeDuration ;
      |     ex:t "2024-03-02T10:00:00Z"^^xsd:dateTime .
      |ex:c ex:d "-PT30M"^^xsd:dayTimeDuration ;
      |     ex:t "2024-03-03T10:00:00Z"^^xsd:dateTime .""".stripMargin)
    val X = "PREFIX ex: <http://example.org/> " +
      "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    val gc = rows(eng, X + "SELECT (GROUP_CONCAT(?d; separator=\",\") " +
      "AS ?g) WHERE { ?s ex:d ?d }", Seq("g")).head.head.get
    assert(gc.split(",").toSet == Set("P1D", "PT2H", "-PT30M"))
    assert(rows(eng, X + "SELECT ?d WHERE { ?s ex:d ?d } " +
      "ORDER BY DESC(?d) LIMIT 1", Seq("d")) == Seq(Vector(Some("P1D"))))
    assert(rows(eng, X + "SELECT ((?t + ?d) - ?t AS ?r) WHERE " +
      "{ ex:a ex:t ?t ; ex:d ?d }", Seq("r")) == Seq(Vector(Some("P1D"))))
    assert(rows(eng, X + "SELECT (IF(?d > \"PT0S\"^^xsd:dayTimeDuration," +
      " ?d, -?d) AS ?r) WHERE { ex:c ex:d ?d }", Seq("r")) ==
      Seq(Vector(Some("PT30M"))))
    assert(rows(eng, X + "SELECT (COALESCE(?d + 1, ?d) AS ?r) WHERE " +
      "{ ex:a ex:d ?d }", Seq("r")) == Seq(Vector(Some("P1D"))))
    assert(eng.select(X + "SELECT ?s WHERE { VALUES ?min " +
      "{ \"PT1H\"^^xsd:dayTimeDuration } ?s ex:d ?d FILTER(?d > ?min) }")
      .count() == 2)
    assert(eng.select(X + "SELECT DISTINCT (?t - ?t AS ?z) WHERE " +
      "{ ?s ex:t ?t }").count() == 1)
    assert(rows(eng, X + "SELECT (STR(?ym * ?f) AS ?r) WHERE " +
      "{ ex:a ex:ym ?ym ; ex:f ?f }", Seq("r")) ==
      Seq(Vector(Some("P1Y9M"))))
    assert(rows(eng, X + "SELECT (?f + ?d AS ?r) WHERE " +
      "{ ex:a ex:f ?f ; ex:d ?d }", Seq("r")) == Seq(Vector(None)))
  }

  test("xsd:yearMonthDuration is first-class (r18): calendar month-adds " +
      "CLAMP day-of-month (XPath), timezone suffix survives, the family " +
      "orders by months, ×/÷ round to whole months, ÷yMD is decimal, " +
      "and every cross-family pair (incl. vs dayTimeDuration and " +
      "time+yMD) type-errors") {
    val eng = engine("""@prefix ex: <http://example.org/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |ex:a ex:b "2024-01-31T10:00:00Z"^^xsd:dateTime ;
      |     ex:o "2024-01-31T10:00:00+02:00"^^xsd:dateTime ;
      |     ex:d1 "2024-11-30"^^xsd:date ;
      |     ex:t1 "10:00:00Z"^^xsd:time ;
      |     ex:ym "P1M"^^xsd:yearMonthDuration ;
      |     ex:big "P1Y2M"^^xsd:yearMonthDuration ;
      |     ex:dtd "P30D"^^xsd:dayTimeDuration .""".stripMargin)
    val X = "PREFIX ex: <http://example.org/> " +
      "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    // leap-year clamp: Jan 31 + P1M = Feb 29
    assert(rows(eng, X + "SELECT (STR(?b + ?m) AS ?r) WHERE " +
      "{ ex:a ex:b ?b ; ex:ym ?m }", Seq("r")) ==
      Seq(Vector(Some("2024-02-29T10:00:00Z"))))
    assert(rows(eng, X + "SELECT (STR(?m + ?o) AS ?r) WHERE " +
      "{ ex:a ex:o ?o ; ex:ym ?m }", Seq("r")) ==
      Seq(Vector(Some("2024-02-29T10:00:00+02:00"))))
    assert(rows(eng, X + "SELECT (STR(?b - ?big) AS ?r) WHERE " +
      "{ ex:a ex:b ?b ; ex:big ?big }", Seq("r")) ==
      Seq(Vector(Some("2022-11-30T10:00:00Z"))))
    assert(rows(eng, X + "SELECT (STR(?d + ?big) AS ?r) WHERE " +
      "{ ex:a ex:d1 ?d ; ex:big ?big }", Seq("r")) ==
      Seq(Vector(Some("2026-01-30"))))
    // family algebra: +, unary minus, canonical recomposition, rounding
    assert(rows(eng, X + "SELECT (STR(?m + ?big) AS ?a) (STR(-?big) AS " +
      "?b) (STR(?big * 2) AS ?c) (STR(?big / 2) AS ?e) WHERE " +
      "{ ex:a ex:ym ?m ; ex:big ?big }", Seq("a", "b", "c", "e")) ==
      Seq(Vector(Some("P1Y3M"), Some("-P1Y2M"), Some("P2Y4M"),
        Some("P7M"))))
    // ×0.5 of P1M rounds half toward +∞ → P1M (0.5 → 1)
    assert(rows(eng, X + "SELECT (STR(?m * 0.5) AS ?r) WHERE " +
      "{ ex:a ex:ym ?m }", Seq("r")) == Seq(Vector(Some("P1M"))))
    assert(rows(eng, X + "SELECT (?big / ?m AS ?r) WHERE " +
      "{ ex:a ex:ym ?m ; ex:big ?big }", Seq("r")) ==
      Seq(Vector(Some("14"))))
    assert(eng.ask(X + "ASK { ex:a ex:ym ?m ; ex:big ?big " +
      "FILTER(?m < ?big && ?big = \"P14M\"^^xsd:yearMonthDuration) }"))
    // cross-family: yMD vs dayTime order/equality and time+yMD all error
    assert(!eng.ask(X + "ASK { ex:a ex:ym ?m ; ex:dtd ?d " +
      "FILTER(?m < ?d || ?m >= ?d || ?m = ?d) }"))
    assert(rows(eng, X + "SELECT (?t + ?m AS ?r) WHERE " +
      "{ ex:a ex:t1 ?t ; ex:ym ?m }", Seq("r")) == Seq(Vector(None)))
    assert(rows(eng, X + "SELECT (?m + ?dtd AS ?r) WHERE " +
      "{ ex:a ex:ym ?m ; ex:dtd ?dtd }", Seq("r")) == Seq(Vector(None)))
    // 17.5 constructor: valid forms cast, invalid error
    assert(rows(eng, X + "SELECT (STR(xsd:yearMonthDuration(\"-P2Y\")) " +
      "AS ?r) WHERE { }", Seq("r")) == Seq(Vector(Some("-P2Y"))))
    for (bad <- Seq("P", "P1D", "1Y", "P1M2Y"))
      assert(rows(eng, X + s"""SELECT (xsd:yearMonthDuration("$bad") """ +
        "AS ?r) WHERE { }", Seq("r")) == Seq(Vector(None)), bad)
  }

  test("xsd:float joins the 17.3 promotion ladder (r18): data-loaded " +
      "floats compare and compute; float+int→float, float+double→double; " +
      "single-precision value space (float(0.1) ≠ double(0.1)); INF/-INF " +
      "lexicals shadow; SUM/AVG/unary-minus keep float") {
    val eng = engine("""@prefix ex: <http://example.org/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |ex:a ex:f "1.5"^^xsd:float ; ex:g "0.1"^^xsd:float ; ex:n 2 ;
      |     ex:d "0.1"^^xsd:double ; ex:inf "INF"^^xsd:double ;
      |     ex:finf "-INF"^^xsd:float .""".stripMargin)
    val X = "PREFIX ex: <http://example.org/> " +
      "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    assert(eng.ask(X + "ASK { ex:a ex:f ?f FILTER(?f > 1 && ?f < 2) }"))
    assert(rows(eng, X + "SELECT (?f + ?n AS ?r) (DATATYPE(?f + ?n) AS " +
      "?t) WHERE { ex:a ex:f ?f ; ex:n ?n }", Seq("r", "t")) ==
      Seq(Vector(Some("3.5"),
        Some("http://www.w3.org/2001/XMLSchema#float"))))
    assert(rows(eng, X + "SELECT (DATATYPE(?f + ?d) AS ?t) WHERE " +
      "{ ex:a ex:f ?f ; ex:d ?d }", Seq("t")) ==
      Seq(Vector(Some("http://www.w3.org/2001/XMLSchema#double"))))
    // single-precision rounding separates the value spaces
    assert(!eng.ask(X + "ASK { ex:a ex:g ?g ; ex:d ?d FILTER(?g = ?d) }"))
    assert(eng.ask(X + "ASK { ex:a ex:g ?g ; ex:d ?d FILTER(?g > ?d) }"))
    assert(eng.ask(X +
      "ASK { ex:a ex:inf ?i FILTER(?i > 1e308) }"))
    assert(eng.ask(X + "ASK { ex:a ex:finf ?m FILTER(?m < -1e38) }"))
    assert(rows(eng, X + "SELECT (xsd:float(\"INF\") AS ?r) WHERE { }",
      Seq("r")) == Seq(Vector(Some("INF"))))
    assert(rows(eng, X + "SELECT (DATATYPE(SUM(?f)) AS ?t) " +
      "(DATATYPE(-MIN(?f)) AS ?u) WHERE { ?s ex:f ?f }", Seq("t", "u")) ==
      Seq(Vector(Some("http://www.w3.org/2001/XMLSchema#float"),
        Some("http://www.w3.org/2001/XMLSchema#float"))))
    assert(eng.ask(X + "ASK { ex:a ex:f ?f FILTER(isNumeric(?f)) }"))
  }

  test("NaN follows XPath, not Spark (r18): every numeric comparison " +
      "with a NaN operand is FALSE — including NaN = NaN — so != is " +
      "true; sameTerm still holds; NaN vs a plain string stays a type " +
      "error; NaN itself stays castable") {
    val eng = engine("""@prefix ex: <http://example.org/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |ex:a ex:nan "NaN"^^xsd:double ; ex:d "0.5"^^xsd:double ;
      |     ex:s "NaN" .
      |ex:b ex:nan "NaN"^^xsd:float .""".stripMargin)
    val X = "PREFIX ex: <http://example.org/> " +
      "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    assert(!eng.ask(X +
      "ASK { ex:a ex:nan ?x . ex:b ex:nan ?y FILTER(?x = ?y) }"))
    assert(eng.ask(X +
      "ASK { ex:a ex:nan ?x . ex:b ex:nan ?y FILTER(?x != ?y) }"))
    assert(!eng.ask(X + "ASK { ex:a ex:nan ?x FILTER(?x = ?x) }"))
    assert(!eng.ask(X + "ASK { ex:a ex:nan ?x ; ex:d ?d FILTER(" +
      "?x < ?d || ?x > ?d || ?x <= ?d || ?x >= ?d || ?d < ?x) }"))
    assert(eng.ask(X + "ASK { ex:a ex:nan ?x ; ex:d ?d FILTER(?d != ?x) }"))
    assert(!eng.ask(X + "ASK { ex:a ex:nan ?x ; ex:s ?s FILTER(?x = ?s) }"))
    assert(!eng.ask(X +
      "ASK { ex:a ex:nan ?x ; ex:s ?s FILTER(?x != ?s) }"))
    assert(eng.ask(X +
      "ASK { ex:a ex:nan ?x FILTER(sameTerm(?x, \"NaN\"^^xsd:double)) }"))
    assert(rows(eng, X + "SELECT (xsd:double(\"NaN\") AS ?r) WHERE { }",
      Seq("r")) == Seq(Vector(Some("NaN"))))
  }

  test("STRDT shadow parity (r18): STRDT-built dateTime/date/time/" +
      "duration/float terms compare like data-loaded ones; junk " +
      "lexicals build ILL-TYPED literals (comparison type error, " +
      "sameTerm works) instead of crashing the ANSI cast") {
    val eng = engine("""@prefix ex: <http://example.org/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |ex:a ex:dt "2024-03-01T10:00:00Z"^^xsd:dateTime ;
      |     ex:dur "P1D"^^xsd:dayTimeDuration ;
      |     ex:g "0.1"^^xsd:float ; ex:d "0.1"^^xsd:double .""".stripMargin)
    val X = "PREFIX ex: <http://example.org/> " +
      "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    assert(eng.ask(X + "ASK { ex:a ex:dt ?t FILTER(" +
      "STRDT(\"2024-03-02T10:00:00Z\", xsd:dateTime) > ?t) }"))
    assert(eng.ask(X + "ASK { FILTER(STRDT(\"10:00:00Z\", xsd:time) < " +
      "STRDT(\"11:00:00Z\", xsd:time)) }"))
    assert(eng.ask(X + "ASK { FILTER(STRDT(\"2024-03-05\", xsd:date) > " +
      "STRDT(\"2024-03-01Z\", xsd:date)) }"))
    assert(eng.ask(X + "ASK { ex:a ex:dur ?u FILTER(" +
      "STRDT(\"PT36H\", xsd:dayTimeDuration) > ?u) }"))
    // float rounds through single precision at build time
    assert(eng.ask(X +
      "ASK { ex:a ex:g ?g FILTER(STRDT(\"0.1\", xsd:float) = ?g) }"))
    assert(!eng.ask(X +
      "ASK { ex:a ex:d ?d FILTER(STRDT(\"0.1\", xsd:float) = ?d) }"))
    assert(!eng.ask(X + "ASK { FILTER(STRDT(\"abc\", xsd:integer) < 5) }"))
    assert(eng.ask(X + "ASK { FILTER(sameTerm(" +
      "STRDT(\"abc\", xsd:integer), \"abc\"^^xsd:integer)) }"))
  }

  test("constructor casts stop leaking shadows (r18): xsd:integer/" +
      "double of a dateTime or duration is an ERROR (no epoch leak); " +
      "calendar-invalid dateTime lexicals error instead of throwing " +
      "under ANSI") {
    val eng = engine("""@prefix ex: <http://example.org/> .
      |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
      |ex:a ex:dt "2024-03-01T10:00:00Z"^^xsd:dateTime ;
      |     ex:dur "P1D"^^xsd:dayTimeDuration ;
      |     ex:f "1.5"^^xsd:float .""".stripMargin)
    val X = "PREFIX ex: <http://example.org/> " +
      "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    assert(rows(eng, X + "SELECT (xsd:integer(?t) AS ?a) " +
      "(xsd:double(?t) AS ?b) (xsd:double(?u) AS ?c) WHERE " +
      "{ ex:a ex:dt ?t ; ex:dur ?u }", Seq("a", "b", "c")) ==
      Seq(Vector(None, None, None)))
    // numeric sources still cast (float truncates through integer)
    assert(rows(eng, X + "SELECT (xsd:integer(?f) AS ?r) WHERE " +
      "{ ex:a ex:f ?f }", Seq("r")) == Seq(Vector(Some("1"))))
    assert(rows(eng, X + "SELECT (xsd:dateTime(" +
      "\"2024-13-99T10:00:00Z\") AS ?r) WHERE { }", Seq("r")) ==
      Seq(Vector(None)))
  }

  test("17.5 xsd:dayTimeDuration constructor: valid lexicals cast " +
      "keeping the lexical verbatim; 'P'/'P1DT'/yearMonth forms error; " +
      "TIMEZONE() results now carry the duration shadow and compare") {
    val eng = engine(durTtl)
    assert(rows(eng, DX + "SELECT (STR(xsd:dayTimeDuration(\"-P2D\")) " +
      "AS ?r) WHERE { }", Seq("r")) == Seq(Vector(Some("-P2D"))))
    assert(eng.ask(DX + "ASK { FILTER(xsd:dayTimeDuration(\"PT1H30M\") " +
      "= \"PT90M\"^^xsd:dayTimeDuration) }"))
    for (bad <- Seq("P", "P1DT", "P1Y", "PT", "1D"))
      assert(rows(eng, DX + s"""SELECT (xsd:dayTimeDuration("$bad") """ +
        "AS ?r) WHERE { }", Seq("r")) == Seq(Vector(None)), bad)
    assert(eng.ask(DX + "ASK { ex:a ex:off ?o " +
      "FILTER(TIMEZONE(?o) = \"PT2H\"^^xsd:dayTimeDuration) }"))
  }

  // runs last: the suite's queries before it went through ShapeParity
  test("prepared shapes: queries answered from cached shapes plan as direct " +
      "compiles of their text") {
    assert(parityChecked.get > 0)
  }
}
