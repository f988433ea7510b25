package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.algebra._
import graft.model.Rdf
import graft.sources.{DirectMapper, GraphCatalog}

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"
  lazy val catalog: GraphCatalog = GraphCatalog.testdata(spark, sf)
  lazy val compiler: Compiler = new Compiler(catalog)
}

class CompilerSpec extends AnyFunSuite {
  import TestSpark._
  def pred(t: String, c: String): I = I(DirectMapper.predIri(t, c))
  def cls(t: String): I = I(DirectMapper.classIri(t))

  test("single pattern scan binds object var (S2)") {
    val sol = compiler.compile(Bgp(Seq(
      TriplePattern(V("r"), pred("region", "r_name"), V("name")))))
    val names = sol.df.select(sol.df("name").getField("value")).collect().map(_.getString(0)).sorted
    assert(names.length == 5)
    assert(names.contains("EUROPE"))
  }

  test("star BGP collapses to one scan and joins across tables (J1/J2)") {
    val op = Bgp(Seq(
      TriplePattern(V("n"), I(Rdf.RdfType), cls("nation")),
      TriplePattern(V("n"), pred("nation", "n_name"), V("nname")),
      TriplePattern(V("n"), pred("nation", "n_regionkey"), V("r")),
      TriplePattern(V("r"), pred("region", "r_name"), V("rname"))))
    val sol = compiler.compile(op)
    assert(sol.cert == Set("n", "nname", "r", "rname"))
    val rows = sol.df.select(sol.df("nname").getField("value"), sol.df("rname").getField("value"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(rows.size == 25)
    assert(rows("NATION_7") == "ASIA")
  }

  test("filter on numeric shadow (P4)") {
    val op = FilterOp(E.gt(E.v("bal"), E.lift(E.termLit(graft.model.RdfTerm.dbl(9000.0)))),
      Bgp(Seq(TriplePattern(V("c"), pred("customer", "c_acctbal"), V("bal")))))
    val sol = compiler.compile(op)
    val n = sol.df.count()
    val expect = spark.read.parquet(s"$sf/customer.parquet")
      .filter("c_acctbal > 9000.0").count()
    assert(n == expect)
  }

  test("OPTIONAL keeps left rows; condition inside join (J3)") {
    val left = Bgp(Seq(TriplePattern(V("n"), pred("nation", "n_name"), V("nname"))))
    val right = Bgp(Seq(
      TriplePattern(V("s"), pred("supplier", "s_nationkey"), V("n")),
      TriplePattern(V("s"), pred("supplier", "s_name"), V("sname"))))
    val sol = compiler.compile(LeftJoin(left, right, None))
    val df = sol.df
    assert(sol.cert == Set("n", "nname"))
    assert(sol.maybe == Set("s", "sname"))
    val total = df.count()
    val nations = df.select(df("nname").getField("value")).distinct().count()
    assert(nations == 25) // every nation kept even without suppliers
    val suppliers = spark.read.parquet(s"$sf/supplier.parquet").count()
    val nationsWithSupp = spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_nationkey").distinct().count()
    assert(total == suppliers + (25 - nationsWithSupp))
  }

  test("UNION pads missing vars with NULL (U1)") {
    val l = Bgp(Seq(TriplePattern(V("c"), pred("customer", "c_name"), V("name"))))
    val r = Bgp(Seq(TriplePattern(V("s"), pred("supplier", "s_name"), V("name")),
      TriplePattern(V("s"), pred("supplier", "s_acctbal"), V("bal"))))
    val sol = compiler.compile(UnionOp(l, r))
    assert(sol.cert == Set("name"))
    val cnt = sol.df.count()
    val c = spark.read.parquet(s"$sf/customer.parquet").count()
    val s2 = spark.read.parquet(s"$sf/supplier.parquet").count()
    assert(cnt == c + s2)
    assert(sol.df.filter(sol.df("bal").isNull).count() == c)
  }

  test("MINUS removes compatible, keeps disjoint-domain (J4)") {
    val l = Bgp(Seq(TriplePattern(V("n"), pred("nation", "n_name"), V("nname"))))
    val r = Bgp(Seq(TriplePattern(V("s"), pred("supplier", "s_nationkey"), V("n"))))
    val sol = compiler.compile(MinusOp(l, r))
    val nWith = spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_nationkey").distinct().count()
    assert(sol.df.count() == 25 - nWith)
    // disjoint domains → no-op
    val r2 = Bgp(Seq(TriplePattern(V("x"), pred("supplier", "s_name"), V("sn"))))
    assert(compiler.compile(MinusOp(l, r2)).df.count() == 25)
  }

  test("NOT EXISTS vs EXISTS (P6/P7)") {
    val l = Bgp(Seq(TriplePattern(V("n"), pred("nation", "n_name"), V("nname"))))
    val r = Bgp(Seq(TriplePattern(V("s"), pred("supplier", "s_nationkey"), V("n"))))
    val nWith = spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_nationkey").distinct().count()
    assert(compiler.compile(ExistsOp(l, r, positive = true)).df.count() == nWith)
    assert(compiler.compile(ExistsOp(l, r, positive = false)).df.count() == 25 - nWith)
  }

  test("group/aggregate (A2) matches direct groupBy") {
    val op = Group(Seq("status"), Seq("n" -> Aggs.countStar),
      Bgp(Seq(TriplePattern(V("o"), pred("orders", "o_orderstatus"), V("status")))))
    val sol = compiler.compile(op)
    val got = sol.df.select(sol.df("status").getField("value"),
      sol.df("n").getField("num").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val expect = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy("o_orderstatus").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == expect)
  }

  test("order by + slice = top-k (O1-O4)") {
    val op = Slice(0, Some(3), OrderBy(Seq((E.v("bal"), false), (E.v("c"), true)),
      Bgp(Seq(TriplePattern(V("c"), pred("customer", "c_acctbal"), V("bal"))))))
    val sol = compiler.compile(op)
    val got = sol.df.select(sol.df("bal").getField("num")).collect().map(_.getDouble(0))
    val expect = spark.read.parquet(s"$sf/customer.parquet")
      .orderBy(org.apache.spark.sql.functions.col("c_acctbal").desc)
      .limit(3).collect().map(_.getAs[Double]("c_acctbal"))
    assert(got.sameElements(expect))
  }

  test("VALUES join constrains (J5)") {
    val vals = ValuesOp(Seq("seg"),
      Seq(Seq(Some(graft.model.RdfTerm.str("BUILDING"))),
        Seq(Some(graft.model.RdfTerm.str("AUTOMOBILE")))))
    val pat = Bgp(Seq(TriplePattern(V("c"), pred("customer", "c_mktsegment"), V("seg"))))
    val sol = compiler.compile(JoinOp(pat, vals))
    val expect = spark.read.parquet(s"$sf/customer.parquet")
      .filter("c_mktsegment IN ('BUILDING','AUTOMOBILE')").count()
    assert(sol.df.count() == expect)
  }

  test("BGP reorder: a bridging pattern listed LAST still joins on shared " +
      "vars — no Cartesian product in the plan; results match syntactic " +
      "order") {
    // syntactic order: (n_name) x (r_name) share NOTHING -> old reduce
    // cross-joined them before the bridging (n_regionkey) pattern arrived.
    val op = Bgp(Seq(
      TriplePattern(V("n"), pred("nation", "n_name"), V("nname")),
      TriplePattern(V("r"), pred("region", "r_name"), V("rname")),
      TriplePattern(V("n"), pred("nation", "n_regionkey"), V("r"))))
    val sol = compiler.compile(op)
    assert(sol.df.count() == 25) // every nation, its region's name
    val plan = sol.df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "bridge must prevent a cross join")
    // same rows as a hand-ordered compile
    val ordered = compiler.compile(Bgp(Seq(
      TriplePattern(V("n"), pred("nation", "n_name"), V("nname")),
      TriplePattern(V("n"), pred("nation", "n_regionkey"), V("r")),
      TriplePattern(V("r"), pred("region", "r_name"), V("rname")))))
    val a = sol.df.select(sol.df("nname").getField("value"),
      sol.df("rname").getField("value")).collect().map(r => (r.getString(0), r.getString(1))).sorted
    val b = ordered.df.select(ordered.df("nname").getField("value"),
      ordered.df("rname").getField("value")).collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(a.sameElements(b))
  }

  test("catalog statistics drive the estimate: computeStatistics counts " +
      "per-predicate triples and the selective pattern leads the join") {
    val cat = GraphCatalog.testdata(spark, sf).computeStatistics()
    val stats = cat.statistics.get
    val liRows = spark.read.parquet(s"$sf/lineitem.parquet").count()
    assert(stats(DirectMapper.predIri("lineitem", "l_quantity")) == liRows)
    assert(stats(DirectMapper.predIri("region", "r_name")) == 5L)
    // with stats, a region-side pattern (5 rows) is estimated far below a
    // lineitem-side one; the greedy order is observable through the join
    // tree: the first join input should be the region scan. We assert the
    // ESTIMATE ordering (public surface: statistics) rather than plan
    // internals.
    assert(stats(DirectMapper.predIri("region", "r_name")) <
      stats(DirectMapper.predIri("lineitem", "l_quantity")))
  }

  test("stats v2: distinct-object counts refine bound-object selectivity " +
      "— the key-like probe leads the join where variable counting ties") {
    import spark.implicits._
    import graft.model.{Quad, RdfTerm}
    val quads = (0 until 300).flatMap { i =>
      Seq(
        Quad(Rdf.DefaultGraph, s"urn:s/$i", "urn:p/id", RdfTerm.str(s"id$i")),
        Quad(Rdf.DefaultGraph, s"urn:s/$i", "urn:p/cat",
          RdfTerm.str(s"c${i % 3}")))
    }
    val cat = new GraphCatalog(spark)
    cat.addQuads(quads.toDS().toDF())
    cat.computeStatistics()
    val os = cat.objectStatistics.get
    assert(math.abs(os("urn:p/id") - 300L) <= 15) // approx_count_distinct
    assert(os("urn:p/cat") == 3L)
    // both patterns have equal predicate counts and one bound endpoint —
    // the variable-counting heuristic TIES (and syntactic order would
    // start from the flag). With distinct-object counts the id probe
    // estimates 300/300 = 1 row vs 300/3 = 100 and must lead the greedy
    // join; the leftmost (first-joined) leaf prints first in the plan.
    val comp = new Compiler(cat)
    val sol = comp.compile(Bgp(Seq(
      TriplePattern(V("s"), I("urn:p/cat"), L(RdfTerm.str("c1"))),
      TriplePattern(V("s"), I("urn:p/id"), L(RdfTerm.str("id43"))))))
    val plan = sol.df.queryExecution.analyzed.toString
    assert(plan.contains("urn:p/id") && plan.contains("urn:p/cat"))
    assert(plan.indexOf("urn:p/id") < plan.indexOf("urn:p/cat"),
      s"id probe must lead:\n$plan")
    assert(sol.df.count() == 1) // i=43: 43%3=1 → c1, so the join hits
  }

  // IRI template inversion (SargableIris + bound-subject stars): a bound
  // IRI becomes a key predicate only when its text is the canonical,
  // in-range key of that table; every other IRI keeps the string compare
  // and matches nothing, exactly as the string compare always did.
  private def iriRows(q: String): (Set[Seq[String]], String) = {
    val df = new Engine(catalog).select(q)
    val rows = df.collect().map(r => r.toSeq.map {
      case t: org.apache.spark.sql.Row => t.getString(1)
      case null => null
    }).toSet
    (rows, df.queryExecution.optimizedPlan.toString)
  }

  test("bound canonical IRIs compile to key predicates and answer as the " +
      "table does") {
    val (rows, plan) = iriRows("SELECT ?n WHERE { <urn:graft/customer/7> " +
      "<urn:graft/customer#c_name> ?n }")
    val expect = spark.read.parquet(s"$sf/customer.parquet")
      .filter("c_custkey = 7").select("c_name").collect()
      .map(r => Seq(r.getString(0))).toSet
    assert(rows == expect && rows.size == 1)
    assert(!plan.contains("urn:graft/customer/7"), plan)
    val (fkRows, fkPlan) = iriRows("SELECT ?o WHERE { ?o " +
      "<urn:graft/orders#o_custkey> <urn:graft/customer/7> }")
    val fkExpect = spark.read.parquet(s"$sf/orders.parquet")
      .filter("o_custkey = 7").select("o_orderkey").collect()
      .map(r => Seq(s"urn:graft/orders/${r.getLong(0)}")).toSet
    assert(fkRows == fkExpect && fkRows.nonEmpty)
    assert(!fkPlan.contains("urn:graft/customer/7"), fkPlan)
  }

  Seq(
    "leading zero" -> Seq(
      "SELECT ?n WHERE { <urn:graft/customer/007> <urn:graft/customer#c_name> ?n }",
      "SELECT ?o WHERE { ?o <urn:graft/orders#o_custkey> <urn:graft/customer/007> }"),
    "explicit sign" -> Seq(
      "SELECT ?n WHERE { <urn:graft/customer/+7> <urn:graft/customer#c_name> ?n }",
      "SELECT ?o WHERE { ?o <urn:graft/orders#o_custkey> <urn:graft/customer/+7> }"),
    // 2^32 + 7: an int truncation would read it as nation 7
    "out-of-int-range nation key" -> Seq(
      "SELECT ?nn WHERE { <urn:graft/nation/4294967303> <urn:graft/nation#n_name> ?nn }",
      "SELECT ?c WHERE { ?c <urn:graft/customer#c_nationkey> <urn:graft/nation/4294967303> }"),
    // lineitem's key is (l_orderkey, l_linenumber): a 1-part IRI names no row
    "1-part lineitem IRI" -> Seq(
      "SELECT ?q WHERE { <urn:graft/lineitem/7> <urn:graft/lineitem#l_quantity> ?q }"),
    "IRI of another table" -> Seq(
      "SELECT ?n WHERE { <urn:graft/orders/7> <urn:graft/customer#c_name> ?n }",
      "SELECT ?o WHERE { ?o <urn:graft/orders#o_custkey> <urn:graft/supplier/7> }")
  ).foreach { case (name, qs) =>
    test(s"IRI guard ($name): the string comparison stays and matches nothing") {
      qs.foreach { q =>
        val iri = "<(urn:graft/[^>]*)>".r.findAllMatchIn(q).map(_.group(1))
          .filterNot(_.contains("#")).next()
        val (rows, plan) = iriRows(q)
        assert(rows == Set.empty[Seq[String]], q)
        assert(plan.contains(iri), s"$q\n$plan")
      }
    }
  }

  test("star groups linked by key variables merge into raw-key joins with " +
      "the same answer as the table join") {
    import org.apache.spark.sql.functions.col
    def t(n: String) = spark.read.parquet(s"$sf/$n.parquet")
    // FK→PK chain plus an FK→FK link (customer and supplier share ?n)
    val (rows, _) = iriRows(
      """SELECT ?cn ?sn ?nn WHERE {
        |  ?c <urn:graft/customer#c_name> ?cn ;
        |     <urn:graft/customer#c_nationkey> ?n .
        |  ?s <urn:graft/supplier#s_name> ?sn ;
        |     <urn:graft/supplier#s_nationkey> ?n .
        |  ?n <urn:graft/nation#n_name> ?nn }""".stripMargin)
    val expect = t("customer").join(t("supplier"), col("c_nationkey") === col("s_nationkey"))
      .join(t("nation"), col("c_nationkey") === col("n_nationkey"))
      .select("c_name", "s_name", "n_name").collect()
      .map(r => Seq(r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == expect && rows.nonEmpty)
    // one table on both sides of an FK→FK link: columns are renamed apart
    val pairs = new Engine(catalog).select(
      """SELECT ?a ?b WHERE {
        |  ?a <urn:graft/customer#c_nationkey> ?n .
        |  ?b <urn:graft/customer#c_nationkey> ?n }""".stripMargin).count()
    val perNation = t("customer").filter("c_nationkey IS NOT NULL")
      .groupBy("c_nationkey").count().collect().map(_.getLong(1))
    assert(pairs == perNation.map(n => n * n).sum)
  }

  // ------------------------- key constants across joins (filter inference)

  private def t(n: String) = spark.read.parquet(s"$sf/$n.parquet")

  /** Parquet scans of `table` in `df`'s physical plan, with the filters
    * directly above each.
    */
  private def scans(df: org.apache.spark.sql.DataFrame, table: String): Seq[(String, String)] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    val plan = df.queryExecution.sparkPlan
    plan.collect { case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.getName == s"$table.parquet") =>
      val above = plan.collect { case f: FilterExec if f.child eq s => f.condition.sql }
      (s.metadata.getOrElse("PushedFilters", ""), above.mkString(" "))
    }
  }

  test("a constant subject propagates through an FK→FK merge into the other " +
      "group's scan; the answer is the DataFrame join's") {
    // two orders with line items 1 and 2
    val keys = t("lineitem").filter("l_linenumber = 1").select("l_orderkey")
      .intersect(t("lineitem").filter("l_linenumber = 2").select("l_orderkey"))
      .orderBy("l_orderkey").limit(2).collect().map(_.getLong(0))
    keys.foreach { k =>
      val q = s"""SELECT ?ln ?qty WHERE {
        |  <urn:graft/lineitem/$k/1> <urn:graft/lineitem#l_orderkey> ?o .
        |  ?l <urn:graft/lineitem#l_orderkey> ?o ;
        |     <urn:graft/lineitem#l_linenumber> ?ln ;
        |     <urn:graft/lineitem#l_quantity> ?qty }""".stripMargin
      val df = new Engine(catalog).select(q)
      val lineitem = scans(df, "lineitem")
      assert(lineitem.size == 2, df.queryExecution.sparkPlan)
      lineitem.foreach { case (pushed, _) =>
        assert(pushed.contains(s"EqualNullSafe(l_orderkey,$k)"), df.queryExecution.sparkPlan)
      }
      val (rows, _) = iriRows(q)
      val expect = t("lineitem").filter(s"l_orderkey = $k AND l_linenumber = 1")
        .selectExpr("l_orderkey AS k").join(t("lineitem"),
          org.apache.spark.sql.functions.expr("k = l_orderkey"))
        .selectExpr("cast(l_linenumber as string)", "cast(l_quantity as string)")
        .collect().map(r => Seq(r.getString(0), r.getString(1))).toSet
      assert(rows == expect && rows.size > 1, k)
    }
  }

  test("a constant on an OPTIONAL's required side filters the optional side; " +
      "a required row with no match is still returned") {
    val withOrders = t("orders").selectExpr("min(o_custkey)").head().getLong(0)
    // a customer key no order references
    val without = t("orders").selectExpr("max(o_custkey) + 1").head().getLong(0)
    Seq(withOrders, without).foreach { k =>
      val q = s"""SELECT ?c ?o ?st WHERE {
        |  BIND(<urn:graft/customer/$k> AS ?c)
        |  OPTIONAL { ?o <urn:graft/orders#o_custkey> ?c ;
        |                <urn:graft/orders#o_orderstatus> ?st } }""".stripMargin
      val df = new Engine(catalog).select(q)
      val orders = scans(df, "orders")
      assert(orders.nonEmpty && orders.forall(_._2.contains(s"urn:graft/customer/$k")),
        df.queryExecution.sparkPlan)
      val (rows, _) = iriRows(q)
      val expect = t("orders").filter(s"o_custkey = $k").collect()
        .map(r => Seq(s"urn:graft/customer/$k",
          s"urn:graft/orders/${r.getAs[Long]("o_orderkey")}", r.getAs[String]("o_orderstatus")))
        .toSet
      if (k == without) assert(rows == Set(Seq(s"urn:graft/customer/$k", null, null)))
      else assert(rows == expect && expect.nonEmpty)
    }
  }

  test("a constant inside an OPTIONAL filters only the optional side, never " +
      "the required side") {
    import org.apache.spark.sql.functions.col
    val q = """SELECT ?c ?n ?o WHERE {
      |  ?c <urn:graft/customer#c_name> ?n .
      |  OPTIONAL { <urn:graft/lineitem/7/1> <urn:graft/lineitem#l_orderkey> ?o .
      |             ?o <urn:graft/orders#o_custkey> ?c } }""".stripMargin
    val df = new Engine(catalog).select(q)
    assert(scans(df, "orders").map(_._1).exists(_.contains("EqualNullSafe(o_orderkey,7)")),
      df.queryExecution.sparkPlan)
    val customer = scans(df, "customer")
    assert(customer.nonEmpty && customer.forall { case (pushed, above) =>
      !pushed.contains("c_custkey,") && !above.contains("c_custkey")
    }, df.queryExecution.sparkPlan)
    val (rows, _) = iriRows(q)
    val order = t("lineitem").filter("l_orderkey = 7 AND l_linenumber = 1")
      .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .select("o_orderkey", "o_custkey")
    val expect = t("customer").join(order, col("c_custkey") === col("o_custkey"), "left")
      .collect().map { r =>
        val o = Option(r.getAs[Any]("o_orderkey")).map(k => s"urn:graft/orders/$k").orNull
        Seq(s"urn:graft/customer/${r.getAs[Long]("c_custkey")}", r.getAs[String]("c_name"), o)
      }.toSet
    assert(rows == expect, rows.diff(expect))
    assert(rows.size == t("customer").count() && rows.count(_(2) != null) == 1)
  }

  // ------------------------------------------ prepared query shapes

  import ShapeParity.counted

  /** The six perfbench point-lookup shapes, with constants drawn from `k`. */
  private def lookupShapes(k: Int): Seq[String] = {
    val u = "urn:graft"
    Seq(
      s"SELECT ?name ?bal ?seg WHERE { <$u/customer/$k> <$u/customer#c_name> ?name ; " +
        s"<$u/customer#c_acctbal> ?bal ; <$u/customer#c_mktsegment> ?seg }",
      s"SELECT ?cn ?nn WHERE { <$u/lineitem/$k/1> <$u/lineitem#l_orderkey> ?o . " +
        s"?o <$u/orders#o_custkey> ?c . ?c <$u/customer#c_name> ?cn ; " +
        s"<$u/customer#c_nationkey> ?n . ?n <$u/nation#n_name> ?nn }",
      s"SELECT ?o ?tp WHERE { ?o <$u/orders#o_custkey> <$u/customer/$k> ; " +
        s"<$u/orders#o_totalprice> ?tp . FILTER(?tp > ${k * 1000}) }",
      s"SELECT ?s ?name ?bal WHERE { ?s <$u/supplier#s_nationkey> <$u/nation/${k % 25}> ; " +
        s"<$u/supplier#s_name> ?name . OPTIONAL { ?s <$u/supplier#s_acctbal> ?bal . " +
        s"FILTER(?bal > ${k * 100}) } }",
      s"SELECT ?p ?price WHERE { ?p <$u/part#p_size> ${k % 50 + 1} ; " +
        s"<$u/part#p_brand> \"Brand#${k % 20}\" ; <$u/part#p_retailprice> ?price } " +
        "ORDER BY DESC(?price) ?p LIMIT 5",
      s"ASK { <$u/customer/$k> <$u/customer#c_mktsegment> \"BUILDING\" }")
  }

  /** `q` compiled through its prepared shape and compiled directly from
    * the same text, as DataFrames.
    */
  private def cachedAndDirect(eng: Engine, q: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import graft.parser.SparqlParser
    val (op, root) = SparqlParser.parse(q) match {
      case SparqlParser.SelectQ(op, _) => (op, (o: Op) => o)
      case SparqlParser.AskQ(op) => (op, (o: Op) => Slice(0, Some(1), o): Op)
      case other => fail(s"not SELECT/ASK: $other")
    }
    (eng.compiler.compile(root(op)).df,
      eng.compiler.compile(root(Prepared.unwrap(op))).df)
  }

  private def collected(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("prepared shapes: each perfbench point-lookup shape is cached; a " +
      "second key is a hit with its own answer, and the optimized plan " +
      "equals a direct compile's modulo expression ids") {
    val eng = new Engine(catalog)
    Seq(7, 8).foreach { k =>
      lookupShapes(k).foreach { q =>
        val ((cached, direct), d) = counted(cachedAndDirect(eng, q))
        if (k == 7) assert(d("misses") == 1 && d("hits") == 0, q)
        else assert(d("hits") == 1 && d("misses") == 0, q)
        assert(d.filter(_._1.startsWith("uncacheable")).values.sum == 0, q)
        assert(cached.queryExecution.optimizedPlan.canonicalized ==
          direct.queryExecution.optimizedPlan.canonicalized,
          s"$q\n${cached.queryExecution.optimizedPlan}\n" +
            direct.queryExecution.optimizedPlan)
        assert(collected(cached) == collected(direct), q)
      }
    }
  }

  test("prepared shapes: two keys of one shape each get their own answer") {
    val eng = new Engine(catalog)
    def name(k: Int) = eng.select(s"SELECT ?n WHERE { <urn:graft/customer/$k> " +
      "<urn:graft/customer#c_name> ?n }").collect().map(_.getStruct(0).getString(1)).toSeq
    val (got, d) = counted(Seq(7, 8).map(name))
    val want = Seq(7, 8).map(k => t("customer").filter(s"c_custkey = $k")
      .collect().map(_.getAs[String]("c_name")).toSeq)
    assert(got == want && want.forall(_.size == 1) && want(0) != want(1))
    assert(d("misses") == 1 && d("hits") == 1, d)
  }

  test("prepared shapes: a non-canonical or out-of-range key hits the " +
      "canonical key's shape, keeps the IRI string compare and matches nothing") {
    val eng = new Engine(catalog)
    def q(k: String) = s"SELECT ?n WHERE { <urn:graft/customer/$k> " +
      "<urn:graft/customer#c_name> ?n }"
    assert(eng.select(q("7")).count() == 1)
    Seq("007", "+7", "99999999999999999999").foreach { k =>
      val (df, d) = counted(eng.select(q(k)))
      assert(d("hits") == 1 && d("misses") == 0, k)
      assert(df.queryExecution.optimizedPlan.toString
        .contains(s"urn:graft/customer/$k"), df.queryExecution.optimizedPlan)
      assert(df.count() == 0, k)
    }
  }

  test("prepared shapes: equal constants in two slots answer like distinct ones") {
    val eng = new Engine(catalog)
    def n(a: Int, b: Int) = eng.select("SELECT ?l WHERE { ?l " +
      "<urn:graft/lineitem#l_quantity> ?q ; <urn:graft/lineitem#l_linenumber> ?ln . " +
      s"FILTER(?q > $a && ?ln < $b) }").count()
    def want(a: Int, b: Int) =
      t("lineitem").filter(s"l_quantity > $a AND l_linenumber < $b").count()
    Seq((5, 5), (3, 3), (5, 3), (3, 5), (5, 5)).foreach { case (a, b) =>
      assert(n(a, b) == want(a, b), (a, b))
    }
    assert(want(5, 5) != want(3, 3))
  }
}
