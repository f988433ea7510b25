package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import graft.plans.{Param, ParameterizeScanFilters}
import graft.sources.{ElideWidenUnderAgg, GraphCatalog}
import graft.sources.DirectMapper.TableSpec

/** Engine plumbing: the result sink, optimizer-rule registration, the
  * per-session testdata caches, and answers for bound constants at type
  * edges.
  */
class EngineSpec extends AnyFunSuite with ShapeParity {
  import TestSpark._

  private def withCap[T](cap: String)(body: => T): T = {
    spark.conf.set("spark.graft.sink.maxRows", cap)
    try body finally spark.conf.set("spark.graft.sink.maxRows", "0")
  }

  private val customers = "SELECT ?c WHERE { ?c <urn:graft/customer#c_name> ?n }"
  private lazy val nCustomers = spark.read.parquet(s"$sf/customer.parquet").count()

  test("sink cap: a result over spark.graft.sink.maxRows fails explicitly") {
    val eng = new Engine(catalog)
    withCap("3") {
      val e = intercept[IllegalStateException](eng.selectJson(customers))
      assert(e.getMessage.contains("maxRows=3"))
      // a result within the cap still serializes, all of it
      val ok = eng.selectCsv(customers + " LIMIT 3")
      assert(ok.split("\r\n").length == 4, ok)
    }
  }

  test("sink cap: 0 means unlimited") {
    val eng = new Engine(catalog)
    withCap("0") {
      val csv = eng.selectCsv(customers)
      assert(csv.split("\r\n").length == nCustomers + 1)
    }
  }

  test("sink fetches a 4-partition result with exactly one job") {
    val jobs = new AtomicInteger()
    val tag = "graft.engineSpec.sink"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    val df = spark.range(0, 100, 1, 4).toDF("x")
    assert(df.rdd.getNumPartitions == 4)
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    try {
      assert(Engine.sinkRows(df).map(_.getLong(0)).toSeq == (0L until 100L))
      org.apache.spark.GraftTestBridge.drain(sc)
      assert(jobs.get == 1)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("engines and catalogs built concurrently on one session register " +
      "each optimizer rule exactly once") {
    val session = spark.newSession()
    assert(session.experimental.extraOptimizations.isEmpty)
    val n = 4
    val barrier = new CyclicBarrier(n)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val done = (0 until n).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            barrier.await()
            if (i % 2 == 0) new Engine(new GraphCatalog(session))
            else GraphCatalog.testdata(session, sf)
          }
        })
      }
      done.foreach(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
    val opts = session.experimental.extraOptimizations
    (graft.plans.OptimizerRules.engine :+ ElideWidenUnderAgg).foreach { r =>
      assert(opts.count(_ eq r) == 1, opts)
    }
    assert(opts.size == graft.plans.OptimizerRules.engine.size + 1, opts)
    assert(session.experimental.extraStrategies == Seq(ParameterizeScanFilters))
  }

  test("a NaN cell answers neither FILTER(?x > c) nor FILTER(?x < c); the " +
      "range reaches the scan with no per-row string cast") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_nan").toString
    Seq((1L, Double.NaN), (2L, -1.5), (3L, 0.0), (4L, 2.5), (5L, Double.PositiveInfinity))
      .toDF("n_key", "n_dbl").coalesce(1).write.parquet(s"$dir/nanny.parquet")
    val eng = new Engine(new GraphCatalog(spark).register(
      TableSpec("nanny", Seq("n_key")), spark.read.parquet(s"$dir/nanny.parquet")))
    def q(cmp: String) =
      s"SELECT ?s WHERE { ?s <urn:graft/nanny#n_dbl> ?d FILTER(?d $cmp) }"
    def keys(cmp: String): Set[String] = eng.select(q(cmp)).collect()
      .map(_.getStruct(0).getString(1).stripPrefix("urn:graft/nanny/")).toSet
    // key 1 is NaN: it is in no answer, whatever the constant
    Seq("> -1.0E308" -> Set("2", "3", "4", "5"), "< -1.0E308" -> Set[String](),
      "> 0.0" -> Set("4", "5"), "< 0.0" -> Set("2"),
      ">= 0.0" -> Set("3", "4", "5"), "<= 0.0" -> Set("2", "3"),
      "> 1.0E308" -> Set("5"), "< 1.0E308" -> Set("2", "3", "4")).foreach {
      case (cmp, want) => assert(keys(cmp) == want, cmp)
    }
    val plan = eng.explain(q("> 0.0"))
    assert(plan.contains("GreaterThan(n_dbl,0.0)"), plan)
    assert(!plan.contains("cast(n_dbl"), plan)
  }

  test("a NaN built by xsd:double or STRDT compares like a NaN cell: false " +
      "against a number and itself, != true; xsd:integer of it is unbound") {
    val eng = new Engine(catalog)
    val X = "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#> "
    Seq("xsd:double(\"NaN\")", "xsd:float(\" NaN \")",
      "STRDT(\"NaN\", xsd:double)").foreach { nan =>
      val row = eng.select(X + s"SELECT ?lt ?gt ?eq ?ne ?self ?i WHERE { " +
        s"BIND($nan AS ?x) BIND(?x < 1 AS ?lt) BIND(?x > 1 AS ?gt) " +
        "BIND(?x = 1 AS ?eq) BIND(?x != 1 AS ?ne) BIND(?x = ?x AS ?self) " +
        "BIND(xsd:integer(?x) AS ?i) }").collect().toSeq
      val got = row.map(r => (0 until 6).map(i =>
        if (r.isNullAt(i)) None else Some(r.getStruct(i).getString(1))))
      assert(got == Seq(Seq(Some("false"), Some("false"), Some("false"),
        Some("true"), Some("false"), None)), nan)
    }
  }

  test("a new session gets its own testdata catalog; one session reuses its own") {
    val other = spark.newSession()
    val (mine, theirs) = (SparkEntry.ctx(spark, sf)._1, SparkEntry.ctx(other, sf)._1)
    assert(mine.spark eq spark)
    assert(theirs.spark eq other)
    assert(SparkEntry.ctx(spark, sf)._1 eq mine)
    assert(SparkEntry.ctx(other, sf)._1 eq theirs)
  }

  test("tblW widens a table with no declared key round-robin instead of " +
      "throwing") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val dir = Files.createTempDirectory("graft_nokey").toString
    spark.range(10).coalesce(1).write.parquet(s"$dir/nokey.parquet")
    val df = SparkEntry.tblW(spark, dir, "nokey")
    val widens = df.queryExecution.analyzed.collect { case r: Repartition => r }
    assert(widens.map(r => (r.numPartitions, r.shuffle)) ==
      Seq((spark.sparkContext.defaultParallelism, true)), df.queryExecution.analyzed)
    assert(df.count() == 10)
  }

  test("bound constants at type edges answer as computed by hand, each " +
      "constant of a shape in turn (scan filter constants are parameters)") {
    import java.time.{LocalDate, LocalDateTime}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_edge").toString
    Seq(
      (-7L, Int.MinValue, -0.0, "1969-12-31", "1969-12-31T23:59:59"),
      (Long.MaxValue, Int.MaxValue, 0.0, "1970-01-01", "1970-01-01T00:00:00"),
      (7L, 7, Double.NaN, "1995-03-15", "1995-03-15T12:00:00"),
      (0L, -1, 1.5, "2024-02-29", "2024-02-29T00:00:00.001"),
      (Long.MinValue, 0, -1.5, "2000-01-01", "2000-01-01T00:00:00"))
      .map { case (k, i, d, day, ts) => (k, i, d, LocalDate.parse(day), LocalDateTime.parse(ts)) }
      .toDF("e_key", "e_int", "e_dbl", "e_date", "e_ts")
      .coalesce(1).write.parquet(s"$dir/edge.parquet")
    val edge = spark.read.parquet(s"$dir/edge.parquet")
    val eng = new Engine(new GraphCatalog(spark).register(TableSpec("edge", Seq("e_key")), edge))
    val (max, min) = (Long.MaxValue.toString, Long.MinValue.toString)
    def values(q: String): Set[String] =
      eng.select(q).collect().map(_.getStruct(0).getString(1)).toSet
    def keys(pattern: String): Set[String] =
      values(s"SELECT ?s WHERE { $pattern }").map(_.stripPrefix("urn:graft/edge/"))
    def typed(v: String, t: String) = s""""$v"^^<http://www.w3.org/2001/XMLSchema#$t>"""
    val p = "<urn:graft/edge#"

    // bound subjects: negative, extreme and zero keys, one after another
    def intOf(k: String) = s"SELECT ?i WHERE { <urn:graft/edge/$k> ${p}e_int> ?i }"
    val params = eng.select(intOf("-7")).queryExecution.executedPlan.collect {
      case f: FilterExec => f.condition.collect { case x: Param => x }
    }.flatten
    assert(params.nonEmpty)
    Seq("-7" -> "-2147483648", max -> "2147483647", "7" -> "7", "0" -> "-1",
      min -> "0").foreach { case (k, i) => assert(values(intOf(k)) == Set(i), k) }
    assert(values(intOf("9223372036854775808")).isEmpty)

    // double FILTER at -0.0/0.0 (equal values) and against NaN (no order)
    def dbl(cmp: String) = keys(s"?s ${p}e_dbl> ?d FILTER(?d $cmp)")
    assert(dbl("= 0.0") == Set("-7", max))
    assert(dbl("= -0.0") == Set("-7", max))
    assert(dbl("> -0.0") == Set("0"))
    assert(dbl(">= -0.0") == Set("-7", max, "0"))
    assert(dbl("< 0.0") == Set(min))
    Seq("=", "<", ">").foreach(op =>
      assert(dbl(s"$op ${typed("NaN", "double")}").isEmpty, op))

    // an int column against integer and xsd:long constants, in and out of range
    def int(o: String) = keys(s"?s ${p}e_int> $o")
    assert(int("2147483647") == Set(max))
    assert(int("-2147483648") == Set("-7"))
    assert(int(typed("7", "long")) == Set("7"))
    assert(int(typed("-1", "long")) == Set("0"))
    assert(int("2147483648").isEmpty)
    assert(int(typed("-2147483649", "long")).isEmpty)

    // dateTime constants on a timestamp column (the SargableTimestamps path)
    def ts(cmp: String) = keys(s"?s ${p}e_ts> ?t FILTER(?t $cmp)")
    assert(ts(s"< ${typed("1995-03-15T12:00:00", "dateTime")}") == Set("-7", max))
    assert(ts(s">= ${typed("1995-03-15T12:00:00", "dateTime")}") == Set("7", "0", min))
    assert(ts(s"< ${typed("1970-01-01T00:00:00", "dateTime")}") == Set("-7"))
    assert(ts(s"> ${typed("2024-02-29T00:00:00", "dateTime")}") == Set("0"))

    // a date column lifts to xsd:dateTime terms: dateTime constants order
    // against it; an xsd:date constant is a type error, so no row passes
    def day(cmp: String) = keys(s"?s ${p}e_date> ?t FILTER(?t $cmp)")
    assert(day(s">= ${typed("1995-03-15T00:00:00", "dateTime")}") == Set("7", "0", min))
    assert(day(s"< ${typed("1970-01-01T00:00:00", "dateTime")}") == Set("-7"))
    assert(day(s">= ${typed("1995-03-15", "date")}").isEmpty)
    // a DATE literal in a scan filter, two dates in turn
    Seq("1995-03-15" -> Set(7L, 0L, Long.MinValue), "2000-01-02" -> Set(0L)).foreach {
      case (d, want) =>
        val got = edge.filter(col("e_date") >= lit(LocalDate.parse(d)))
          .select("e_key").as[Long].collect().toSet
        assert(got == want, d)
    }
  }

  // ------------------------------------------ prepared query shapes

  import ShapeParity.counted

  test("prepared shapes: RAND() and STRUUID() give fresh values on each call") {
    val eng = new Engine(catalog)
    Seq("RAND()", "STRUUID()").foreach { f =>
      val q = s"SELECT ?r WHERE { <urn:graft/customer/7> <urn:graft/customer#c_name> ?n " +
        s"BIND($f AS ?r) }"
      val (vals, d) = counted((1 to 3).map(_ =>
        eng.select(q).collect().map(_.getStruct(0).getString(1)).head))
      assert(vals.distinct.size == 3, s"$f: $vals")
      assert(d("uncacheable.nondeterministic") == 1 && d("direct") == 2 && d("hits") == 0, d)
    }
  }

  test("prepared shapes: a catalog mutation and a function registration each " +
      "invalidate the cached shapes") {
    import spark.implicits._
    import graft.functions.SparqlFunctions
    import graft.model.{Quad, RdfTerm}
    def quads(vals: Int*) = vals.map(v => Quad(graft.model.Rdf.DefaultGraph, s"urn:prep:s$v",
      "urn:prep:p", RdfTerm.typed(v.toString, graft.model.Rdf.XsdInteger))).toDS().toDF()
    val cat = new GraphCatalog(spark).addQuads(quads(1, 2, 3))
    val eng = new Engine(cat)
    def got(q: String): Set[String] =
      eng.select(q).collect().map(_.getStruct(0).getString(1)).toSet
    val q = "SELECT ?o WHERE { ?s <urn:prep:p> ?o FILTER(?o > 1) }"
    val (first, d1) = counted(Seq(got(q), got(q)))
    assert(first == Seq(Set("2", "3"), Set("2", "3")) && d1("misses") == 1 && d1("hits") == 1)
    cat.addQuads(quads(4))
    val (second, d2) = counted(got(q))
    assert(second == Set("2", "3", "4") && d2("misses") == 1, d2)

    val f = "urn:prep:fn"
    val qf = s"SELECT ?y WHERE { ?s <urn:prep:p> ?o FILTER(?o > 3) BIND(<$f>(?o) AS ?y) }"
    try {
      SparqlFunctions.registerFunction(f, a => SparqlFunctions.numT(a.head.getField("num") + 1.0))
      assert(got(qf) == Set("5.0") && got(qf) == Set("5.0"))
      SparqlFunctions.registerFunction(f, a => SparqlFunctions.numT(a.head.getField("num") + 100.0))
      val (third, d3) = counted(got(qf))
      assert(third == Set("104.0") && d3("misses") == 1, d3)
    } finally SparqlFunctions.unregisterFunction(f)
  }

  test("prepared shapes: 4 threads alternating keys of one shape on one " +
      "engine each get their own answer") {
    val eng = new Engine(catalog)
    def q(k: Int) = s"SELECT ?n WHERE { <urn:graft/customer/$k> <urn:graft/customer#c_name> ?n }"
    val keys = 1 to 8
    val want = keys.map(k => k -> spark.read.parquet(s"$sf/customer.parquet")
      .filter(s"c_custkey = $k").collect().map(_.getAs[String]("c_name")).toSeq).toMap
    val pool = Executors.newFixedThreadPool(4)
    val start = new CyclicBarrier(4)
    val wrong = new AtomicInteger
    try {
      val futures = (0 until 4).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            (0 until 6).foreach { i =>
              val k = keys((t + 4 * (i % 2)) % keys.size)
              val got = eng.select(q(k)).collect().map(_.getStruct(0).getString(1)).toSeq
              if (got != want(k)) wrong.incrementAndGet()
            }
          }
        })
      }
      futures.foreach(_.get(300, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(wrong.get == 0)
    assert(want.values.forall(_.size == 1))
  }

  test("prepared shapes: a constant the compile reads (an FTS query string) " +
      "fails the sentinel check; its shape compiles directly per query") {
    import spark.implicits._
    import graft.model.{Quad, Rdf, RdfTerm}
    val p = "urn:prep:label"
    val cat = new GraphCatalog(spark).addQuads(Seq(
      Quad(Rdf.DefaultGraph, "urn:prep:a", p, RdfTerm.str("green steel")),
      Quad(Rdf.DefaultGraph, "urn:prep:b", p, RdfTerm.str("red steel"))).toDS().toDF())
    cat.createFtsIndex("prep", Seq(p))
    val eng = new Engine(cat)
    def got(word: String) = eng.select("SELECT ?s WHERE { ?s " +
      s"""<http://www.ontotext.com/owlim/lucene#prep> "$word" }""")
      .collect().map(_.getStruct(0).getString(1)).toSet
    val (answers, d) = counted(Seq("green", "red", "steel").map(got))
    assert(answers == Seq(Set("urn:prep:a"), Set("urn:prep:b"),
      Set("urn:prep:a", "urn:prep:b")))
    assert(d("uncacheable.sentinel_check") == 1 && d("direct") == 2 && d("hits") == 0, d)
  }

  test("repository reads share one engine per snapshot; a read after a " +
      "commit sees the new data") {
    val repos = new graft.sources.Repositories(spark)
    repos.create("prep")
    repos.update("prep", "INSERT DATA { <urn:prep:s> <urn:prep:p> 1 }")
    val q = "SELECT ?o WHERE { <urn:prep:s> <urn:prep:p> ?o FILTER(?o > 0) }"
    def got(e: Engine) = e.select(q).collect().map(_.getStruct(0).getString(1)).toSet
    val e1 = repos.engine("prep")
    assert(got(e1) == Set("1") && (repos.engine("prep") eq e1))
    repos.update("prep", "INSERT DATA { <urn:prep:s> <urn:prep:p> 2 }")
    val e2 = repos.engine("prep")
    assert((e2 ne e1) && got(e2) == Set("1", "2"))
    repos.drop("prep")
    repos.create("prep")
    assert(got(repos.engine("prep")).isEmpty)
  }

  // runs last: the suite's queries before it went through ShapeParity
  test("prepared shapes: queries answered from cached shapes plan as direct " +
      "compiles of their text") {
    assert(parityChecked.get > 0)
  }
}
