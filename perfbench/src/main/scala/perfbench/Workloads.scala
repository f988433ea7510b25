package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.json4s._
import graft.Engine
import graft.graph.GraphAnalytics
import graft.model.Rdf
import graft.pipeline.Dedup
import graft.sources.{GraphCatalog, GraphUpdate, RepoConfig, Repositories}

object Workloads {
  /** A fresh view of the generated store: a directory of hard links, so
    * each set-up opens a store with its own identity without copying data.
    */
  def linkStore(src: Path, dst: Path): Path = {
    Files.createDirectories(dst)
    Files.list(src).iterator().asScala.foreach(f =>
      Files.createLink(dst.resolve(f.getFileName), f))
    dst
  }

  def ops(ctx: Ctx): Seq[JValue] = (ctx.spec \ "ops").children

  def s(v: JValue, key: String): String = (v \ key) match {
    case JString(x) => x
    case other => throw new IllegalArgumentException(s"$key: $other")
  }

  def long(v: JValue): Long = v match {
    case JInt(i) => i.toLong
    case JLong(l) => l
    case other => throw new IllegalArgumentException(s"not an integer: $other")
  }

  def rowsOf(rows: Seq[Row]): Seq[Check.Row] =
    rows.map(r => r.toSeq.map(x => Option(x).map(_.toString)))

  /** p50 and tail latency (ms) of a subset of samples. */
  def latency(ss: Seq[Sample]): Map[String, Any] = {
    val (p, tail) = Stats.tail(ss.map(_.ms))
    Map("n" -> ss.size, "p50_ms" -> Stats.median(ss.map(_.ms)),
      "tail_ms" -> tail, "tail_percentile" -> p)
  }

  /** Run a warm-up op untimed, logging its wall time. */
  def warmRun(op: Op): Any = {
    val t0 = System.nanoTime()
    val r = op.run()
    Main.log(f"warm ${op.id}: ${(System.nanoTime() - t0) / 1e6}%.1fms")
    r
  }

  def openCatalog(ctx: Ctx, rep: Int): GraphCatalog = {
    val dir = linkStore(ctx.inputs.resolve("data"),
      ctx.work.resolve(s"store-$rep"))
    ctx.tracer.span("sources", "catalog_build")(
      GraphCatalog.testdata(ctx.spark, dir.toString))
  }
}
import Workloads._

/** Selective SPARQL from two closed-loop clients through
  * `Engine.selectJson` / `Engine.ask` over the generated star schema.
  */
final class PointLookup(ctx: Ctx) extends Workload {
  override def clients: Int = 2
  @volatile private var engine: Engine = _

  def setup(rep: Int): Unit = {
    engine = new Engine(openCatalog(ctx, rep), queryTimeoutSec = Some(30))
    ops.head.run()
  }

  /** One query of every shape. */
  def warm(): Unit = ops.groupBy(_.kind).values.map(_.head).toSeq
    .sortBy(ops.indexOf(_)).foreach(warmRun)

  lazy val ops: IndexedSeq[Op] = Workloads.ops(ctx).map { o =>
    val text = s(o, "text")
    val expect = o \ "expect"
    if (s(o, "kind") == "ask")
      Op(s(o, "id"), "ask", "read", 1, () => Query.ask(ctx.tracer, engine, text),
        r => if (r == (expect \ "value").asInstanceOf[JBool].value) None
          else Some(s"ASK answered $r"))
    else
      Op(s(o, "id"), s(o, "kind"), "read", 1,
        () => Query.selectJson(ctx.tracer, engine, text),
        r => Check.selectJson(r.asInstanceOf[String], expect))
  }.toIndexedSeq
}

/** Heavy ops from one client, in cycles of a fixed kind order: a six-way
  * join with GROUP BY, a Turtle load into an inference + SHACL repository
  * persisted to disk, a property-path closure, MinHash dedup of a corpus,
  * a SPARQL Update (some rejected by the shapes), weighted SSSP, and a
  * read-after-write query. The sequence runs once, in order: its write ops
  * follow the generator's model of the repository state.
  */
final class Batch(ctx: Ctx) extends Workload {
  override def cyclic: Boolean = false
  @volatile private var cat: GraphCatalog = _
  @volatile private var engine: Engine = _
  private val dedup = new DedupStage(ctx)
  private val repos = new Repositories(ctx.spark)
  private val location = ctx.work.resolve("repo")
  private val shapesTtl = new String(
    Files.readAllBytes(ctx.inputs.resolve("shapes.ttl")), "UTF-8")
  private lazy val shapes = graft.shacl.Shacl.parseShapes(
    graft.sources.TurtleReader.parse(shapesTtl))
  @volatile private var id: String = _
  /** Ops per cycle; the first cycle is the warm-up. */
  private lazy val cycle = ops.indexWhere(_.kind == "q5", 1)
  override def cycleLength: Int = cycle

  def setup(rep: Int): Unit = {
    cat = openCatalog(ctx, rep)
    engine = new Engine(cat, queryTimeoutSec = Some(30))
    engine.selectJson("SELECT ?n WHERE { ?n <urn:graft/nation#n_regionkey> " +
      "<urn:graft/region/0> }")
    dedup.open()
    id = s"facilities$rep"
    repos.create(id, RepoConfig(inference = true,
      location = Some(location.toString), queryTimeoutSec = Some(30),
      shapesTtl = Some(shapesTtl)))
    ctx.tracer.span("sources", "load")(
      repos.load(id, ctx.inputs.resolve("ontology.ttl").toString))
  }

  /** No warm-up pass: a batch job runs once per application, so its users
    * pay the first execution of each op kind (code generation, JIT) on every
    * run, and the measured window starts with the first cycle.
    */
  def warm(): Unit = ()

  private def sssp(p: JValue): Seq[Row] = {
    val li = cat.table("lineitem").get._1
      .filter(col("l_orderkey") >= long(p \ "lo") &&
        col("l_orderkey") < long(p \ "hi"))
      .select(col("l_orderkey"), col("l_partkey"))
    val w = GraphAnalytics.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .select(col("src"), col("dst"),
        greatest(lit(3) - col("n"), lit(1)).cast("bigint").as("w"))
    GraphAnalytics.ssspWeighted(w, long(p \ "source"), long(p \ "maxCost"))
      .select(col("v"), col("dist")).collect().toSeq
  }

  private def snapshotDir: Path =
    location.resolve(id).resolve(s"e${repos.epochCount(id)}")

  /** Traced run only, after a write op and outside its timed window: the
    * layers the repository call ran internally, measured one at a time on
    * the committed state.
    */
  private def probe(loaded: Option[Path], inBytes: Long): Unit = {
    val t = ctx.tracer
    if (t.enabled) {
      val spark = ctx.spark
      t.span("sources", "snapshot") {
        t.count("sources.bytes_written", Resources.bytes(snapshotDir).toDouble)
        t.count("sources.input_bytes", inBytes.toDouble)
      }
      loaded.foreach(p => t.span("sources", "turtle_parse")(
        GraphUpdate.loadByExtension(spark, p.toString, Rdf.DefaultGraph)
          .count()))
      t.span("inference", "materialize") {
        val explicit = repos.catalog(id).pseudoGraph(Rdf.OntoExplicit).get
        val n0 = explicit.count()
        val n1 = graft.inference.Inference.materialize(spark, explicit).count()
        t.count("derived_quads", (n1 - n0).toDouble)
      }
      t.span("shacl", "validate") {
        val report = graft.shacl.Shacl.validate(repos.quads(id), shapes)
        report.count()
        t.count("plans.exchanges",
          Query.shuffles(report.queryExecution.executedPlan))
      }
    }
  }

  private def sparql(layer: String, text: String): () => String = () =>
    if (layer == null) Query.selectJson(ctx.tracer, engine, text)
    else ctx.tracer.span(layer, "query")(
      Query.selectJson(ctx.tracer, engine, text))

  lazy val ops: IndexedSeq[Op] = Workloads.ops(ctx).map { o =>
    val opId = s(o, "id")
    val kind = s(o, "kind")
    val expect = o \ "expect"
    val triples = (o \ "triples") match { case JInt(n) => n.toDouble; case _ => 0.0 }
    kind match {
      case "q5" => Op(opId, kind, "query", 0, sparql(null, s(o, "text")),
        r => Check.selectJson(r.asInstanceOf[String], expect))
      case "closure" => Op(opId, kind, "paths", 0, sparql("paths", s(o, "text")),
        r => Check.selectJson(r.asInstanceOf[String], expect))
      case "sssp" => Op(opId, kind, "graph", 0,
        () => ctx.tracer.span("graph", "sssp")(sssp(o \ "params")),
        r => Check.select(rowsOf(r.asInstanceOf[Seq[Row]]), expect))
      case "dedup" => dedup.op(opId)
      case "load" =>
        val path = ctx.inputs.resolve(s(o, "path"))
        Op(opId, kind, "write", triples,
          () => ctx.tracer.span("sources", "load")(
            repos.load(id, path.toString)),
          _ => { probe(Some(path), Files.size(path)); None })
      case "reject" =>
        val text = s(o, "text")
        Op(opId, kind, "write", 0, () => {
          val before = repos.epochCount(id)
          ctx.tracer.span("sources", "update") {
            try { repos.update(id, text); Some(before) }
            catch { case _: graft.shacl.ShaclViolationException => None }
          }.map(b => s"violating update committed (epoch $b)")
            .orElse(if (repos.epochCount(id) != before)
              Some("rejected update changed the epoch count") else None)
        }, r => r.asInstanceOf[Option[String]])
      case k if k.startsWith("read") =>
        val text = s(o, "text")
        Op(opId, kind, "read", 0,
          () => Query.selectJson(ctx.tracer, repos.engine(id), text),
          r => Check.selectJson(r.asInstanceOf[String], expect))
      case _ =>
        val text = s(o, "text")
        Op(opId, kind, "write", triples,
          () => ctx.tracer.span("sources", "update")(repos.update(id, text)),
          _ => { probe(None, text.length.toLong); None })
    }
  }.toIndexedSeq

  override def report(samples: Seq[Sample]): Map[String, Any] = {
    val ingest = samples.filter(_.op.units > 0)
    val asserted = repos.catalog(id).pseudoGraph(Rdf.OntoExplicit).get.count()
    val byCls = samples.groupBy(_.op.cls).map { case (c, ss) => c -> latency(ss) }
    Map(
      "ingest_triples_per_s" -> ingest.map(_.op.units).sum /
        math.max(1e-9, ingest.map(_.ms).sum / 1000.0),
      "by_class" -> byCls,
      "asserted_triples" -> asserted,
      "store_bytes_per_triple" ->
        Resources.bytes(snapshotDir).toDouble / math.max(1L, asserted),
      "epochs" -> repos.epochCount(id),
      "curate_docs_per_s" -> dedup.docsPerSecond(samples))
  }
}

/** MinHash-LSH candidates plus exact Jaccard verify over the generated
  * corpus, checked against its planted near-duplicate pairs.
  */
final class DedupStage(ctx: Ctx) {
  @volatile private var corpus: DataFrame = _
  private val nDocs = long(ctx.spec \ "n_docs")
  private val planted = (ctx.spec \ "planted").children
    .map(_.children.map(long)).map(p => (p.min, p.max))
  private val Threshold = 0.5
  type Pairs = Seq[(Long, Long, Double)]

  /** Open the corpus (part of every set-up). */
  def open(): Unit = {
    corpus = ctx.spark.read.parquet(ctx.inputs.resolve("corpus").toString)
    corpus.count()
  }

  private def run(): (Pairs, Pairs) = {
    val t = ctx.tracer
    val cand = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = Threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val spark = ctx.spark
    import spark.implicits._
    val ver = Dedup.jaccardVerify(corpus,
        cand.map(c => (c._1, c._2)).toDF("a", "b"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    t.count("candidates", cand.size)
    t.count("verified", ver.count(_._3 >= Threshold))
    (cand, ver)
  }

  /** Every planted pair found and verified; no candidate under threshold. */
  private def check(r: Any): Option[String] = {
    val (cand, ver) = r.asInstanceOf[(Pairs, Pairs)]
    val found = ver.filter(_._3 >= Threshold).map(v => (v._1, v._2)).toSet
    val missed = planted.filterNot(found)
    if (missed.nonEmpty) Some(s"missed ${missed.size} planted duplicate pairs")
    else cand.find(_._3 < Threshold).map(c => s"candidate below threshold: $c")
  }

  def op(id: String): Op = Op(id, "dedup", "pipeline", nDocs.toDouble,
    () => ctx.tracer.span("pipeline", "dedup")(run()), check)

  /** Documents deduplicated per second of dedup time. */
  def docsPerSecond(samples: Seq[Sample]): Double = {
    val ss = samples.filter(_.op.kind == "dedup")
    ss.map(_.op.units).sum / math.max(1e-9, ss.map(_.ms).sum / 1000.0)
  }
}
