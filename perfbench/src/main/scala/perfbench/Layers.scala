package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Storage still pinned and scratch files left behind: read after every
  * op of the traced run and around the measured window of every run.
  */
final case class Res(pinnedRdds: Int, pinnedBytes: Long, tempFiles: Long,
    rssMb: Double) {
  def asMap: Map[String, Any] = Map("pinned_rdds" -> pinnedRdds,
    "pinned_bytes" -> pinnedBytes, "temp_files" -> tempFiles,
    "rss_peak_mb" -> rssMb)
}

object Resources {
  def snapshot(ctx: Ctx): Res = {
    val sc = ctx.spark.sparkContext
    val storage = sc.getRDDStorageInfo
    Res(sc.getPersistentRDDs.size,
      storage.map(i => i.memSize + i.diskSize).sum,
      files(Path.of(System.getProperty("java.io.tmpdir"))) +
        files(ctx.work.resolve("spark-local")),
      Main.peakRssMb())
  }

  def perOp(ctx: Ctx): Map[String, Double] = {
    val r = snapshot(ctx)
    Map("pinned_rdds" -> r.pinnedRdds.toDouble,
      "pinned_bytes" -> r.pinnedBytes.toDouble,
      "temp_files" -> r.tempFiles.toDouble)
  }

  def files(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else scala.util.Using.resource(Files.walk(dir))(
      _.filter(Files.isRegularFile(_)).count())

  def bytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum)
}

/** Per-layer metrics of the traced run, from the recorded spans and the
  * jobs the listener attributed to them. Layer times are per call, counts
  * per measured op unless the name says otherwise; a layer that the
  * workload never calls reports 0.
  */
object Layers {
  /** Every per-layer metric, in report order. */
  val Names: Seq[String] = Seq(
    "parser.parse_ms", "parser.calls",
    "algebra.compile_ms", "algebra.compile_jobs",
    "plans.analysis_ms", "plans.optimizer_ms", "plans.planning_ms",
    "plans.exchanges",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.job_ms",
    "exec.outside_jobs_ms", "exec.task_run_ms", "exec.task_cpu_ms",
    "exec.task_wait_ms", "exec.gc_ms", "exec.input_bytes",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.failed_tasks", "exec.result_rows",
    "exec.pinned_rdds_end", "exec.pinned_bytes_end",
    "exec.temp_files_growth",
    "engine.result_bytes", "engine.timeouts",
    "graph.op_ms", "graph.jobs_per_op", "graph.outside_jobs_ms",
    "paths.op_ms", "paths.jobs_per_op",
    "inference.materialize_ms", "inference.jobs", "inference.derived_quads",
    "shacl.validate_ms", "shacl.jobs", "shacl.exchanges", "shacl.rejected",
    "sources.turtle_parse_ms", "sources.load_ms", "sources.update_ms",
    "sources.commit_ms", "sources.bytes_written", "sources.write_amp",
    "sources.catalog_build_ms",
    "pipeline.dedup_ms", "pipeline.dedup_candidates",
    "pipeline.dedup_verified", "pipeline.dedup_precision",
    "trace.overhead_pct", "trace.accounted_pct", "trace.unattributed_jobs")

  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def metrics(ctx: Ctx, samples: Seq[Sample], res0: Res,
      res1: Res): Map[String, Double] = {
    val t = ctx.tracer
    val all = t.spans.asScala.toSeq
    val byId = all.map(s => s.id -> s).toMap
    val roots = all.filter(_.parent == 0)
    val setupRoots = roots.filter(_.layer == "setup").map(_.id).toSet
    val measuredRoots = roots.filterNot(r => r.layer == "setup" ||
      r.layer == "warm")
    val measuredIds = measuredRoots.map(_.id).toSet
    val spans = all.filter(s => measuredIds(s.op))
    val ops = measuredRoots.filter(_.layer == "op")
    val nOps = math.max(1, ops.size).toDouble
    val self = Tracer.selfMs(spans)
    val jobs = t.listener.jobs.values.asScala.toSeq.filter(_.endMs >= 0)
    val jobsOfSpan = jobs.groupBy(_.span)
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def jobsUnder(s: Span): Seq[JobFacts] =
      subtree(s).flatMap(x => jobsOfSpan.getOrElse(x.id, Nil))
    def jobUnionMs(js: Seq[JobFacts]): Double =
      Tracer.unionMs(js.map(j => (j.startMs, j.endMs)))
    def layer(l: String, name: String = null) =
      spans.filter(s => s.layer == l && (name == null || s.name == name))
    def counter(ss: Seq[Span], key: String): Double =
      ss.map(_.counters.getOrElse(key, 0.0)).sum
    def perCall(ss: Seq[Span]): Double = mean(ss.map(_.ms))

    val opJobs = ops.map(o => o -> jobsUnder(o))
    val measuredJobs = opJobs.flatMap(_._2)
    val sumJ = (f: JobFacts => Double) => measuredJobs.map(f).sum / nOps
    val parse = layer("parser")
    val compile = layer("algebra")
    val plans = layer("plans")
    val collects = layer("exec", "collect")
    val graph = layer("graph")
    val paths = layer("paths")
    val writes = ops.filter(o => o.name == "load" || o.name.startsWith("insert")
      || o.name == "delete" || o.name == "reject")
    val writeJobs = writes.flatMap(jobsUnder)
    val nWrites = math.max(1, writes.size).toDouble
    val setupSpans = all.filter(s => setupRoots(s.op))
    val dedupCand = counter(layer("pipeline", "dedup"), "candidates")
    val dedupVer = counter(layer("pipeline", "dedup"), "verified")
    val turtleIn = counter(spans, "sources.input_bytes")
    val written = counter(spans, "sources.bytes_written")
    val walls = ops.map(_.ms)
    val opSelf = ops.map(o => subtree(o).map(s => self.getOrElse(s.id, 0.0)).sum)

    val m = Map[String, Double](
      "parser.parse_ms" -> perCall(parse),
      "parser.calls" -> parse.size / nOps,
      "algebra.compile_ms" -> perCall(compile),
      "algebra.compile_jobs" ->
        compile.flatMap(s => jobsOfSpan.getOrElse(s.id, Nil)).size /
          math.max(1.0, compile.size),
      "plans.analysis_ms" -> counter(plans, "plans.analysis_ms") /
        math.max(1.0, plans.size),
      "plans.optimizer_ms" -> counter(plans, "plans.optimization_ms") /
        math.max(1.0, plans.size),
      "plans.planning_ms" -> counter(plans, "plans.planning_ms") /
        math.max(1.0, plans.size),
      "plans.exchanges" -> counter(collects, "plans.exchanges") /
        math.max(1.0, collects.size),
      "exec.jobs" -> measuredJobs.size / nOps,
      "exec.stages" -> sumJ(_.stages.toDouble),
      "exec.tasks" -> sumJ(_.tasks.get.toDouble),
      "exec.job_ms" -> mean(opJobs.map { case (_, js) => jobUnionMs(js) }),
      "exec.outside_jobs_ms" -> mean(opJobs.map { case (o, js) =>
        o.ms - jobUnionMs(js) }),
      "exec.task_run_ms" -> sumJ(_.runMs.get.toDouble),
      "exec.task_cpu_ms" -> sumJ(_.cpuNs.get / 1e6),
      "exec.task_wait_ms" -> sumJ(_.waitMs.get.toDouble),
      "exec.gc_ms" -> sumJ(_.gcMs.get.toDouble),
      "exec.input_bytes" -> sumJ(_.inputBytes.get.toDouble),
      "exec.shuffle_read_bytes" -> sumJ(_.shuffleRead.get.toDouble),
      "exec.shuffle_write_bytes" -> sumJ(_.shuffleWrite.get.toDouble),
      "exec.spill_bytes" -> sumJ(_.spill.get.toDouble),
      "exec.failed_tasks" -> sumJ(_.failedTasks.get.toDouble),
      "exec.result_rows" -> counter(spans, "exec.result_rows") / nOps,
      "exec.pinned_rdds_end" -> res1.pinnedRdds.toDouble,
      "exec.pinned_bytes_end" -> res1.pinnedBytes.toDouble,
      "exec.temp_files_growth" -> (res1.tempFiles - res0.tempFiles).toDouble,
      "engine.result_bytes" -> counter(spans, "engine.result_bytes") /
        math.max(1.0, layer("engine").size),
      "engine.timeouts" -> samples.count(_.error.exists(
        _.contains("QueryTimeoutException"))).toDouble,
      "graph.op_ms" -> perCall(graph),
      "graph.jobs_per_op" -> graph.map(jobsUnder(_).size.toDouble).sum /
        math.max(1.0, graph.size),
      "graph.outside_jobs_ms" -> mean(graph.map(g =>
        g.ms - jobUnionMs(jobsUnder(g)))),
      "paths.op_ms" -> perCall(paths),
      "paths.jobs_per_op" -> paths.map(jobsUnder(_).size.toDouble).sum /
        math.max(1.0, paths.size),
      "inference.materialize_ms" -> perCall(layer("inference")),
      "inference.jobs" -> layer("inference").map(jobsUnder(_).size.toDouble)
        .sum / math.max(1.0, layer("inference").size),
      "inference.derived_quads" -> counter(layer("inference"),
        "derived_quads") / math.max(1.0, layer("inference").size),
      "shacl.validate_ms" -> perCall(layer("shacl")),
      "shacl.jobs" -> layer("shacl").map(jobsUnder(_).size.toDouble)
        .sum / math.max(1.0, layer("shacl").size),
      "shacl.exchanges" -> counter(layer("shacl"), "plans.exchanges") /
        math.max(1.0, layer("shacl").size),
      "shacl.rejected" -> samples.count(s => s.op.kind == "reject" &&
        s.error.isEmpty).toDouble,
      "sources.turtle_parse_ms" -> perCall(layer("sources", "turtle_parse")),
      "sources.load_ms" -> perCall(layer("sources", "load")),
      "sources.update_ms" -> perCall(layer("sources", "update")),
      "sources.commit_ms" -> writeJobs.filter(_.layer == "commit")
        .map(j => (j.endMs - j.startMs).toDouble).sum / nWrites,
      "sources.bytes_written" -> written / nWrites,
      "sources.write_amp" -> (if (turtleIn > 0) written / turtleIn else 0.0),
      "sources.catalog_build_ms" -> Stats.median(setupSpans.filter(s =>
        s.layer == "sources" && s.name == "catalog_build").map(_.ms)),
      "pipeline.dedup_ms" -> perCall(layer("pipeline", "dedup")),
      "pipeline.dedup_candidates" -> dedupCand /
        math.max(1.0, layer("pipeline", "dedup").size),
      "pipeline.dedup_verified" -> dedupVer /
        math.max(1.0, layer("pipeline", "dedup").size),
      "pipeline.dedup_precision" ->
        (if (dedupCand > 0) dedupVer / dedupCand else 0.0),
      "trace.accounted_pct" -> (if (walls.sum > 0)
        100.0 * opSelf.sum / walls.sum else 0.0),
      // jobs that ran during the traced ops but carried no span
      "trace.unattributed_jobs" -> jobs.count(j =>
        (j.span == 0 || !byId.contains(j.span)) && ops.exists(o =>
          j.startMs >= o.startMs && j.startMs <= o.startMs + o.ms)).toDouble)
    Names.map(n => n -> m.getOrElse(n, 0.0)).toMap
  }
}
