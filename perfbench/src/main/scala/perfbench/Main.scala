package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.json4s._

/** One benchmark operation: `run` is the timed part, `check` the answer
  * check that runs after the op's timed window. `units` is the op's work in
  * the workload's own unit (asserted triples, documents), `cls` its class
  * for per-class latency (read / write / ...).
  */
final case class Op(id: String, kind: String, cls: String, units: Double,
    run: () => Any, check: Any => Option[String])

/** One executed op; `cpuNs` is the CPU time of the client thread that ran
  * it (parse, compile, planning, result collection and rendering).
  */
final case class Sample(op: Op, startNs: Long, endNs: Long,
    error: Option[String], cpuNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val spec: JValue, val inputs: Path, val work: Path)

/** A workload: repeated set-up, an op sequence, and its own report. */
trait Workload {
  def clients: Int = 1
  /** Cycle through `ops` (read-only workloads) or run them once in order. */
  def cyclic: Boolean = true
  /** One complete opening of the system under test, run three times. */
  def setup(rep: Int): Unit
  /** Pass after set-up, before timing; counted in `setup_s`. */
  def warm(): Unit
  def ops: IndexedSeq[Op]
  /** Ops in one cycle of the workload's kinds. */
  def cycleLength: Int = ops.map(_.kind).distinct.size
  /** Workload-specific report entries (added to the run's report file). */
  def report(samples: Seq[Sample]): Map[String, Any] = Map.empty
}

/** Benchmark entry point. Runs one workload for a fixed wall-clock window
  * and writes `result.json` (and, traced, `spans.jsonl`) into the work dir.
  *
  * {{{
  * java -cp <classpath> perfbench.Main --workload point_lookup \
  *   --inputs <dir from gen.py> --work <scratch dir> --seconds 10 --trace 0
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val inputs = Paths.get(a("inputs")).toAbsolutePath
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val nproc = Runtime.getRuntime.availableProcessors
    val loadBefore = loadavg()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = try {
      val tracer = new Tracer(spark.sparkContext, trace)
      val ctx = new Ctx(spark, tracer, Json.read(inputs.resolve("spec.json")),
        inputs, work)
      val wl = workload match {
        case "point_lookup" => new PointLookup(ctx)
        case "batch" => new Batch(ctx)
        case other => throw new IllegalArgumentException(s"workload $other")
      }
      run(ctx, wl, seconds, trace)
    } finally spark.stop()
    val evidence = Map(
      "nproc" -> nproc, "loadavg_before" -> loadBefore,
      "loadavg_after" -> loadavg(), "spark" -> org.apache.spark.SPARK_VERSION,
      "jdk" -> System.getProperty("java.version"),
      "seed" -> a.getOrElse("seed", ""), "commit" -> a.getOrElse("commit", ""))
    Files.write(work.resolve("result.json"),
      Json.obj((out.toSeq :+ ("evidence" -> evidence)): _*).getBytes("UTF-8"))
  }

  private val started = System.nanoTime()
  /** Progress line on stderr (the run's log), with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2fs] $msg")

  def loadavg(): Double = scala.util.Try(new String(Files.readAllBytes(
    Paths.get("/proc/loadavg"))).split(" ")(0).toDouble).getOrElse(-1.0)

  /** CPU time of the calling thread, in ns. */
  def threadCpuNs(): Long =
    java.lang.management.ManagementFactory.getThreadMXBean
      .getCurrentThreadCpuTime

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = scala.util.Try(Files.readAllLines(
      Paths.get("/proc/self/status")).asScala
    .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0)
    .getOrElse(-1.0)

  /** CPU time of every finished Spark task, in ns. */
  private val taskCpu = new java.util.concurrent.atomic.LongAdder

  def run(ctx: Ctx, wl: Workload, seconds: Double, trace: Boolean)
      : Map[String, Any] = {
    val tracer = ctx.tracer
    ctx.spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m => taskCpu.add(
            m.executorCpuTime + m.executorDeserializeCpuTime))
      })
    // set-up = opening the system (repeated; the median counts) plus the
    // one-time warm-up pass (index builds, first op of each kind)
    val setups = (1 to 3).map { rep =>
      val t0 = System.nanoTime()
      tracer.span("setup", s"setup-$rep")(wl.setup(rep))
      val dt = (System.nanoTime() - t0) / 1e9
      log(f"setup $rep: $dt%.2fs")
      dt
    }
    val w0 = System.nanoTime()
    tracer.span("warm", "warm")(wl.warm())
    val warmS = (System.nanoTime() - w0) / 1e9
    log(f"warm-up: $warmS%.2fs")
    tracer.drain()
    val res0 = Resources.snapshot(ctx)

    // closed loop: each client sends its next op when the previous returns
    val ops = wl.ops
    val next = new AtomicInteger(0)
    val perOp = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    /** Run ops for `seconds`; past it, until at least `minOps` were issued
      * and the current cycle of op kinds is complete, so every window
      * measures whole cycles (the same mix of kinds on every run).
      */
    def loop(seconds: Double, minOps: Int = 0): (Seq[Sample], Double) = {
      val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      val first = next.get()
      var stopped = false
      // the next op index to run, or -1 once the window is over
      def issue(): Int = next.synchronized {
        val i = next.get()
        val cycleDone = (i - first) % wl.cycleLength == 0
        if (stopped || (!wl.cyclic && i >= ops.size) ||
            (System.nanoTime() >= deadline && i - first >= minOps &&
              cycleDone)) { stopped = true; -1 }
        else next.getAndIncrement()
      }
      val threads = (0 until wl.clients).map { c =>
        new Thread(() => {
          var go = true
          while (go) {
            val i = issue()
            if (i < 0) go = false
            else {
              val op = ops(i % ops.size)
              val c0 = threadCpuNs()
              val s0 = System.nanoTime()
              val r = scala.util.Try(tracer.op(op.kind)(op.run()))
              val s1 = System.nanoTime()
              val cpu = threadCpuNs() - c0
              val err = r match {
                case scala.util.Success(v) => scala.util.Try(op.check(v))
                  .fold(e => Some(s"check: $e"), identity)
                case scala.util.Failure(e) => Some(e.toString.take(300))
              }
              val smp = Sample(op, s0, s1, err, cpu)
              log(f"${op.id}: ${smp.ms}%.1fms${err.map(" FAILED " + _).getOrElse("")}")
              samples.add(smp)
              if (tracer.enabled) {
                // leak counters after every traced op
                tracer.drain()
                perOp.add(Json.obj(("id" -> op.id) +: ("kind" -> op.kind) +:
                  ("ms" -> smp.ms) +: ("error" -> err) +:
                  Resources.perOp(ctx).toSeq: _*))
              }
            }
          }
        }, s"client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      val all = samples.asScala.toSeq.sortBy(_.startNs)
      (all, (all.map(_.endNs).maxOption.getOrElse(t0) - t0) / 1e9)
    }
    // the traced window covers at least one full cycle of op kinds
    org.apache.spark.PerfbenchBridge.drain(ctx.spark.sparkContext)
    val task0 = taskCpu.sum()
    val (all, window) = loop(seconds, if (trace) wl.cycleLength else 1)
    org.apache.spark.PerfbenchBridge.drain(ctx.spark.sparkContext)
    // CPU the ops did: their client threads plus their Spark tasks (other
    // threads' spinning and idle work is left out, as is other tenants' load)
    val cpuMs = (all.map(_.cpuNs).sum + taskCpu.sum() - task0) / 1e6
    tracer.drain()
    val res1 = Resources.snapshot(ctx)
    val lat = all.map(_.ms)
    val (tailP, tail) = Stats.tail(lat)
    val endToEnd = Map(
      "setup_s" -> (Stats.median(setups) + warmS),
      "throughput_ops_per_s" -> all.size / math.max(window, 1e-9),
      "latency_p50_ms" -> Stats.median(lat),
      "latency_tail_ms" -> tail,
      "cpu_ms_per_op" -> cpuMs / math.max(1, all.size),
      "peak_rss_mb" -> peakRssMb())
    // traced run: after the measured window, an untraced then a traced
    // calibration window over the next ops give the tracing overhead
    // between neighbours in the same (warm) state
    val perLayer = if (!trace) Map.empty[String, Double] else {
      val layers = Layers.metrics(ctx, all, res0, res1)
      tracer.enabled = false
      val (untraced, _) = loop(seconds * 0.3)
      tracer.enabled = true
      val (traced, _) = loop(seconds * 0.3)
      layers + ("trace.overhead_pct" -> Stats.overheadPct(untraced, traced))
    }
    if (trace) {
      tracer.dump(ctx.work.resolve("spans.jsonl"))
      Files.write(ctx.work.resolve("ops.jsonl"),
        perOp.asScala.mkString("\n").getBytes("UTF-8"))
    }
    val failures = all.filter(_.error.isDefined)
    Map(
      "attempted" -> all.size,
      "failed" -> failures.size,
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer,
      "report" -> (Map(
        "setup_reps_s" -> setups,
        "warmup_s" -> warmS,
        "window_s" -> window,
        "samples" -> all.size,
        "tail_percentile" -> tailP,
        "error_rate" -> failures.size.toDouble / math.max(1, all.size),
        "errors" -> failures.take(5).map(s => s"${s.op.id}: ${s.error.get}"),
        "by_kind" -> all.groupBy(_.op.kind).map { case (k, ss) =>
          k -> Map("n" -> ss.size, "p50_ms" -> Stats.median(ss.map(_.ms))) },
        "resources_before" -> res0.asMap,
        "resources_after" -> res1.asMap) ++ wl.report(all)))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (the same rule as numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Tracing overhead, in percent: per op kind, the traced median latency
    * over the untraced (calibration) median; the median over kinds.
    */
  def overheadPct(untraced: Seq[Sample], traced: Seq[Sample]): Double = {
    val u = untraced.groupBy(_.op.kind).map { case (k, ss) =>
      k -> median(ss.map(_.ms)) }
    val ratios = traced.groupBy(_.op.kind).collect {
      case (k, ss) if u.contains(k) => median(ss.map(_.ms)) / u(k) }
    if (ratios.isEmpty) 0.0 else 100.0 * (median(ratios.toSeq) - 1.0)
  }

  /** The highest of the usual percentiles with at least ten samples above
    * it; with fewer than twenty samples no percentile qualifies and the
    * maximum is reported (percentile 100).
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size * (1 - p / 100.0) >= 10.0)
      .map(p => p -> percentile(xs, p))
      .getOrElse(100.0 -> xs.maxOption.getOrElse(Double.NaN))
}
