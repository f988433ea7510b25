package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One recorded interval around a call into an engine layer. `op` groups
  * every span of one benchmark operation; `parent` is the span that was
  * open on the calling thread when this one began (0 for an op root).
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, startNs: Long, var endNs: Long = 0L,
    counters: mutable.Map[String, Double] = mutable.Map.empty,
    startMs: Long = System.currentTimeMillis()) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-job facts gathered by [[JobListener]], keyed by the span that was
  * open (through the `perfbench.span` local property) when the job began.
  */
final class JobFacts(val jobId: Int, val span: Long, val layer: String,
    val site: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var stages: Int = 0
  val tasks = new AtomicLong
  val failedTasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val waitMs = new AtomicLong
  val gcMs = new AtomicLong
  val inputBytes = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
}

/** Span recorder for the traced run. Spans live in memory until [[dump]].
  * With `enabled = false` every call is a plain passthrough, so the
  * untraced run pays one branch per layer call.
  */
final class Tracer(sc: SparkContext, traced: Boolean) {
  /** Spans are recorded while true; the traced run turns it off for its
    * short untraced calibration window.
    */
  @volatile var enabled: Boolean = traced
  private val nextId = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val listener = new JobListener
  if (traced) sc.addSparkListener(listener)

  def current: Option[Span] = stack.get.headOption

  /** Open a root span for one benchmark operation. */
  def op[T](kind: String)(body: => T): T = span("op", kind)(body)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get
      val id = nextId.getAndIncrement()
      val s = Span(id, outer.headOption.map(_.id).getOrElse(0L),
        outer.headOption.map(_.op).getOrElse(id), layer, name,
        System.nanoTime())
      stack.set(s :: outer)
      sc.setLocalProperty(JobListener.Key, id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        spans.add(s)
        stack.set(outer)
        sc.setLocalProperty(JobListener.Key,
          outer.headOption.map(_.id.toString).orNull)
      }
    }

  /** Add to a counter of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) current.foreach(s => s.counters(key) =
      s.counters.getOrElse(key, 0.0) + v)

  /** Block until the listener has seen every event posted so far, so an
    * op's jobs are attributed before its numbers are read.
    */
  def drain(): Unit =
    if (traced) org.apache.spark.PerfbenchBridge.drain(sc)

  /** Write every span (and the jobs attributed to it) as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = if (traced) {
    val byspan = listener.jobs.values.asScala.groupBy(_.span)
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      val js = byspan.getOrElse(s.id, Nil)
      Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "counters" -> s.counters.toMap,
        "jobs" -> js.toSeq.sortBy(_.jobId).map(j => Map("id" -> j.jobId,
          "layer" -> j.layer, "site" -> j.site,
          "ms" -> (j.endMs - j.startMs), "tasks" -> j.tasks.get)))
    }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Self time of each span: its duration minus the part its children
    * cover (children of one span never overlap: one client thread).
    */
  def selfMs(spans: Seq[Span]): Map[Long, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0)))
      .toMap
  }

  /** Length of the union of `[start, end)` intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total.toDouble
  }
}

/** Attributes each Spark job, its stages and its tasks to the benchmark
  * span named by the job's `perfbench.span` local property, and tags the
  * job with the engine module that launched it (the first `graft.` frame
  * of the job's call site).
  */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobFacts]()
  private val stageJob = new ConcurrentHashMap[Int, JobFacts]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobListener.Key)))
      .map(_.toLong).getOrElse(0L)
    val details = e.stageInfos.headOption.map(_.details).getOrElse("")
    val site = JobListener.site(details)
    val f = new JobFacts(e.jobId, span, JobListener.layer(site), site, e.time)
    f.stages = e.stageInfos.size
    e.stageIds.foreach(s => stageJob.put(s, f))
    jobs.put(e.jobId, f)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { f =>
      f.tasks.incrementAndGet()
      if (e.reason != Success) f.failedTasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        f.runMs.addAndGet(m.executorRunTime)
        f.cpuNs.addAndGet(m.executorCpuTime)
        f.gcMs.addAndGet(m.jvmGCTime)
        f.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        f.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        f.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        f.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        // time the task spent not running: scheduler delay plus
        // shuffle-fetch wait
        val info = e.taskInfo
        val sched = (info.finishTime - info.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime
        f.waitMs.addAndGet(math.max(0L, sched) +
          m.shuffleReadMetrics.fetchWaitTime)
      }
    }
}

object JobListener {
  val Key = "perfbench.span"

  /** The innermost engine frame of a job's call site, without the `graft.`
    * prefix (`sources.GraphStore$.write(...)`).
    */
  def site(details: String): String =
    details.linesIterator.map(_.trim.stripPrefix("at "))
      .find(_.startsWith("graft."))
      .map(_.stripPrefix("graft."))
      .getOrElse("other")

  /** The engine module of a job's call site, with the snapshot commit
    * (`GraphStore` reads and writes) split out of `sources`.
    */
  def layer(site: String): String =
    if (site.contains("GraphStore")) "commit"
    else site.takeWhile(c => c != '.' && c != '$')
}
