package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.algebra.ShapeCache

/** Measurement tool (optimization rounds, guide §1/§7): runs named headline
  * queries with a SparkListener and prints per-JOB and per-STAGE wall/metric
  * attribution — the no-UI substitute for the Stages tab. One warmup rep
  * (codegen + page cache) then one measured rep, so the numbers line up with
  * the bench's warm medians. Each rep also prints how many classes Janino
  * compiled and the milliseconds it spent doing so: that time is driver
  * work outside every Spark job, and a warm rep of a query whose constants
  * reach generated code as parameters compiles nothing. Next to it each rep
  * prints the prepared-query-shape counters of the rep
  * ([[graft.algebra.ShapeCache.counters]]).
  *
  * Usage: runMain graft.ProfileQuery <sfDir> <q1,q2,...> [reps]
  */
object ProfileQuery {
  private final class L extends SparkListener {
    case class St(id: Int, name: String, var ms: Long = 0, var tasks: Int = 0,
      var shufRead: Long = 0, var shufWrite: Long = 0, var input: Long = 0,
      var spill: Long = 0, var cpuMs: Long = 0)
    val stages = scala.collection.concurrent.TrieMap.empty[Int, St]
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String)]
    @volatile var jobStart = Map.empty[Int, (Long, String)]
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobStart += j.jobId -> ((j.time,
        Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")))
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobStart.get(j.jobId).foreach { case (t0, d) =>
        jobs.synchronized { jobs += ((j.jobId, j.time - t0, d)) }
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val st = stages.getOrElseUpdate(i.stageId, St(i.stageId, i.name))
      st.ms += (for {a <- i.completionTime; b <- i.submissionTime}
        yield a - b).getOrElse(0L)
      st.tasks += i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        st.shufRead += m.shuffleReadMetrics.totalBytesRead
        st.shufWrite += m.shuffleWriteMetrics.bytesWritten
        st.input += m.inputMetrics.bytesRead
        st.spill += m.memoryBytesSpilled
        st.cpuMs += m.executorCpuTime / 1000000
      }
    }
    def reset(): Unit = { stages.clear(); jobs.clear(); jobStart = Map.empty }
    def report(): String = {
      val sb = new StringBuilder
      sb ++= f"-- jobs: ${jobs.size} total, ${jobs.map(_._2).sum} ms wall\n"
      jobs.sortBy(-_._2).take(12).foreach { case (id, ms, d) =>
        sb ++= f"  job $id%4d $ms%6d ms  $d%.80s\n" }
      sb ++= "-- stages by wall ms:\n"
      stages.values.toSeq.sortBy(-_.ms).take(15).foreach { s =>
        sb ++= f"  stage ${s.id}%4d ${s.ms}%6d ms cpu=${s.cpuMs}%6d tasks=${s.tasks}%3d in=${s.input / 1024}%8dK sr=${s.shufRead / 1024}%7dK sw=${s.shufWrite / 1024}%7dK spill=${s.spill / 1024}%dK  ${s.name.takeWhile(_ != '\n').take(70)}\n"
      }
      sb.result()
    }
  }

  /** Janino compiles: one histogram update per compiled class. */
  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-profile")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val l = new L
    spark.sparkContext.addSparkListener(l)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warmup
      val w0 = System.nanoTime()
      fn(spark, sfDir).count()
      val warmSec = (System.nanoTime() - w0) / 1e9
      (0 until reps).foreach { r =>
        Thread.sleep(200)
        l.reset()
        spark.sparkContext.setJobDescription(s"$name rep$r")
        val (c0, ns0) = (compiles.getCount, CodeGenerator.compileTime)
        val shapes0 = ShapeCache.counters.toMap
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val compileMs = (CodeGenerator.compileTime - ns0) / 1e6
        val shapes = ShapeCache.counters.map { case (k, v) =>
          s"$k ${v - shapes0(k)}" }.mkString(", ")
        println(f"== $name rep$r: $sec%.3f s wall (cold $warmSec%.3f s); " +
          f"codegen ${compiles.getCount - c0} compiles, $compileMs%.1f ms; " +
          s"query shapes: $shapes")
        println(l.report())
      }
    }
    spark.stop()
  }
}
