package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ElideWidenUnderAgg, GraphCatalog}

/** Engine plumbing: the result sink and optimizer-rule registration. */
class EngineSpec extends AnyFunSuite {
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
    assert(opts.size == 5, opts)
  }
}
