package org.apache.spark

/** Test access to Spark internals: block until every posted listener
  * event has been delivered, so a listener's counts are final.
  */
object GraftTestBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
