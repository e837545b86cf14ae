package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * counters read after an op include all of that op's task and block
  * events. The bus is Spark-internal; this is the hook Spark's own test
  * suites use for the same purpose.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
