package org.apache.spark

/** The one Spark-internal hook the benchmark needs: blocking until the
  * listener bus has delivered every posted event (the same call Spark's own
  * test suites use before reading listener state). */
object BusDrain {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
