package org.apache.spark

/** The one Spark-internal hook the benchmark needs: listener events are
  * delivered asynchronously, so a traced op waits for the bus to drain
  * before it attributes jobs and stages. Used only in traced runs, outside
  * every timed window.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
