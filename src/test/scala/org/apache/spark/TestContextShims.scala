package org.apache.spark

/** Test-only access to `SparkContext` state that has no public setter. */
object TestContextShims {
  /** Puts the context's checkpoint dir back to `dir`, including `None`,
    * which `setCheckpointDir` cannot express — so a spec that sets a dir
    * on the shared test context does not leak it to later suites.
    */
  def restoreCheckpointDir(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir

  /** Blocks until every posted listener event has been delivered, so a
    * spec's listener has seen all jobs that started or ended so far.
    */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
