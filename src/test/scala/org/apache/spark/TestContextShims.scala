package org.apache.spark

/** Test-only access to `SparkContext` state that has no public setter. */
object TestContextShims {
  /** Puts the context's checkpoint dir back to `dir`, including `None`,
    * which `setCheckpointDir` cannot express — so a spec that sets a dir
    * on the shared test context does not leak it to later suites.
    */
  def restoreCheckpointDir(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
