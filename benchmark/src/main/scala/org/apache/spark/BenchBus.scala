package org.apache.spark

/** The listener bus drain is package-private to Spark; the traced run
  * needs it so every event of an op is counted before the op's layer
  * split is read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
