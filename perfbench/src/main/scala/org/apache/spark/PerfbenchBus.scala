package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to drain after each operation so every job, stage and task event
  * is attributed before the next operation starts. `waitUntilEmpty` is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
