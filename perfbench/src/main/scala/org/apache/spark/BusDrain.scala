package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event.
  * The bus is `private[spark]`, so this one-line bridge lives in
  * Spark's package. The traced run calls it at each pass boundary, so
  * a pass's job, stage and task events are all counted in that pass. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
