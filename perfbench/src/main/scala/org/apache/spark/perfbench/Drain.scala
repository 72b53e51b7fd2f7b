package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event,
  * so counters read after a run include the run's last jobs. */
object Drain {
  def listeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
