package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners have seen all of an operation's jobs, stages,
  * tasks and query executions before their counters are read. The bus is
  * `private[spark]`, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
