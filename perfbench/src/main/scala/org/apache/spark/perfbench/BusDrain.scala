package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every listener event posted so far has been delivered.
  *
  * An action returns once its job ends, but the listener bus delivers
  * task and job events asynchronously. Counters read right after an
  * action would miss its last tasks, so the harness drains the bus
  * outside every timed window before it reads them. The bus is
  * `private[spark]`, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
