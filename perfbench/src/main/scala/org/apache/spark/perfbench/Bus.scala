package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not offer. Listener events
  * arrive asynchronously, so the tracer drains the bus before it reads
  * what its listeners recorded or detaches them.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
