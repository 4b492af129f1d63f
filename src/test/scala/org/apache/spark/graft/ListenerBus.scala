package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus drain (package-private in Spark),
  * so a spec's SparkListener has seen every event of the jobs it
  * just ran before it asserts on them.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
