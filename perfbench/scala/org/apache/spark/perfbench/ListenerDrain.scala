package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence this
  * accessor in an org.apache.spark subpackage; the benchmark's span
  * counters read the listener only after a drain. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
