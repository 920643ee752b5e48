package org.apache.spark.graftprobe

import org.apache.spark.SparkContext

/** Deterministic listener-bus drain for listener-based measurements.
  *
  * A spec or measurement that aggregates task metrics from a
  * SparkListener (IncrementalSpec's job-count bound) races the bus,
  * which delivers events asynchronously: a counter read right after an
  * action can miss late `SparkListenerTaskEnd` events (or have them
  * bleed into the next run's counter). A fixed `Thread.sleep` is a race on a loaded box —
  * `LiveListenerBus.waitUntilEmpty()` is the deterministic wait, but
  * it is `private[spark]`, hence this one-method accessor in an
  * org.apache.spark subpackage (nothing in the operator library
  * touches it).
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
