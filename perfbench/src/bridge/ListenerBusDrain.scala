package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Listener events are delivered on an asynchronous bus; the tracer reads
  * its task counters only after every event posted so far has been handled.
  * `waitUntilEmpty` is package-private to `org.apache.spark`, hence this
  * one-method bridge.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
