package org.apache.spark

/** The listener bus's drain is package-private; the benchmark's tracer
  * waits on it so every event of a run is counted before it reports. */
object PushbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
