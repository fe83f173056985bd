package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Test access to Spark's listener bus, which is private to `org.apache.spark`. */
object ListenerBus {
  /** Returns once every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
