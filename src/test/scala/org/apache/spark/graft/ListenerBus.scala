package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a spec that reads its own
  * listener must first wait until every event posted so far has been
  * handled. The bus is package-private to Spark, hence this bridge. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
