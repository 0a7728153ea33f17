package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a reader of the
  * benchmark's listener must wait until every event posted so far has
  * been handled. The bus is package-private to Spark, hence this
  * one-line bridge. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
