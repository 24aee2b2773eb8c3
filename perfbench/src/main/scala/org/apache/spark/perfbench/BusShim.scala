package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object BusShim {
  /** Block until every event posted so far has reached every listener.
    * Totals read before this can miss the last jobs of an op.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
