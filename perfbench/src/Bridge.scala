package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private. */
object BusBridge {
  /** Blocks until every event posted so far has reached every listener;
    * throws a TimeoutException after 60 s.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
