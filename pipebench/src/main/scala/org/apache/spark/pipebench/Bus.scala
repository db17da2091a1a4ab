package org.apache.spark.pipebench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {

  /** Blocks until every event posted so far has reached the listeners,
    * so a unit's counters are complete when they are read.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
