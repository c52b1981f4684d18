package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {

  /** Blocks until every event posted so far has reached the listeners,
    * so a closed-loop step's events are all counted before the next
    * step starts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
