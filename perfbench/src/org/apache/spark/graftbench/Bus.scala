package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {

  /** Block until every event posted so far has reached every listener, so
    * a span closed after an action sees all of that action's task events.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
