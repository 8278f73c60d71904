package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached the listeners, so that
  * a recorder read right after an action sees that action's jobs, tasks and
  * block updates (the listener bus delivers them asynchronously).
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
