package org.apache.spark

/** Lets the harness wait until Spark's listener bus has delivered every
  * event posted so far, so a counter snapshot taken after an action
  * includes that action's tasks and queries.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
