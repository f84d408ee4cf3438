package org.apache.spark

/** The listener bus is private to Spark; specs that count jobs with a
  * SparkListener drain it so every event of the counted work has been
  * delivered before they read the count. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
