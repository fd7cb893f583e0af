package org.apache.spark

/** The listener bus drain, which Spark keeps package-private: specs read a
  * listener's counts only after every event has been delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
