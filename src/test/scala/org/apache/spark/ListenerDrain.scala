package org.apache.spark

/** Test access to the listener bus's drain (`private[spark]`): specs
  * that sum task metrics through a `SparkListener` call it so every
  * event of the jobs they just ran has been delivered. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
