package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** Access to the driver's listener bus, which Spark keeps package-private:
  * a traced run drains it before reading what its listeners recorded. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
