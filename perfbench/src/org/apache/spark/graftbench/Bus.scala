package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which is private to Spark. The benchmark's
  * listeners are asynchronous; draining the bus before reading what they
  * recorded makes the last batch's jobs and progress records visible.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
