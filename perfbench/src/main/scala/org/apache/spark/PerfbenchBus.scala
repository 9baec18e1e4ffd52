package org.apache.spark

/** The listener bus's drain is `private[spark]`: wait until every posted
  * event reached the benchmark's listeners before reading what they saw. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
