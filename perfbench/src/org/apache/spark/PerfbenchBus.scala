package org.apache.spark

/** The listener bus is Spark-private; the traced run waits on it so every
  * job, stage and task event of the timed loop is tallied before analysis.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
