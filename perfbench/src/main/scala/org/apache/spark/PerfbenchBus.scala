package org.apache.spark

/** The one hook the benchmark needs from inside Spark: wait until the
  * listener bus has delivered every event posted so far, so a traced
  * run reads complete job, stage and task records. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
