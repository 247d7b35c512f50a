package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event. The
  * traced run calls it between ops, so each job, stage and task event is
  * attributed to the op that caused it. The bus is private to Spark, hence
  * this one-line bridge in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
