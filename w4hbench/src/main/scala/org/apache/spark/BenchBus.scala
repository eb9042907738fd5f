package org.apache.spark

/** Lives in Spark's package for the one private[spark] call the
  * benchmark's listener needs: block until every posted event has
  * been delivered, so counts read after a run are complete. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
