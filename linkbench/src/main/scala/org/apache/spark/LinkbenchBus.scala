package org.apache.spark

/** The one private Spark API the benchmark needs: waiting until the
  * listener bus has delivered every event posted so far, so that counters
  * read after a timed call include all of that call's tasks. */
object LinkbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
