package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * asynchronous listener bus has delivered every posted event, so a traced
  * op's counters are complete before they are read. Lives in this package
  * because `SparkContext.listenerBus` is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
