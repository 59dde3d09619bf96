package org.apache.spark

/** The listener bus delivers events asynchronously; its drain is private
  * to Spark, so this one-line bridge lives in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
