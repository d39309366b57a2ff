package org.apache.spark

/** Reaches the context's listener bus, which Spark keeps package-private:
  * waiting until it is empty makes listener counts exact at a boundary.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit =
    if (!sc.isStopped) sc.listenerBus.waitUntilEmpty()
}
