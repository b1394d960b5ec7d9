package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the benchmark drains after every traced call so that all of the call's
  * events are counted before the next call starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
