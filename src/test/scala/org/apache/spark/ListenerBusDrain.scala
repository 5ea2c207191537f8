package org.apache.spark

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: after `drain` returns, every event posted so far has
  * reached every listener, so a job count read then is exact.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
