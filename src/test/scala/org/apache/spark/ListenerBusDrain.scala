package org.apache.spark

/** The listener bus delivers events asynchronously; a spec that counts
  * jobs through a listener drains it before reading the count.
  * `waitUntilEmpty` is package-private to Spark, hence this one-line
  * bridge in Spark's package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
