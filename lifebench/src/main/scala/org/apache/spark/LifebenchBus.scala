package org.apache.spark

/** The listener bus delivers events asynchronously; a traced run
  * drains it before reading its listener's totals. `waitUntilEmpty`
  * is package-private to Spark, hence this one-line bridge in Spark's
  * package. */
object LifebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
