package org.apache.spark

/** Spark delivers listener events asynchronously; the traced run must see
  * every event of an op before it reads the aggregates. The bus's drain
  * call is `private[spark]`, hence this one-line bridge in Spark's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
