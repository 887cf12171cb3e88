package org.apache.spark

/** Access to the `private[spark]` listener bus. Listener events post
  * asynchronously; the traced run drains the bus at every span boundary,
  * so each event is counted against the span that was open when it was
  * posted. Read-only: nothing inside Spark is changed.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
