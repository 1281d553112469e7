package org.apache.spark

/** The one `private[spark]` hook the harness needs: block until every
  * event posted so far has reached the listeners, so an operation's trace
  * is complete before its numbers are read. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
