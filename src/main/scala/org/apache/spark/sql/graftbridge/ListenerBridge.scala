package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to Spark's `private[spark]` listener bus. Listener events are
  * delivered on a separate thread, so when an action returns its job-end
  * events may still be queued; `drain` blocks until every event posted so
  * far has reached its listeners (what Spark's own tests do). */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
