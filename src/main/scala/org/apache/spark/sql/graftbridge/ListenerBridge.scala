package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to Spark's private[spark] listener bus. Listener events are
  * delivered asynchronously, so a reader of listener-side totals must
  * first wait until every event posted so far has been handled. Lives
  * in an org.apache.spark subpackage solely for access; contains no
  * Spark-derived code.
  */
object ListenerBridge {

  /** Block until every listener has handled every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
