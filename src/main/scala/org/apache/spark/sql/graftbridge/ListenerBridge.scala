package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus. `graft.tools.Profile`
  * drains the ASYNC bus before it starts and before it reads a record:
  * a fixed sleep instead drops late job-end and stage events on a loaded
  * box, and undrained events would land in the next target's record.
  */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
