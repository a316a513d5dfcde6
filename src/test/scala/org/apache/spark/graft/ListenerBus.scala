package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously and keeps its drain
  * `private[spark]`. Specs that count Spark jobs with a listener call
  * [[drain]] after the action, so every event posted so far has reached
  * every listener before they read the count.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
