package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: listener events arrive asynchronously, so a spec
  * that counts them waits here before and after its window. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
