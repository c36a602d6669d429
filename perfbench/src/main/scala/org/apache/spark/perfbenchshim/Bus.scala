package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a traced run waits for every posted event before it reads counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
