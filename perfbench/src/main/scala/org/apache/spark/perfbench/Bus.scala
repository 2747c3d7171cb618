package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the traced run waits for every event of an operation (job ends, task
  * ends, query-execution callbacks) before it closes the operation's
  * spans. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
