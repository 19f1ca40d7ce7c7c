package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the context's listener bus, which Spark keeps package-private:
  * the traced run drains it after each op so every job, stage, task and
  * query-execution event of that op has been delivered before it is read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
