package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The traced run calls it at the end of each pass so that every job,
  * stage and task event of the pass has reached the listeners before the
  * pass is summarized. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
