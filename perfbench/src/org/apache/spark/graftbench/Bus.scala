package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lives in Spark's package only to reach the listener bus: the traced run
  * drains it after each op so that every listener event of the op has been
  * delivered before the op's counters are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
