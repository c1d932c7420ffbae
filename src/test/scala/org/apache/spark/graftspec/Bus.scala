package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Test access to the listener bus: specs that count jobs or SQL
  * executions drain it before reading their listeners' tallies. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
