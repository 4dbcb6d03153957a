package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test access to the listener bus, whose `waitUntilEmpty` is
  * `private[spark]`: a `QueryExecutionListener` is called from the bus
  * thread, so a spec flushes the bus before it reads what a listener saw. */
object ListenerBusBridge {
  def flush(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
