package org.apache.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SQLAppStatusStore

/** The two engine internals the benchmark's tracer needs: waiting for the
  * listener bus to deliver every event, and the SQL status store that holds
  * per-execution scan metrics. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def sqlStatus(spark: SparkSession): SQLAppStatusStore =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.statusStore
}
