package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark hooks the layer trace needs. */
object SparkInternals {
  /** The QueryExecution an SQL execution-end event carries. It is the same
    * object a `QueryExecutionListener` receives, but here it arrives with
    * the execution id, which the start event ties to the caller's job group.
    */
  def queryExecution(end: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(end.qe)

  /** Block until the listener bus has delivered every event posted so far. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
