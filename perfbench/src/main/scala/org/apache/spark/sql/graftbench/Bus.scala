package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark-internal handles the probe needs, which are package-private to
  * Spark. */
object Bus {
  /** Wait until the listener bus has delivered every posted event, so a
    * probe reads complete counts right after the action that made them. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished execution's query, when the event still carries it. */
  def query(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
