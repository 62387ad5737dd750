package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Lives in Spark's package only to reach two `private[spark]` members
  * the tracer needs: the listener bus, drained before the tracer reads
  * what its listeners recorded, and the query an SQL execution ran.
  */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def query(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
