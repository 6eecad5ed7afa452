package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's listeners need. */
object PerfbenchAccess {
  /** Wait until every listener event posted so far has been delivered, so
    * the counters are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)

  /** The query an SQL execution ran, to pair the QueryExecutionListener's
    * callback with the execution id that the execution's jobs carry. */
  def queryOf(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
