package org.apache.spark.sql.perfbenchbridge

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the query an SQL execution's end event carries; the field is
  * private to Spark's sql package. */
object SqlEndBridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
