package org.apache.spark.sql

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Test-side access to listener-event fields Spark keeps private. */
object ListenerEvents {

  /** The name of the SQL execution `e` ends: the `funcName`
    * QueryExecutionListeners see.
    */
  def executionName(e: SparkListenerSQLExecutionEnd): Option[String] = e.executionName
}
