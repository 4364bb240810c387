// Two package-private Spark members the traced run needs.

package org.apache.spark {
  /** Drain the listener bus so every job, stage and execution event is
    * seen before attribution. */
  object GraftbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The query execution an SQL execution-end event belongs to (links a
    * QueryExecutionListener callback to the execution id its jobs carry). */
  object GraftbenchSql {
    def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
  }
}
