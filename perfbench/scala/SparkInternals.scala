// Two package-private Spark members the traced run reads; nothing else
// of the benchmark lives in Spark's packages.

package org.apache.spark {

  /** A traced run drains the listener bus once, at the end, so every
    * task and SQL event is counted before the dump. */
  object PerfbenchBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {

  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The end event of a SQL execution carries its query execution and
    * action name, package-private. */
  object PerfbenchSqlEnd {
    def qe(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
    def action(e: SparkListenerSQLExecutionEnd): Option[String] = e.executionName
  }
}
