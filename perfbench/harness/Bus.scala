package org.apache.spark {

  import org.apache.spark.scheduler.SparkListenerEvent

  /** The `private[spark]` seam the benchmark needs: post its own marker
    * events, and wait until every queued listener event (jobs, tasks,
    * micro-batch progress, markers) has been delivered, so per-op
    * counters are complete when they are read. */
  object PerfbenchBus {
    def post(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
  }
}

package org.apache.spark.sql {

  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** The `private[sql]` seam: the action name and QueryExecution a
    * finished SQL execution carries, as a QueryExecutionListener gets
    * them, but on the listener that also sees the benchmark's markers. */
  object PerfbenchSql {
    def action(e: SparkListenerSQLExecutionEnd): Option[(String, QueryExecution)] =
      e.executionName.filter(_ => e.qe != null).map(_ -> e.qe)
  }
}
