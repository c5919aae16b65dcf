package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Re-exports the two listener-side internals [[graft.Probe]] needs: the
  * `private[spark]` listener bus (drained so every event of a finished
  * job is delivered before the next measurement starts) and the
  * `private[sql]` query execution an SQL-execution-end event carries.
  */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
