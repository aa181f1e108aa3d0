package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The SQL executions a block of driver code runs, such as the collects an
  * operator makes while its DataFrame is built. PlanDump prints their
  * plans next to the query's own. Lives in the sql package tree because
  * `SparkContext.listenerBus`, drained here so that no execution's event
  * is still in flight, is private[spark]. */
object BuildExecutions {
  def during[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        seen.add(qe); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = {
        seen.add(qe); ()
      }
    }
    val bus = spark.sparkContext.listenerBus
    bus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      val result = body
      bus.waitUntilEmpty()
      (result, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
