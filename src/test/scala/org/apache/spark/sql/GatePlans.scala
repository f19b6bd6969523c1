package org.apache.spark.sql

import scala.collection.mutable

import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The plan a gate's result stands for, for plan-shape specs. A pinned
  * gate returns its report as a local relation, so its plan is the one
  * the report's collect ran — the last query the gate executed, caught
  * with a QueryExecutionListener. Either way the plan is built afresh
  * (planned, not executed), as an unexecuted frame's would be. */
object GatePlans {
  def of(spark: SparkSession, gate: => DataFrame): SparkPlan = {
    val ran = mutable.ArrayBuffer.empty[LogicalPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        ran.synchronized { ran += qe.analyzed }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = try {
      val df = gate
      spark.sparkContext.listenerBus.waitUntilEmpty()
      df
    } finally spark.listenerManager.unregister(listener)
    val plan = out.queryExecution.analyzed match {
      case _: LocalRelation => ran.synchronized(ran.lastOption).getOrElse(out.queryExecution.analyzed)
      case p => p
    }
    classic.Dataset.ofRows(out.sparkSession.asInstanceOf[classic.SparkSession], plan)
      .queryExecution.executedPlan
  }
}
