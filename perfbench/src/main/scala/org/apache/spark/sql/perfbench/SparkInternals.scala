package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's observer reads. Both are
  * package-private in Spark, hence this package. */
object SparkInternals {
  /** Waits until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Nanoseconds the finished query spent in analysis, optimization and
    * physical planning (its QueryPlanningTracker phases), when the event
    * carries its QueryExecution. */
  def planningNs(end: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(end.qe).map { qe =>
      val ph = qe.tracker.phases
      Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).flatMap(ph.get).map(_.durationMs * 1000000L).sum
    }
}
