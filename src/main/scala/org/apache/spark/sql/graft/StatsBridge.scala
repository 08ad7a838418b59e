package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge to the sql-private checkpoint relation: a checkpoint keeps
  * the size ESTIMATE of the plan it materialized (a join's estimate
  * is the product of its sides), so the static planner shuffles
  * tables AQE later finds small enough to broadcast — one extra job
  * per exchange on every query that reads them. A caller that knows
  * how many rows it materialized hands that bound back here instead.
  */
object StatsBridge {

  /** `checkpointed` with its planner size estimate set to `maxRows`
    * rows of its own width; any other plan is returned as it is.
    */
  def withMaxRows(checkpointed: DataFrame, maxRows: Long): DataFrame =
    checkpointed.queryExecution.analyzed match {
      case r: LogicalRDD =>
        val session = checkpointed.sparkSession.asInstanceOf[SparkSession]
        val size = EstimationUtils.getSizePerRow(r.output) * maxRows
        Dataset.ofRows(session, r.copy()(session, Some(Statistics(size)), None))
      case _ => checkpointed
    }
}
