// Lives under org.apache.spark.sql so it can rebuild a Dataset from a
// logical plan (the private[sql] classic.Dataset.ofRows).
package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

object CheckpointStats {

  /** `cp`, a checkpoint (one `LogicalRDD` leaf), with its size estimate set
    * to `rows` exact rows. A checkpoint otherwise keeps the estimate of the
    * plan it materialized (`originStats`), and a join's estimate is the
    * product of its children's, so a loop that joins its own previous
    * checkpoint compounds the estimate every round until planning stalls
    * in the BigInt arithmetic.
    */
  def withRowCount(cp: DataFrame, rows: Long): DataFrame = {
    val r = cp.queryExecution.logical.asInstanceOf[LogicalRDD]
    val session = cp.sparkSession.asInstanceOf[classic.SparkSession]
    val stats = Statistics(EstimationUtils.getSizePerRow(r.output) * rows, Some(BigInt(rows)))
    classic.Dataset.ofRows(session, r.copy()(session, Some(stats), Some(r.constraints)))
  }
}
