package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, SinglePartition}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Column <-> catalyst Expression bridge. Spark 4 made the direct
  * `Column(expr)` constructor internal (`classic.ExpressionUtils` is
  * private[sql]); extension libraries shipping custom codegen'd
  * expressions (graft.functions.VectorExprs) need exactly these two
  * conversions. [[graft.Materialize]] needs the other internal piece: a
  * Dataset over a `LogicalRDD` that carries measured statistics
  * (`Dataset.ofRows` is private[sql]).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The RDD under a local checkpoint's `LogicalRDD`. */
  def checkpointRdd(ck: DataFrame): RDD[InternalRow] =
    ck.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd

  /** `ck`, a local checkpoint of `source`, with the partitioning and
    * ordering of the physical plan that produced its rows, and with
    * `measured` (rows, bytes) statistics in place of the optimizer's
    * estimate when given. Under AQE `Dataset.localCheckpoint` reads them
    * off the adaptive plan's root, which reports no partitioning, so the
    * final plan's are taken here (the checkpoint's RDD is that plan's
    * output, partition for partition).
    */
  def restated(ck: DataFrame, source: DataFrame,
      measured: Option[(Long, Long)]): DataFrame = {
    val lr = ck.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val session = ck.sparkSession.asInstanceOf[classic.SparkSession]
    val plan = source.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    // one partition is a single partition, whatever the plan called it
    // (a sort or a global aggregate over it then needs no exchange)
    val partitioning = plan.outputPartitioning match {
      case _ if lr.rdd.getNumPartitions == 1 => SinglePartition
      case c: PartitioningCollection         => c.partitionings.head
      case p                                 => p
    }
    val stats = measured.map { case (rows, bytes) =>
      Statistics(sizeInBytes = BigInt(math.max(bytes, 1L)), rowCount = Some(BigInt(rows)))
    }.getOrElse(lr.computeStats())
    classic.Dataset.ofRows(session, LogicalRDD(lr.output, lr.rdd, partitioning,
      plan.outputOrdering, lr.isStreaming)(session, Some(stats), Some(lr.constraints)))
  }
}
