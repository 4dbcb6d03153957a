package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** `localCheckpoint` that keeps the partitioning the query was planned with.
  * `LogicalRDD.fromDataset` records the executed plan's `outputPartitioning`,
  * but Spark 4.1's `AdaptiveSparkPlanExec` does not override it, so a
  * checkpoint taken under AQE records `UnknownPartitioning(0)` and every
  * later join or aggregation on the same key re-exchanges the data. This
  * records the final adaptive plan's partitioning instead, without touching
  * the session's AQE setting. */
object CheckpointBridge {
  def localCheckpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        // the first leaf of a collection, as LogicalRDD.fromDataset takes it
        @scala.annotation.tailrec
        def leaf(p: Partitioning): Partitioning = p match {
          case pc: PartitioningCollection => leaf(pc.partitionings.head)
          case other => other
        }
        leaf(a.finalPhysicalPlan.outputPartitioning) match {
          case _: UnknownPartitioning => c
          case part =>
            val ds = c.asInstanceOf[Dataset[_]]
            val rdd = ds.logicalPlan.asInstanceOf[LogicalRDD]
            require(rdd.rdd.getNumPartitions == part.numPartitions,
              s"checkpoint has ${rdd.rdd.getNumPartitions} partitions, plan says $part")
            Dataset.ofRows(ds.sparkSession, rdd.copy(outputPartitioning = part)(
              ds.sparkSession, Some(rdd.computeStats()), Some(rdd.constraints)))
        }
      case _ => c
    }
  }
}
