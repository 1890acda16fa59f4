package org.apache.spark.sql.graftshim

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Re-wraps an eager local checkpoint's leaf with exact statistics. The
  * checkpoint keeps the estimate Spark made BEFORE computing the frame
  * (LogicalRDD.fromDataset copies optimizedPlan.stats: a 43-row join output
  * can report terabytes); the copy carries the materialized row count and
  * the bytes the block manager master records for the RDD's blocks. The
  * statistics parameter and Dataset.ofRows are private[sql] (see
  * ColumnBridge). */
object CutLeaf {
  def withExactStats(cut: DataFrame, rows: Long): DataFrame = {
    val r = cut.queryExecution.logical.asInstanceOf[LogicalRDD]
    val bytes = SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks)
      .collect { case (RDDBlockId(id, _), s) if id == r.rdd.id => s.memSize + s.diskSize }
      .sum
    val session = cut.sparkSession.asInstanceOf[SparkSession]
    Dataset.ofRows(session, r.copy()(session,
      Some(Statistics(BigInt(bytes), Some(BigInt(rows)))), Some(r.constraints)))
  }
}
