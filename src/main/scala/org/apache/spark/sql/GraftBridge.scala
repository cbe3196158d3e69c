package org.apache.spark.sql

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Bridge into `private[sql]` / `private[spark]` internals: the
  * Column↔Expression conversions (the supported pattern for
  * third-party Catalyst expressions on Spark 4, where the classic
  * `new Column(expr)` constructor is gone), and the three block-level
  * calls the pin seam ([[graft.operators.Checkpoints]]) needs. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Memory plus disk bytes of `rdd`'s cached blocks, asked of the
    * block-manager master synchronously. Executors report each stored
    * block to the master before their task ends, so once the job that
    * wrote the blocks returns the answer is complete; the status store
    * behind `SparkContext.getRDDStorageInfo` is fed by listener events
    * and can still lag it. No Spark job runs. */
  def storedBytes(rdd: RDD[_]): Long =
    SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks.iterator)
      .collect { case (RDDBlockId(id, _), s) if id == rdd.id => s.memSize + s.diskSize }
      .sum

  /** `df`, a bare checkpoint scan, re-entered with `sizeInBytes` as its
    * plan statistics in place of the estimate it was checkpointed
    * with; the scan, its RDD and its constraints are unchanged. Any
    * other plan is returned as is. */
  def withSizeInBytes(df: DataFrame, sizeInBytes: BigInt): DataFrame =
    df.queryExecution.analyzed match {
      case r: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session,
          r.copy()(session, Some(Statistics(sizeInBytes)), Some(r.constraints)))
      case _ => df
    }

  /** Drop `rdd`'s cached blocks, as `RDD.unpersist(blocking = false)`
    * does, minus its WARN that a locally checkpointed RDD's lineage is
    * gone: for a pin that is the point of releasing it. */
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
