package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Bridge to the `LogicalRDD` an eager local checkpoint leaves behind.
  * Spark gives that leaf the size estimate of the plan it replaced, so
  * a loop that joins a checkpoint with itself and checkpoints the
  * result compounds the estimate round over round (the join multiplies
  * its sides' sizes) until planning alone spends seconds in BigInt
  * arithmetic. */
object CheckpointBridge {

  /** An eager local checkpoint of `df` whose `LogicalRDD` carries the
    * block manager's measured size of the materialized blocks, memory
    * plus disk, as its size estimate. Same RDD, output and constraints
    * as `df.localCheckpoint(true)`; only the statistics differ. */
  def measuredCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    val lr = cp.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val s = castToImpl(cp.sparkSession)
    val master = s.sparkContext.env.blockManager.master
    val bytes = (0 until lr.rdd.getNumPartitions).iterator
      .flatMap(p => master.getBlockStatus(RDDBlockId(lr.rdd.id, p)).values)
      .map(b => b.memSize + b.diskSize).sum
    Dataset.ofRows(s, LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
      lr.outputOrdering, lr.isStreaming)(s, Some(Statistics(sizeInBytes = bytes)),
      Some(lr.constraints)))
  }
}
