package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

object Checkpoints {

  /** Frees a `localCheckpoint()`ed frame's blocks. `Dataset.unpersist`
    * only drops cache-manager entries; a checkpoint's blocks belong to the
    * RDD under its `LogicalRDD` and stay until that RDD is collected. */
  def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist()
      case _ => checkpointed.unpersist()
    }
}
