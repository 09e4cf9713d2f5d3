package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

object Checkpoint {

  /** Drops the storage blocks behind a locally-checkpointed DataFrame.
    * A local checkpoint pins its data at the RDD layer (NOT the SQL cache
    * manager, so Dataset.unpersist does nothing); the backing RDD sits in
    * the plan's LogicalRDD leaf. Only call once nothing will read `df`
    * again — a checkpointed RDD has no lineage to recompute from once
    * unpersisted. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: LogicalRDD => r.rdd.unpersist(false)
      case _ => ()
    }
}
