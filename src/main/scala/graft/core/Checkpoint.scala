package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** A local checkpoint pins its blocks at the RDD layer, not the SQL cache,
  * so `Dataset.unpersist` does nothing: they stay until [[release]] or the
  * session ends. Function-local checkpoints go through [[scoped]]; a lazy
  * result that reads its own checkpoint keeps it pinned, and says so. */
object Checkpoint {

  /** Drops the storage blocks behind every `LogicalRDD` leaf of `df`'s
    * plan. Only call once nothing will read those checkpoints again — a
    * checkpointed RDD has no lineage to recompute from once unpersisted. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case r: LogicalRDD => r.rdd.unpersist(false)
      case _ => ()
    }

  /** Runs `use` on a lazy local checkpoint of `df` and [[release]]s it
    * on exit, normal or not. What `use` returns must not read the
    * checkpoint: a driver value, or a frame built from driver data. */
  def scoped[T](df: DataFrame)(use: DataFrame => T): T = {
    val pinned = df.localCheckpoint(false)
    try use(pinned)
    finally release(pinned)
  }
}
