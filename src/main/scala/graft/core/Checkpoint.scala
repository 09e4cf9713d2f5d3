package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** A local checkpoint pins its blocks at the RDD layer, not the SQL cache,
  * so `Dataset.unpersist` does nothing: they stay until [[release]] or the
  * session ends. Function-local checkpoints go through [[scoped]]; one
  * that a returned result reads goes through [[pin]]. */
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
  def scoped[T](df: DataFrame)(use: DataFrame => T): T =
    Owner.using(o => use(o.own(df.localCheckpoint(false))(release)))

  /** A local checkpoint of `df` that a returned result reads, [[release]]d
    * when the innermost [[Owner.scope]] on this thread closes (run a call
    * and the action consuming its result in one), or kept outside one. */
  def pin(df: DataFrame, eager: Boolean): DataFrame =
    Owner.adopt(df.localCheckpoint(eager))(release)
}
