package graft.streaming

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.Trigger

import graft.core.Owner

/** Running a bounded streaming plan to a result frame. */
object Streams {

  /** Name prefix of the checkpoint directories [[toMemory]] creates
    * under `java.io.tmpdir`. */
  private[streaming] val CheckpointPrefix = "graft-memory-sink-"

  /** Runs `ds` (a streaming plan over a bounded source) to completion on
    * a memory sink and returns the sink's rows as a batch frame.
    *
    * Lifecycle guarantees:
    *  - eager: the query is started with `Trigger.AvailableNow` and
    *    awaited before this returns, so every available input row has
    *    been processed and the result is fixed;
    *  - the sink's session temp view is dropped before return, so a
    *    long-lived session accumulates no views. The returned frame
    *    keeps its own reference to the sink's rows, which are freed when
    *    the frame is no longer reachable;
    *  - the query's checkpoint lives in a fresh temp directory that is
    *    deleted before return;
    *  - a failing query's `StreamingQueryException` is rethrown, after
    *    the same clean-up (query stopped, view dropped, checkpoint
    *    deleted).
    *
    * `outputMode` is `append` for stateless plans and `complete` for
    * aggregations whose final state table is the result. */
  def toMemory(ds: Dataset[_], outputMode: String = "append"): DataFrame = Owner.using { o =>
    val spark = ds.sparkSession
    val name = "mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val checkpoint =
      o.own(Files.createTempDirectory(CheckpointPrefix).toFile)(FileUtils.deleteQuietly)
    o.own(name)(spark.catalog.dropTempView)
    o.own(ds.writeStream.format("memory").queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpoint.getPath)
      .trigger(Trigger.AvailableNow())
      .start())(_.stop())
      .awaitTermination()
    spark.table(name)
  }
}
