package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{functions => F}

import graft.api.{Profiler, ProfileStore}
import graft.core.LocalAggregate

/** Rolling / streaming profiles (reference TimedRollingLogger,
  * `api/logger/rolling.py:63-262`) re-expressed as Structured Streaming:
  * event-time tumbling windows + watermark instead of wall-clock rollover
  * threads.
  *
  * Semantics divergence (documented, an improvement — SURVEY §7.4): the
  * reference rotates on processing time and simply merges late rows into
  * whatever profile is open; here windows are event-time and the
  * watermark bounds lateness, so a replayed/backfilled stream produces
  * identical profiles to a batch run over the same data — the property
  * the store's merge algebra needs.
  *
  * Scale shape: the windowed aggregation is the same aggregate as batch
  * and segmented profiling, keyed by (window, segment), and it finishes
  * the same way: partial/final on the executors, or on the driver below
  * [[Profiler.LocalCellBound]] ([[graft.core.LocalAggregate.finish]]).
  * State per key is KB-bounded sketch buffers, and the sink appends
  * KB-scale profile rows to the store in its one row shape
  * ([[ProfileStore.writeWindowed]]) — the stream itself is never
  * buffered.
  */
object ProfileStream {

  /** Windowed profile aggregation plan over a streaming (or batch)
    * DataFrame: the profiler's keyed aggregate
    * ([[graft.api.Profiler.keyedAggregate]]) keyed by the tumbling window
    * and then the segment columns, over `columns` (by default every column
    * but `tsCol` and the segment columns). Never widened. */
  def windowedProfileDF(
      sdf: DataFrame,
      tsCol: String,
      window: String,
      watermark: Option[String] = None,
      profiler: Profiler = new Profiler(),
      columns: Option[Seq[String]] = None,
      segmentColumns: Seq[String] = Nil): DataFrame = {
    val withWm = watermark.map(w => sdf.withWatermark(tsCol, w)).getOrElse(sdf)
    profiler.keyedAggregate(withWm,
      Profiler.profiledColumns(sdf.schema, columns, tsCol +: segmentColumns), segmentColumns,
      leading = Seq(F.window(F.col(tsCol), window)))
  }

  /** Run rolling profiles as a streaming query appending to a
    * [[ProfileStore]]: each micro-BATCH is profiled independently
    * (window groupBy over just the batch's rows inside foreachBatch), so
    * every input row is counted in exactly one stored profile and the
    * store's per-window merge is plain monoid algebra — append-only
    * correct regardless of how the stream is split into batches. (A
    * streaming-state aggregation in update mode would re-emit CUMULATIVE
    * window rows each batch, double-counting on append.) The watermark
    * bounds state for the streaming-aggregation path
    * ([[windowedProfileDF]]); here lateness only means a late row lands
    * in a later store row for the same window — merged reads are
    * unaffected. A micro-batch of at most [[Profiler.LocalCellBound]]
    * cells (the bound in force when the query starts) is aggregated and
    * serialized on the driver after one counted collect; a larger one
    * runs the windowed aggregate and the store write on the executors. */
  def toStore(
      sdf: DataFrame,
      tsCol: String,
      window: String,
      /** NOTE: with the per-batch profiling sink there is no streaming
        * aggregation state, so the watermark does NOT drop late rows —
        * they land in a later store row for the same window (merged
        * reads are unaffected). Kept so switching between this sink and
        * the stateful [[windowedProfileDF]] path is signature-compatible. */
      watermark: String,
      storePath: String,
      datasetId: String,
      profiler: Profiler = new Profiler(),
      columns: Option[Seq[String]] = None,
      segmentColumns: Seq[String] = Nil,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // read once, on the starting thread: every batch uses the bound in
    // force when the query started
    val cellBound = Profiler.LocalCellBound.bound
    val profiled = Profiler.profiledColumns(sdf.schema, columns, tsCol +: segmentColumns)
    val needed = ((tsCol +: segmentColumns) ++ profiled).distinct.map(F.col)
    def flat(batch: DataFrame): DataFrame = {
      val windowed =
        windowedProfileDF(batch, tsCol, window, None, profiler, Some(profiled), segmentColumns)
      windowed.select(
        F.unix_timestamp(F.col("window.start")).*(1000).as("__ts") +:
          windowed.columns.toSeq.filterNot(_ == "window").map(F.col): _*)
    }
    sdf.withWatermark(tsCol, watermark).writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val store = new ProfileStore(batch.sparkSession, storePath)
        val (nSeg, quantiles) = (segmentColumns.length, profiler.config.quantiles)
        LocalAggregate.finish(batch.select(needed: _*), cellBound)(l => Seq(flat(l))) match {
          case Some(rows) => store.writeWindowed(rows, nSeg, datasetId, quantiles)
          // above the bound, rows serialize on the executors, so a
          // high-cardinality segmented stream appends straight to the
          // store with no driver funnel
          case None => store.writeWindowed(flat(batch), nSeg, datasetId, quantiles)
        }
      }
      .start()
  }
}
