package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

/** Sequence packing for pretraining: assign every document its start
  * offset in the concatenated global token stream and the fixed-capacity
  * context chunk that offset lands in (concat-then-split, the standard
  * packed-pretraining layout).
  *
  * The naive formulation is `sum(n_tokens) OVER (ORDER BY id)` — a
  * GLOBAL window, which Spark plans as a single-partition sort: one task
  * owns the whole corpus. The scale-correct shape is the classic
  * two-pass distributed prefix sum:
  *   1. range-partition by the order key, cumsum WITHIN each partition
  *      (parallel, partition-local windows);
  *   2. collect one row PER PARTITION (its token total), prefix-sum
  *      those on the driver (KB-scale), broadcast-join the partition
  *      base offsets back.
  * Pass 2's driver state is O(partitions), never O(rows).
  */
object Packing {

  /** (all input columns) + n_tokens, offset, chunk_id. `orderCol` must be
    * unique and non-null — it defines the concatenation order. Chunks
    * are `capacity` tokens; a doc belongs to the chunk its FIRST token
    * lands in (docs may straddle chunk boundaries, as packed pretraining
    * does). */
  def withOffsets(
      df: DataFrame, orderCol: String, tokensCol: Column,
      capacity: Long): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    val spark = df.sparkSession
    val parts = df
      // NULL token counts (e.g. NULL text) pack as zero-length docs —
      // a NULL would otherwise poison every downstream offset
      .withColumn("__n_tokens", F.coalesce(tokensCol.cast("long"), F.lit(0L)))
      .repartitionByRange(F.col(orderCol))
      .sortWithinPartitions(orderCol)
      .withColumn("__pid", F.spark_partition_id())
      .transform(graft.core.Checkpoint.pin(_, eager = false)) // pin partitioning: both passes must see identical splits
    val w = Window.partitionBy("__pid").orderBy(orderCol)
    val local = parts.withColumn("__cum", F.sum("__n_tokens").over(w))
    // one row per partition → driver prefix sum → broadcast back
    val totals = parts.groupBy("__pid")
      .agg(F.sum("__n_tokens").as("__total"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val bases = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, tot)) =>
      (pid, acc + tot)
    }.init.zip(totals).map { case ((_, base), (pid, _)) => (pid, base) }
    import spark.implicits._
    val baseDf = bases.toSeq.toDF("__pid2", "__base")
    local.join(F.broadcast(baseDf), F.col("__pid") === F.col("__pid2"))
      .withColumn("n_tokens", F.col("__n_tokens"))
      .withColumn("offset", F.col("__base") + F.col("__cum") - F.col("__n_tokens"))
      .withColumn("chunk_id", F.expr(s"offset div ${capacity}L"))
      .drop("__n_tokens", "__pid", "__pid2", "__cum", "__base", "__total")
  }

  /** Sliding-window chunking of LONG documents: split each doc's
    * whitespace tokens into windows of `window` tokens starting every
    * `stride` tokens (overlap = window − stride, the context-window
    * preprocessing HF's `return_overflowing_tokens` does). Windows
    * start at 0, stride, 2·stride, …; the count is chosen so the last
    * window reaches the document's end (it may be shorter than
    * `window`). Docs at or under `window` tokens emit exactly one
    * chunk; empty docs emit one empty chunk, keeping doc accounting
    * 1:1-or-more.
    *
    * Map-only (sequence → slice → posexplode): no shuffle, no state —
    * safe inline in any corpus-scale pipeline or stream. ALL input
    * columns ride along (each doc's rows fan out per chunk), plus
    * chunk_idx, n_chunk_tokens, chunk_text. Every output derives from
    * integer arithmetic and token slices, so a SQL engine replays it
    * verbatim. */
  def chunkTokens(df: DataFrame, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(stride >= 1 && stride <= window,
      s"stride must be in [1, window]: $stride")
    // NO lowercasing: chunk_text is training text, and the window
    // arithmetic is case-blind anyway — HF's return_overflowing_tokens
    // pattern this mirrors preserves the original casing
    val toks = F.filter(
      F.split(F.trim(F.col(textCol)), "\\s+"), w => F.length(w) > 0)
    val n = F.size(toks)
    val nChunks = F.when(n <= window, 1L).otherwise(
      F.floor((n - window + (stride - 1)).cast("double") / stride.toDouble)
        .cast("long") + 1L)
    // internal names must not collide with caller columns (e.g. a `pos`
    // from deterministicShuffle upstream)
    val inputCols = df.columns.map(F.col).toSeq
    df.withColumn("__toks", toks).withColumn("__nc", nChunks)
      .select(inputCols :+
        F.posexplode(F.transform(
          F.sequence(F.lit(0L), F.col("__nc") - 1L),
          i => F.slice(F.col("__toks"), (i * stride + 1).cast("int"), F.lit(window))))
          .as(Seq("__chunk_pos", "__chunk_toks")): _*)
      .select(inputCols ++ Seq(F.col("__chunk_pos").cast("long").as("chunk_idx"),
        F.size(F.col("__chunk_toks")).cast("long").as("n_chunk_tokens"),
        F.array_join(F.col("__chunk_toks"), " ").as("chunk_text")): _*)
  }
}
