package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Minimum-parallelism guard for compute-heavy map/join stages (guide
  * §2.5 "input skew: one huge unsplittable file ... repartition
  * immediately after the read").
  *
  * A parquet scan parallelizes across FILES and ROW GROUPS, never within
  * a row group. A table that arrives as one file with one row group —
  * a small fixture, a single upstream writer task, one gzip member —
  * therefore plans as ONE scan task, and every fused map stage above it
  * (shingling, Levenshtein fan-out, image decode, PQ encoding) runs on
  * one core regardless of cluster size. The operators below this guard
  * do per-row work that is orders of magnitude heavier than a row's
  * shuffle cost, so when the input's partitioning is below the
  * cluster's core count we round-robin repartition up to
  * `defaultParallelism` BEFORE the expensive map.
  *
  * Scale honesty: the repartition is CONDITIONAL on the observed scan
  * partitioning — a 100 TB input already split into thousands of
  * tasks takes the `df` branch and plans NO extra exchange — and
  * additionally on the optimizer's size estimate: a LARGE input that
  * is already split into a reasonable fraction of the core count
  * (e.g. a 10k-split table on a 20k-core cluster) amortizes its map
  * stage fine, and round-robining it would shuffle the full payload
  * for a <2x parallelism win (guide §2.1 — a shuffle of the data
  * dwarfs that). Only an input that is both BELOW the core count and
  * either small or pathologically under-split (a handful of huge
  * unsplittable files) pays the exchange. The target width is
  * `sparkContext.defaultParallelism` (= total cores), never a
  * constant, so the same code adapts from `local[4]` to a cluster.
  * Round-robin repartition is retry-safe (sort-before-repartition is
  * on by default, SPARK-23207).
  *
  * Correctness: only safe where downstream math is insensitive to row
  * order and partition boundaries — integer counts, min/max, hashes,
  * per-row maps, per-pair scores, bounded top-k with total tie-breaks.
  * Do NOT put it under order-sensitive float accumulations (Welford
  * moments, unsorted float sums) whose oracle compare is bit-exact.
  *
  * Streaming frames cannot report partitioning (no RDD before the
  * micro-batch — `df.rdd` on a streaming frame throws at plan time),
  * so [[widen]] repartitions them unconditionally; every entry point
  * is therefore stream-safe. Use it only where a micro-batch fans out
  * against a static side and the per-row join work dwarfs one narrow
  * exchange of the batch.
  *
  * Partitioning is probed on the PRE-AQE static plan and runs no Spark
  * job, so the guard is only meaningful directly above a scan or an
  * explicitly-partitioned frame: a plan already containing an
  * exchange reports its static width (`spark.sql.shuffle.partitions`
  * for a hash exchange, the requested count for a repartition). All
  * call sites are scan-rooted. The probe also pays up to two physical
  * planning passes per call — keep it off construction-time hot loops.
  */
object Par {
  /** Inputs at least this large that already span ≥ 1/4 of the core
    * count are left alone: the map-stage win is < 4x while the
    * exchange re-ships every payload byte. Below it (fixtures, single
    * upstream writer outputs) the exchange is KBs and the win is up
    * to `cores`x. */
  val largeInputBytes: Long = 4L << 30

  /** `df` repartitioned round-robin to `defaultParallelism` iff its
    * current plan yields fewer partitions than that (with the
    * large-and-reasonably-split exception above); otherwise `df`
    * unchanged (no exchange added). Streaming frames repartition
    * unconditionally. */
  def widen(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.isStreaming) return df.repartition(n)
    val parts = df.queryExecution.executedPlan match {
      // an adaptive plan's `.rdd` runs its exchanges; its pre-AQE width
      // does not (0 where unknown, which widens)
      case a: AdaptiveSparkPlanExec => a.initialPlan.outputPartitioning.numPartitions
      case _ => df.rdd.getNumPartitions
    }
    if (parts >= n) df
    else if (parts >= math.max(2, n / 4) &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes >= largeInputBytes) df
    else df.repartition(n)
  }

  /** [[widen]] gated on the optimizer's input-size estimate: operators
    * whose PARTIAL aggregation state is heavy per partition (per-column
    * KLL/HLL/frequent-items sketch buffers, per-group top-k heaps)
    * multiply that state by the partition count when widened — on a
    * KB-scale input the extra buffer merges cost more than the lost
    * map parallelism (measured r20: the profile family net-regressed
    * 27.2→29.4 s under an ungated widen at sf0.1). Widen only when the
    * estimated input is at least `minInputBytes`; below it, return
    * `df` unchanged. Streaming frames pass through to [[widen]]
    * (their size cannot be estimated at plan time). */
  def widenIfAtLeast(df: DataFrame, minInputBytes: Long): DataFrame =
    if (!df.isStreaming &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes < minInputBytes) df
    else widen(df)
}
