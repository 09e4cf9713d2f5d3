package graft.analysis

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.DataFrame

import graft.core.Checkpoint

/** Exact interpolated quantiles at scale — the sketch-free complement of
  * the profiler's KLL path (reference
  * `core/metrics/metrics.py` DistributionMetric quantiles), for
  * validation runs and oracle checks where the answer must be exact.
  *
  * Spark's built-in `percentile` aggregate buffers EVERY value of the
  * column in one aggregation buffer — the scale-killer pattern this
  * module exists to avoid. Here nothing ever holds more than a
  * partition's worth of DISTINCT values:
  *  1. one map-side-combined groupBy(column, value) exchange → exact
  *     per-value counts (the only corpus-sized shuffle; heavy ties
  *     collapse before the exchange);
  *  2. `repartitionByRange` + in-partition sort of the distinct values,
  *     pinned by a [[graft.core.Checkpoint.scoped]] localCheckpoint;
  *  3. per-partition cumulative counts + O(columns × partitions)
  *     driver-side prefix offsets (the [[DriftExact.ksStats]] /
  *     [[graft.pipeline.Packing.withOffsets]] two-pass prefix-sum
  *     shape);
  *  4. the two order statistics bracketing each requested rank are
  *     pulled with a broadcast semi-join of the (column, k) targets —
  *     O(columns × ranks) rows to the driver, then type-7 interpolation
  *     `(1−f)·v₁ + f·v₂` with `f = h − ⌊h⌋` — the exact float form
  *     DuckDB's `quantile_cont` evaluates (verified empirically; Spark's
  *     `percentile` computes `(⌈h⌉−h)·v₁ + (h−⌊h⌋)·v₂`, which can differ
  *     from this by 1 ulp).
  */
object ExactQuantiles {

  /** Exact quantiles of each column at each rank (0 ≤ r ≤ 1), all
    * columns in ONE input scan. Nulls/NaNs excluded. Returns
    * column → rank-aligned values; a column with no non-null values maps
    * to an empty Seq. */
  def quantiles(
      df: DataFrame, valueCols: Seq[String], ranks: Seq[Double])
      : Map[String, Seq[Double]] = {
    require(valueCols.nonEmpty, "quantiles needs at least one column")
    // NOT widened (r20): a pre-aggregation repartition ships every raw
    // exploded (c, v) row and loses the map-side combine that collapses
    // them to distinct pairs BEFORE any exchange (guide §2.3 "aggregate
    // before you shuffle") — measured 1.2-2.5 s SLOWER per query at
    // sf0.1 across the quantile/drift family when tried.
    val got = Checkpoint.scoped(weightedTable(melted(df, valueCols), keepNaN = false))(
      weightedQuantiles(_, ranks))
    valueCols.map(c => c -> got.getOrElse(c, Seq.empty)).toMap
  }

  /** Exact quantiles of `valueCol` PER GROUP (`keyCol` rendered as
    * string), same machinery with the group key in the role the column
    * name plays in [[quantiles]] — one scan for every segment, bounded
    * state everywhere. Groups with no non-null values are absent. */
  def quantilesByKey(
      df: DataFrame, keyCol: org.apache.spark.sql.Column, valueCol: String,
      ranks: Seq[Double]): Map[String, Seq[Double]] = {
    val tagged = df
      .select(keyCol.cast("string").as("__c"),
        F.col(valueCol).cast("double").as("__v"), F.lit(1L).as("__n"))
      .filter(F.col("__c").isNotNull)
    Checkpoint.scoped(weightedTable(tagged, keepNaN = false))(weightedQuantiles(_, ranks))
  }

  /** Melt `valueCols` into weighted (__c = column name, __v = value as
    * double, __n = 1) rows, so ONE scan feeds every column's table. */
  private[analysis] def melted(df: DataFrame, valueCols: Seq[String]): DataFrame = {
    val pair = F.explode(F.array(valueCols.map(c =>
      F.struct(F.lit(c).as("c"), F.col(c).cast("double").as("v"))): _*)).as("__p")
    df.select(pair).select(F.col("__p.c").as("__c"),
      F.col("__p.v").as("__v"), F.lit(1L).as("__n"))
  }

  /** The per-(key, value) weighted table behind the machinery:
    * `rows` = (__c string, __v double, __n long) — per-row weights,
    * `lit(1L)` for raw data — map-side combined to per-distinct-value
    * weight sums (the only corpus-sized exchange), range-partitioned
    * and in-partition sorted by (__c, __v), partition-stamped; lazy —
    * the caller pins it. With `keepNaN = true`, NaN values survive as their own
    * (last-ordered) group so value-universe consumers that must count
    * them (fence-count passes over the same scan — [[Outliers]]) can;
    * quantile math must then exclude them ([[weightedQuantiles]]
    * requires a NaN-free frame). NULLs always drop. */
  private[analysis] def weightedTable(
      rows: DataFrame, keepNaN: Boolean): DataFrame = {
    val keep =
      if (keepNaN) F.col("__v").isNotNull
      else F.col("__v").isNotNull && !F.isnan(F.col("__v"))
    rows.filter(keep)
      .groupBy("__c", "__v").agg(F.sum("__n").as("__n"))
      .repartitionByRange(F.col("__c"), F.col("__v"))
      .sortWithinPartitions("__c", "__v")
      .withColumn("__pid", F.spark_partition_id())
  }

  /** `g` (a pinned [[weightedTable]]) with `__below`, the weight of its
    * key's values below each row's, and each key's total weight; prefix
    * offsets from ONE collected per-(key, partition) aggregate. */
  private def withBelow(g: DataFrame): (DataFrame, Map[String, Long]) = {
    val totals = g.groupBy("__c", "__pid").agg(F.sum("__n").as("t"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val bases = totals.groupBy(_._1).toSeq.flatMap { case (c, ts) =>
      var acc = 0L
      ts.sortBy(_._2).map { case (_, pid, t) =>
        val row = (c, pid, acc); acc += t; row
      }
    }
    val spark = g.sparkSession
    import spark.implicits._
    val baseDf = bases.toDF("__c2", "__pid2", "__base")
    val w = Window.partitionBy("__c", "__pid").orderBy("__v")
    val below = g.join(F.broadcast(baseDf),
        F.col("__c") === F.col("__c2") && F.col("__pid") === F.col("__pid2"))
      .withColumn("__below",
        F.coalesce(F.sum("__n").over(w) - F.col("__n"), F.lit(0L)) + F.col("__base"))
    (below, totals.groupBy(_._1).map { case (c, ts) => c -> ts.map(_._3).sum })
  }

  /** Rank-aligned exact weighted quantiles over a [[weightedTable]]
    * frame (or any NaN-free filtered view of one — the prefix-sum
    * machinery only needs rows sorted by __v within each (__c, __pid)
    * and per-(__c, __pid) totals, both invariant under row filtering).
    * Runs two jobs over `g`, so `g` must be pinned (by the caller). */
  private[analysis] def weightedQuantiles(
      g: DataFrame, ranks: Seq[Double]): Map[String, Seq[Double]] = {
    require(ranks.nonEmpty && ranks.forall(r => r >= 0.0 && r <= 1.0),
      s"ranks must be within [0, 1]: $ranks")
    val (below, ns) = withBelow(g)
    // 1-based ranks of the two order statistics bracketing each
    // requested quantile: h = r·(n−1) (type-7), k = ⌊h⌋+1 and ⌈h⌉+1
    val keys = ns.keys.toSeq.sorted
    val targets = keys.flatMap { c =>
      ns.get(c).toSeq.filter(_ > 0).flatMap { n =>
        ranks.flatMap { r =>
          val h = r * (n - 1).toDouble
          Seq(math.floor(h).toLong + 1L, math.ceil(h).toLong + 1L)
        }.distinct.map(k => (c, k))
      }
    }
    if (targets.isEmpty) return Map.empty
    val spark = g.sparkSession
    import spark.implicits._
    val tgtDf = targets.toDF("__c3", "__k")
    // a value covers ranks (below, below + n]; each target k hits exactly one
    val hit = below
      .join(F.broadcast(tgtDf), F.col("__c") === F.col("__c3") &&
        F.col("__k") > F.col("__below") &&
        F.col("__k") <= F.col("__below") + F.col("__n"))
      .select(F.col("__c"), F.col("__k"), F.col("__v"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    keys.map { c =>
      val qs = ns.get(c).filter(_ > 0).map { n =>
        ranks.map { r =>
          val h = r * (n - 1).toDouble
          val v1 = hit((c, math.floor(h).toLong + 1L))
          val v2 = hit((c, math.ceil(h).toLong + 1L))
          val f = h - math.floor(h)
          (1.0 - f) * v1 + f * v2
        }
      }.getOrElse(Seq.empty)
      c -> qs
    }.toMap
  }

  /** Exact percent-rank per DISTINCT value — global ranking WITHOUT a
    * global sort: the naive `percent_rank() OVER (ORDER BY v)` plans
    * an unpartitioned window that funnels the entire table through ONE
    * task; this formulation reduces to per-value counts (map-side
    * combined), range-partitions the value table so each partition
    * sorts locally, and turns per-partition totals (collected — one
    * row per partition, driver-bounded) into prefix-sum bases, exactly
    * the [[quantiles]] machinery. Returns
    * `(value, n_below, pct_rank = n_below / (n − 1))` per distinct
    * value — SQL `percent_rank` semantics (ties share the rank of
    * their first row). Join it back to rows by value for a per-row
    * relative score; the join side is DISTINCT values, not rows.
    * NULL/NaN excluded; a single-value column gets pct_rank 0. */
  def percentRanks(df: DataFrame, valueCol: String): DataFrame =
    percentRanksMulti(df, Seq(valueCol))
      .select("value", "n_below", "pct_rank")

  /** Multi-column [[percentRanks]] from ONE scan: the k columns melt
    * into `(column, value)` pairs map-side, count per distinct pair,
    * range-partition on `(column, value)` — so one shuffle orders
    * EVERY column's value table at once, the same batching as
    * [[quantiles]] — and the collected per-(column, partition) totals
    * (bounded: partitions × k rows) become per-column prefix bases.
    * One scan and one range exchange total, where k separate calls pay
    * k of each. Returns `(feature, value, n_value, n_below, pct_rank)`
    * per distinct (column, value) — `n_value` the exact tie count, so
    * midranks (`n_below + (n_value+1)/2`, what [[DataAudit.spearmanCorr]]
    * consumes doubled) come for free; per-column denominators ride a
    * broadcast of k rows. The result reads the value table's checkpoint,
    * pinned for the session unless the caller releases the result. */
  def percentRanksMulti(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val g = weightedTable(melted(df, cols), keepNaN = false).localCheckpoint(false)
    val (below, ns) = withBelow(g)
    cols.foreach(c => require(ns.getOrElse(c, 0L) > 0,
      s"no non-null values in $c"))
    val spark = df.sparkSession
    import spark.implicits._
    val nDf = ns.toSeq.map { case (c, n) =>
      (c, math.max(n - 1L, 1L).toDouble) }.toDF("__c3", "__den")
    below.join(F.broadcast(nDf), F.col("__c") === F.col("__c3"))
      .select(F.col("__c").as("feature"), F.col("__v").as("value"),
        F.col("__n").as("n_value"), F.col("__below").as("n_below"),
        (F.col("__below").cast("double") / F.col("__den")).as("pct_rank"))
  }

  /** Quantile (equal-frequency) binning — the feature-discretization
    * pass: cut points are EXACT order statistics from [[quantiles]],
    * assignment is a literal CASE over them, and the output is the
    * per-bin summary `(bin, n, v_min, v_max)` with exact counts and
    * picked (never blended) extremes. Values ≤ the i-th cut point land
    * in bin i; NULL/NaN rows are excluded.
    *
    * Scale: the quantile pass is the module's one-scan distributed
    * order-statistics machinery; binning is then a map-only CASE and
    * ONE ≤ (ranks+1)-key groupBy. With integer-valued columns the
    * type-7 interpolation is exact in binary64, so the cut points —
    * and therefore every assignment — replay bit-for-bit in any
    * engine's `quantile_cont`. */
  def quantileBins(df: DataFrame, valueCol: String,
      ranks: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    val qs = quantiles(df, Seq(valueCol), ranks)(valueCol)
    require(qs.nonEmpty, s"no non-null values in $valueCol")
    val v = F.col(valueCol).cast("double")
    val bin = qs.zipWithIndex.reverse.foldLeft(F.lit(qs.length).cast("int")) {
      case (acc, (q, i)) => F.when(v <= F.lit(q), F.lit(i)).otherwise(acc)
    }
    df.filter(v.isNotNull && !F.isnan(v))
      .select(bin.as("bin"), v.as("__v"))
      .groupBy("bin")
      .agg(F.count(F.lit(1)).as("n"), F.min("__v").as("v_min"),
        F.max("__v").as("v_max"))
  }
}
