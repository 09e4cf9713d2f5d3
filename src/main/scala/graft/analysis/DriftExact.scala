package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

import graft.core.Checkpoint

/** Exact (sketch-free) drift statistics computed distributed over the raw
  * column, complementing the profile-vs-profile path in [[Drift]] (which
  * works over two collected KB-scale sketch profiles and never rescans the
  * input). Use these when the two samples are co-resident in one table and
  * an EXACT statistic is wanted — validation runs, oracle checks, or
  * auditing the sketch path's error.
  *
  * Numeric parity by construction: [[ksStat]] stays in 64-bit integer
  * arithmetic until a single final division, so any engine computing the
  * same definition (e.g. the DuckDB oracle) produces the bit-identical
  * double; [[hellingerStat]] accumulates its ≤ nBins per-bin terms in
  * ascending bin order so the float sum order is pinned (same trick as the
  * `drift_chi2_stat` oracle).
  */
object DriftExact {

  /** Exact two-sample Kolmogorov–Smirnov statistic
    * D = sup_x |F_target(x) − F_ref(x)| between the rows where `isTarget`
    * holds and the rest, over non-null `valueCol`. Returns (D, nTarget,
    * nRef).
    *
    * Sketch-free analogue of [[Drift.ks]] (reference
    * `python/whylogs/viz/drift/column_drift_algorithms.py:339-363`, which
    * evaluates the two KLL CDFs on a quantile grid); here both ECDFs are
    * evaluated at every distinct value, where all suprema of the step
    * functions occur, so D is exact.
    *
    * Distributed shape — no global-sort window (a bare
    * `Window.orderBy` collapses to ONE partition and dies at scale):
    *  1. one map-side-combined groupBy(value) exchange → exact per-value
    *     counts for both samples (the only corpus-sized shuffle), pinned
    *     with a localCheckpoint whose exact row count picks the finish;
    *  2. at most [[LocalPairBound]] distinct pairs (a monitoring batch,
    *     a segment table) are collected and finished on the driver: per
    *     key, a sort in Spark's double order (NaN last; −0.0 was already
    *     folded into 0.0 by the groupBy) and one integer running-sum
    *     scan — no sampling, range exchange or window jobs;
    *  3. above the bound, `repartitionByRange(value)` of the checkpointed
    *     distinct values, itself pinned with a localCheckpoint so both
    *     passes see identical splits, then per-partition cumulative sums
    *     + O(numPartitions) driver-side prefix offsets broadcast back
    *     (same two-pass prefix-sum shape as
    *     [[graft.pipeline.Packing.withOffsets]]);
    *  4. either way D's numerator max|cumT·nRef − cumR·nTarget| stays
    *     integral until ONE final division, so both finishes return the
    *     bit-identical double — exact while nTarget·nRef fits a long
    *     (both ≲ 3·10⁹; beyond that use the sketch path [[Drift.ks]],
    *     whose error is then far below any decision threshold anyway).
    *
    * Eager: the call runs its Spark jobs before returning (the result is
    * a driver-side map) and releases both checkpoints on the way out.
    */
  def ksStat(df: DataFrame, valueCol: String, isTarget: Column): (Double, Long, Long) =
    ksStats(df, Seq(valueCol), isTarget)(valueCol)

  /** Distinct (key, value) pair ceiling for [[ksStat]]'s driver-side
    * finish — the same rationale as `ConnectedComponents.LocalEdgeBound`:
    * the collected rows and their per-key sort are a few tens of MB of
    * driver memory at worst, far past any monitoring batch and far below
    * a corpus-scale column, which keeps the distributed prefix sums. */
  private[graft] val LocalPairBound: Long = 200000L

  /** [[ksStat]] over N columns in ONE input scan: the (column, value)
    * pairs are exploded into a single keyed relation, so profiling drift
    * across a wide table costs one pass over the data plus one exchange
    * of the distinct (column, value) pairs — not one scan per column.
    * The prefix sums run per column: range partitioning on
    * (column, value) keeps each column's values ordered, the in-partition
    * window and the driver-side offset scan are both keyed by column.
    * Values are compared as doubles (KS needs only their order; for
    * integral columns beyond 2^53 use a per-column [[ksStat]] on the raw
    * type). */
  def ksStats(df: DataFrame, valueCols: Seq[String], isTarget: Column)
      : Map[String, (Double, Long, Long)] =
    ksStats(df, valueCols, isTarget, LocalPairBound)

  /** [[ksStats]] with an explicit driver-finish bound (0 forces the
    * distributed prefix sums). */
  private[graft] def ksStats(
      df: DataFrame, valueCols: Seq[String], isTarget: Column, localPairBound: Long)
      : Map[String, (Double, Long, Long)] = {
    require(valueCols.nonEmpty, "ksStats needs at least one column")
    val pair = F.explode(F.array(valueCols.map(c =>
      F.struct(F.lit(c).as("c"), F.col(c).cast("double").as("v"))): _*)).as("__p")
    val ca = F.when(isTarget, 1L).otherwise(0L)
    // Two-exchange shape, deliberately: hash groupBy (with map-side
    // combine) THEN range repartition of the ~distinct pairs. The
    // one-exchange alternative (repartitionByRange first — range
    // partitioning satisfies the groupBy's clustering requirement) was
    // measured 20% SLOWER at sf0.1: it ships every raw (c, v) row and
    // loses the partial aggregation, which outweighs the saved small
    // exchange — and the gap only widens with heavier ties.
    val prepared = df.select(pair, ca.as("__ca"))
      .select(F.col("__p.c").as("__c"), F.col("__p.v").as("__v"),
        F.col("__ca"), (F.lit(1L) - F.col("__ca")).as("__cb"))
    ksCore(prepared, valueCols, localPairBound)
  }

  /** [[ksStat]] per KEY — exact KS between the target/ref slices WITHIN
    * each key group (e.g. a segment column), every group in the same one
    * scan + two bounded exchanges as [[ksStats]]: the group key simply
    * takes the role the column name plays there, so per-segment drift of
    * a million-segment table costs one pass, not one query per segment.
    * NULL keys are dropped (they are no segment). */
  def ksStatsByKey(
      df: DataFrame, key: Column, valueCol: String, isTarget: Column)
      : Map[String, (Double, Long, Long)] =
    ksStatsByKey(df, key, valueCol, isTarget, LocalPairBound)

  /** [[ksStatsByKey]] with an explicit driver-finish bound (0 forces the
    * distributed prefix sums). */
  private[graft] def ksStatsByKey(
      df: DataFrame, key: Column, valueCol: String, isTarget: Column,
      localPairBound: Long): Map[String, (Double, Long, Long)] =
    ksCore(keyedValues(df, key, valueCol, isTarget), Nil, localPairBound)

  /** The per-key stats' input: (__c key as a string, __v value as a
    * double, __ca / __cb target and reference indicators), NULL keys
    * dropped (they are no segment). */
  private def keyedValues(
      df: DataFrame, key: Column, valueCol: String, isTarget: Column): DataFrame =
    df.select(key.cast("string").as("__c"),
        F.col(valueCol).cast("double").as("__v"),
        F.when(isTarget, 1L).otherwise(0L).as("__ca"))
      .filter(F.col("__c").isNotNull)
      .withColumn("__cb", F.lit(1L) - F.col("__ca"))

  /** Shared ECDF-supremum core: `prepared` carries (__c key, __v value,
    * __ca, __cb). `wantKeys` fixes the output key set ([[ksStats]]
    * reports every requested column); empty ⇒ the keys found in the data
    * ([[ksStatsByKey]]). */
  private def ksCore(
      prepared: DataFrame, wantKeys: Seq[String], localPairBound: Long)
      : Map[String, (Double, Long, Long)] = {
    // NOT widened (r20): a pre-aggregation repartition ships every raw
    // (c, v) row and loses the map-side combine (guide §2.3) — measured
    // slower at sf0.1, same finding as the file's two-exchange note above.
    Checkpoint.scoped(prepared
      .filter(F.col("__v").isNotNull)
      .groupBy("__c", "__v")
      .agg(F.sum("__ca").as("__ca"), F.sum("__cb").as("__cb"))) { pairs =>
      // an RDD count is one job with no exchange (Dataset.count plans an
      // aggregate shuffle) and it materializes the lazy checkpoint, so
      // either finish reads the pinned pairs, never the input again
      val (ns, nums) =
        if (pairs.rdd.count() <= localPairBound) localNumerators(pairs)
        else distributedNumerators(pairs)
      val outKeys = if (wantKeys.nonEmpty) wantKeys else ns.keys.toSeq.sorted
      outKeys.map { c =>
        val (na, nb) = ns.getOrElse(c, (0L, 0L))
        val d = if (na == 0L || nb == 0L) 0.0
          else nums(c).toDouble / (na * nb).toDouble
        c -> ((d, na, nb))
      }.toMap
    }
  }

  private def requireExactProducts(ns: Map[String, (Long, Long)]): Unit =
    ns.foreach { case (c, (na, nb)) =>
      require(na == 0L || nb == 0L || na <= Long.MaxValue / nb,
        s"$c: nTarget*nRef overflows long ($na * $nb); use Drift.ks (sketch path)")
    }

  /** Driver finish over the collected distinct pairs: per key (nTarget,
    * nRef) and the integral D numerator max|cumA·nb − cumB·na|. */
  private def localNumerators(pairs: DataFrame)
      : (Map[String, (Long, Long)], Map[String, Long]) = {
    val byKey = pairs.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val ns = byKey.map { case (c, rows) => c -> ((rows.map(_._3).sum, rows.map(_._4).sum)) }
    requireExactProducts(ns)
    val nums = byKey.map { case (c, rows) =>
      val (na, nb) = ns(c)
      var cumA = 0L; var cumB = 0L; var num = 0L
      // TotalOrdering is Spark's double order on grouped values: NaN last
      rows.sortBy(_._2)(Ordering.Double.TotalOrdering).foreach { case (_, _, a, b) =>
        cumA += a; cumB += b
        num = math.max(num, math.abs(cumA * nb - cumB * na))
      }
      c -> num
    }
    (ns, nums)
  }

  /** Distributed finish: range-partitioned prefix sums over the distinct
    * pairs with O(keys × partitions) offsets computed on the driver. */
  private def distributedNumerators(pairs: DataFrame)
      : (Map[String, (Long, Long)], Map[String, Long]) = {
    Checkpoint.scoped(pairs
      .repartitionByRange(F.col("__c"), F.col("__v"))
      .sortWithinPartitions("__c", "__v")
      .withColumn("__pid", F.spark_partition_id())) { g =>
      val totals = g.groupBy("__c", "__pid")
        .agg(F.sum("__ca").as("ta"), F.sum("__cb").as("tb"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2))
      val ns = totals.groupBy(_._1).map { case (c, ts) =>
        c -> ((ts.map(_._3).sum, ts.map(_._4).sum))
      }
      requireExactProducts(ns)
      // per-(column, partition) prefix offsets — O(columns × partitions)
      val bases = totals.groupBy(_._1).toSeq.flatMap { case (c, ts) =>
        var accA = 0L; var accB = 0L
        ts.sortBy(_._2).map { case (_, pid, ta, tb) =>
          val row = (c, pid, accA, accB, ns(c)._1, ns(c)._2)
          accA += ta; accB += tb; row
        }
      }
      val spark = pairs.sparkSession
      import spark.implicits._
      val baseDf = bases.toDF("__c2", "__pid2", "__baseA", "__baseB", "__na", "__nb")
      val w = Window.partitionBy("__c", "__pid").orderBy("__v")
      val nums = g.join(F.broadcast(baseDf),
          F.col("__c") === F.col("__c2") && F.col("__pid") === F.col("__pid2"))
        .select(F.col("__c"), F.col("__na"), F.col("__nb"),
          (F.sum("__ca").over(w) + F.col("__baseA")).as("__cca"),
          (F.sum("__cb").over(w) + F.col("__baseB")).as("__ccb"))
        .groupBy("__c")
        .agg(F.max(F.abs(F.col("__cca") * F.col("__nb") -
          F.col("__ccb") * F.col("__na"))).as("num"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      (ns, nums)
    }
  }

  /** Exact Hellinger distance between the target/ref samples' histograms
    * on a fixed-width `nBins` grid spanning the pooled [min, max]:
    * H = sqrt( Σ_bins (√p_i − √q_i)² / 2 ), the same accumulation form as
    * [[Drift.hellinger]] (reference `column_drift_algorithms.py:436-455`
    * territory) with exact bin counts in place of the two KLL PMFs.
    * Returns (H, nTarget, nRef).
    *
    * Binning is `min(floor((v − lo) / width), nBins−1)` with
    * `width = (hi − lo) / nBins` — a single fp formula both engines
    * evaluate identically (the sketch path's split grid
    * `lo + (hi−lo)·i/n` can differ from this by one ulp AT bin
    * boundaries; this variant defines the boundary arithmetic, it does
    * not chase the sketch's). Empty-in-both bins contribute 0 and are
    * simply absent from the groupBy. One full-column pass for
    * (min, max), one map-side-combined groupBy(bin) exchange whose
    * result is ≤ nBins rows; the ≤ nBins per-bin terms are summed
    * driver-side in ascending bin order.
    */
  def hellingerStat(
      df: DataFrame, valueCol: String, isTarget: Column,
      nBins: Int = 30): (Double, Long, Long) =
    hellingerStats(df, Seq(valueCol), isTarget, nBins)(valueCol)

  /** [[hellingerStat]] over N columns in TWO input scans total (one for
    * the per-column (min, max, n) envelope, one for the bin counts) —
    * not two per column. Each column's (lo, width) rides a broadcast
    * join keyed by column name; the collected result is ≤ N·nBins rows
    * and the ≤ nBins terms per column are summed in ascending bin order
    * driver-side. */
  def hellingerStats(
      df: DataFrame, valueCols: Seq[String], isTarget: Column,
      nBins: Int = 30): Map[String, (Double, Long, Long)] =
    binnedStats(df, valueCols, isTarget, nBins) { (counts, na, nb) =>
      var acc = 0.0
      counts.foreach { case (_, ca, cb) =>
        val d = math.sqrt(ca.toDouble / na) - math.sqrt(cb.toDouble / nb)
        acc += d * d
      }
      math.sqrt(acc / 2.0)
    }

  /** Population Stability Index over the same exact fixed-width bins as
    * [[hellingerStat]]: Σ (pₐ−p_b)·ln(pₐ/p_b) with both proportions
    * floored at `eps` (the conventional smoothing so a bin empty on one
    * side contributes a finite term; a bin empty on BOTH sides
    * contributes exactly 0 and its absence from the groupBy is
    * harmless). PSI is the model-monitoring industry's third drift
    * lens next to KS and Hellinger (< 0.1 stable / 0.1–0.25 drifting /
    * > 0.25 shifted, Siddiqi 2006); the reference stops at its
    * KS/χ²/Hellinger trio so this is a completion, not a port.
    * Returns column → (psi, nTarget, nRef). */
  def psiStats(
      df: DataFrame, valueCols: Seq[String], isTarget: Column,
      nBins: Int = 30, eps: Double = 1e-4): Map[String, (Double, Long, Long)] =
    binnedStats(df, valueCols, isTarget, nBins)(psiFold(eps))

  /** Jensen–Shannon divergence (nats) over the same exact fixed-width
    * bins as [[psiStats]]: JSD = ½·KL(p‖m) + ½·KL(q‖m) with
    * m = (p+q)/2 — symmetric, bounded by ln 2, and needs no eps floor
    * (a bin empty on one side contributes only the other side's term;
    * empty-on-both bins contribute 0). Terms fold in ascending-bin
    * order, `acc += ta + tb` per bin, with ln floored at 1e-9 — the
    * cross-libm bridge (JVM Math.log and glibc measurably differ by an
    * ulp on some arguments), so a SQL oracle replays the fold
    * bit-for-bit. Returns column → (jsd, nTarget, nRef). */
  def jsdStats(
      df: DataFrame, valueCols: Seq[String], isTarget: Column,
      nBins: Int = 30): Map[String, (Double, Long, Long)] =
    binnedStats(df, valueCols, isTarget, nBins)(jsdFold)

  /** Normalized grid Earth-Mover's (Wasserstein-1) distance over the
    * same exact fixed-width bins: Σ over bins of |cdfA − cdfB|, divided
    * by nBins — 0 for identical histograms, → 1 as the distributions
    * concentrate at opposite grid ends. Unlike KS (a max), EMD sees the
    * WHOLE transport cost, so a small shift of much mass and a large
    * shift of little mass score differently.
    *
    * Exactness: the fold keeps integer cumulative counts and compares
    * `cumA·nb − cumB·na` (exact cross-multiplied CDF difference — no
    * float until ONE final division), so any engine replays it
    * bit-for-bit with no libm or summation-order caveats. Empty bins
    * still contribute their |cum| term (the CDF gap persists across
    * them). Long arithmetic holds to ~3·10⁹ rows per side; past that,
    * swap the fold to BigInt (driver-side, ≤ nBins terms).
    * Returns column → (emd, nTarget, nRef). */
  def emdStats(
      df: DataFrame, valueCols: Seq[String], isTarget: Column,
      nBins: Int = 30): Map[String, (Double, Long, Long)] =
    binnedStats(df, valueCols, isTarget, nBins)(emdFold(nBins))

  /** PSI over REFERENCE-QUANTILE bins — the industry-standard PSI
    * configuration (equal-population bins frozen on the reference
    * distribution, so every bin carries signal; fixed-width bins
    * concentrate mass in a few bins on skewed data and mute the score).
    * Bin edges are the reference slice's exact `1/nBins … (nBins−1)/nBins`
    * quantiles via [[ExactQuantiles]] (distributed, bounded state);
    * bin(v) = #edges ≤ v is a map-only comparison chain; counts are one
    * map-side-combined groupBy; the ≤ N·nBins collected terms fold in
    * ascending bin order. Duplicate edges (heavy ties) leave some bins
    * structurally empty — they contribute 0, and the eps floor keeps
    * one-sided bins finite. Returns column → (psi, nTarget, nRef). */
  def psiQuantileStats(
      df: DataFrame, valueCols: Seq[String], isTarget: Column,
      nBins: Int = 10, eps: Double = 1e-4): Map[String, (Double, Long, Long)] = {
    require(nBins >= 2, s"need at least 2 quantile bins: $nBins")
    require(valueCols.nonEmpty, "psiQuantileStats needs at least one column")
    val ranks = (1 until nBins).map(_.toDouble / nBins)
    val edges = ExactQuantiles.quantiles(df.filter(!isTarget), valueCols, ranks)
    val pair = F.explode(F.array(valueCols.map { c =>
      val v = F.col(c).cast("double")
      val bin = edges(c).foldLeft(F.lit(0L)) { (acc, e) =>
        acc + F.when(v >= F.lit(e), 1L).otherwise(0L)
      }
      F.struct(F.lit(c).as("c"), v.as("v"), bin.as("b"))
    }: _*)).as("__p")
    val ca = F.when(isTarget, 1L).otherwise(0L)
    val counts = df.select(pair, ca.as("__ca"))
      .select(F.col("__p.c").as("__c"), F.col("__p.v").as("__v"),
        F.col("__p.b").as("__b"), F.col("__ca"),
        (F.lit(1L) - F.col("__ca")).as("__cb"))
      .filter(F.col("__v").isNotNull)
      .groupBy("__c", "__b")
      .agg(F.sum("__ca").as("ca"), F.sum("__cb").as("cb"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byCol = counts.groupBy(_._1)
    valueCols.map { c =>
      val rows = byCol.getOrElse(c, Array.empty).sortBy(_._2)
      val na = rows.map(_._3).sum
      val nb = rows.map(_._4).sum
      val psi = if (na == 0L || nb == 0L) 0.0
        else psiFold(eps)(rows.map(r => (r._2, r._3, r._4)), na, nb)
      c -> ((psi, na, nb))
    }.toMap
  }

  /** PSI per KEY (e.g. a segment column) over per-key fixed-width bins —
    * the PSI member of the segmented-drift trio with [[ksStatsByKey]]
    * (each key gets ITS OWN [min, max] envelope, as running each column
    * separately would). Same two-scan shape as [[psiStats]]; the driver
    * holds ≤ keys×nBins rows, so `maxSegments` refuses an id-like key
    * column instead of collecting it. NULL keys are dropped. */
  def psiStatsByKey(
      df: DataFrame, key: Column, valueCol: String, isTarget: Column,
      nBins: Int = 30, eps: Double = 1e-4,
      maxSegments: Int = 10000): Map[String, (Double, Long, Long)] =
    binnedCore(keyedValues(df, key, valueCol, isTarget), Nil, nBins, maxSegments)(psiFold(eps))

  /** Per-segment [[jsdStats]]: one (segment, bin) exchange, each
    * segment's own (min, max) envelope, same quantized-ln fold. */
  def jsdStatsByKey(
      df: DataFrame, key: Column, valueCol: String, isTarget: Column,
      nBins: Int = 30, maxSegments: Int = 10000): Map[String, (Double, Long, Long)] =
    binnedCore(keyedValues(df, key, valueCol, isTarget), Nil, nBins, maxSegments)(jsdFold)

  /** Per-segment [[emdStats]]: same integer cross-multiplied CDF fold,
    * one (segment, bin) exchange, per-segment envelopes. */
  def emdStatsByKey(
      df: DataFrame, key: Column, valueCol: String, isTarget: Column,
      nBins: Int = 30, maxSegments: Int = 10000): Map[String, (Double, Long, Long)] =
    binnedCore(keyedValues(df, key, valueCol, isTarget), Nil, nBins, maxSegments)(emdFold(nBins))

  // The driver-side folds over one key's per-bin (bin, ca, cb) counts,
  // in ascending bin order, shared by the per-column and per-key stats.

  /** PSI: Σ (pₐ−p_b)·ln(pₐ/p_b), both proportions floored at `eps`. */
  private def psiFold(eps: Double)(counts: Array[(Long, Long, Long)], na: Long, nb: Long): Double = {
    var acc = 0.0
    counts.foreach { case (_, ca, cb) =>
      val pa = math.max(ca.toDouble / na, eps)
      val pb = math.max(cb.toDouble / nb, eps)
      acc += (pa - pb) * math.log(pa / pb)
    }
    acc
  }

  /** JSD: `acc += ta + tb` per bin, ln floored at 1e-9. */
  private def jsdFold(counts: Array[(Long, Long, Long)], na: Long, nb: Long): Double = {
    def lnq(x: Double): Double = math.floor(math.log(x) * 1e9) / 1e9
    var acc = 0.0
    counts.foreach { case (_, ca, cb) =>
      val pa = ca.toDouble / na
      val pb = cb.toDouble / nb
      val m = (pa + pb) / 2
      val ta = if (pa > 0) 0.5 * (pa * lnq(pa / m)) else 0.0
      val tb = if (pb > 0) 0.5 * (pb * lnq(pb / m)) else 0.0
      acc += ta + tb
    }
    acc
  }

  /** EMD: integer cross-multiplied CDF gaps over all `nBins` bins
    * (empty ones included), one final division. */
  private def emdFold(nBins: Int)(counts: Array[(Long, Long, Long)], na: Long, nb: Long): Double = {
    val byBin = counts.map(t => t._1 -> ((t._2, t._3))).toMap
    var cumA = 0L
    var cumB = 0L
    var acc = 0L
    (0L until nBins.toLong).foreach { b =>
      val (ca, cb) = byBin.getOrElse(b, (0L, 0L))
      cumA += ca
      cumB += cb
      acc += math.abs(cumA * nb - cumB * na)
    }
    acc.toDouble / (na.toDouble * nb.toDouble * nBins.toDouble)
  }

  /** Shared exact-binning core of [[hellingerStats]] / [[psiStats]]:
    * two input scans total (per-column (min, max, n) envelope, then bin
    * counts), each column's (lo, width) on a broadcast join, ≤ N·nBins
    * rows collected, and `statOf(binCounts, na, nb)` folded over the
    * per-bin (bin, ca, cb) triples in ascending bin order driver-side
    * so the float accumulation order is deterministic. */
  private def binnedStats(
      df: DataFrame, valueCols: Seq[String], isTarget: Column,
      nBins: Int)(
      statOf: (Array[(Long, Long, Long)], Long, Long) => Double)
      : Map[String, (Double, Long, Long)] = {
    require(valueCols.nonEmpty, "binned drift stats need at least one column")
    val pair = F.explode(F.array(valueCols.map(c =>
      F.struct(F.lit(c).as("c"), F.col(c).cast("double").as("v"))): _*)).as("__p")
    val prepared = df.select(pair, F.when(isTarget, 1L).otherwise(0L).as("__ca"))
      .select(F.col("__p.c").as("__c"), F.col("__p.v").as("__v"),
        F.col("__ca"), (F.lit(1L) - F.col("__ca")).as("__cb"))
    binnedCore(prepared, valueCols, nBins, valueCols.size)(statOf)
  }

  /** Shared per-key exact-binning core: `prepared` carries (__c key,
    * __v value, __ca, __cb); each key gets its own (min, max) envelope.
    * `wantKeys` fixes the output key set (empty ⇒ keys found in the
    * data); `maxKeys` bounds the driver-side envelope collect. */
  private def binnedCore(
      prepared: DataFrame, wantKeys: Seq[String], nBins: Int, maxKeys: Int)(
      statOf: (Array[(Long, Long, Long)], Long, Long) => Double)
      : Map[String, (Double, Long, Long)] = {
    require(nBins > 0, s"nBins must be positive: $nBins")
    val x = prepared.filter(F.col("__v").isNotNull)
    val headRows = x.groupBy("__c").agg(
      F.min("__v").as("lo"), F.max("__v").as("hi"),
      F.sum("__ca").as("na"), F.sum("__cb").as("nb"))
      .take(maxKeys + 1)
    require(headRows.length <= maxKeys,
      s"more than $maxKeys keys: not a segment column — pass a " +
        "bounded-cardinality column or raise the limit")
    val head = headRows.map(r =>
        r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .toMap
    val outKeys = if (wantKeys.nonEmpty) wantKeys else head.keys.toSeq.sorted
    val live = outKeys.filter(c => head.get(c).exists {
      case (lo, hi, na, nb) => na > 0L && nb > 0L && hi > lo
    })
    val binned: Map[String, Array[(Long, Long, Long)]] =
      if (live.isEmpty) Map.empty
      else {
        val spark = prepared.sparkSession
        import spark.implicits._
        val meta = live.map { c =>
          val (lo, hi, _, _) = head(c)
          (c, lo, (hi - lo) / nBins)
        }.toDF("__c2", "__lo", "__width")
        val bin = F.least(
          F.floor((F.col("__v") - F.col("__lo")) / F.col("__width")).cast("long"),
          F.lit(nBins - 1L))
        x.join(F.broadcast(meta), F.col("__c") === F.col("__c2"))
          .groupBy(F.col("__c"), bin.as("__bin"))
          .agg(F.sum("__ca").as("__ca"), F.sum("__cb").as("__cb"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .groupBy(_._1)
          .map { case (c, rows) =>
            c -> rows.map(t => (t._2, t._3, t._4)).sortBy(_._1)
          }
      }
    outKeys.map { c =>
      val (_, _, na, nb) = head.getOrElse(c, (0.0, 0.0, 0L, 0L))
      val h = binned.get(c).fold(0.0)(statOf(_, na, nb))
      c -> ((h, na, nb))
    }.toMap
  }

  /** Exact χ² drift over categorical columns: per-category counts for
    * every column in ONE map-side-combined groupBy (values stringified,
    * nulls excluded — matching the frequent-items sketch path, which
    * never tracks null), statistic and p-value via the shared
    * [[Drift.chiSquareCounts]] core. `maxCategories` bounds what the
    * driver will collect: a column with more distinct values than that
    * is not categorical, and at 100 TB collecting it would be the bug. */
  def chi2Stats(
      df: DataFrame, categoricalCols: Seq[String], isTarget: Column,
      maxCategories: Int = 10000): Map[String, (Double, Double)] = {
    require(categoricalCols.nonEmpty, "chi2Stats needs at least one column")
    val pair = F.explode(F.array(categoricalCols.map(c =>
      F.struct(F.lit(c).as("c"), F.col(c).cast("string").as("v"))): _*)).as("__p")
    val rows = df.select(pair, F.when(isTarget, 1L).otherwise(0L).as("__ca"))
      .select(F.col("__p.c").as("__c"), F.col("__p.v").as("__v"),
        F.col("__ca"), (F.lit(1L) - F.col("__ca")).as("__cb"))
      .filter(F.col("__v").isNotNull)
      .groupBy("__c", "__v")
      .agg(F.sum("__ca").as("__ca"), F.sum("__cb").as("__cb"))
      .take(maxCategories * categoricalCols.size + 1)
    require(rows.length <= maxCategories * categoricalCols.size,
      s"more than $maxCategories distinct values across ${categoricalCols.mkString(",")}: " +
        "not categorical — use the sketch path (Drift.scores over profiles)")
    val byCol = rows.map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).groupBy(_._1)
    categoricalCols.map { c =>
      val cs = byCol.getOrElse(c, Array.empty)
      // the pooled take above bounds the collect; this enforces the
      // not-categorical refusal PER COLUMN, so a single high-cardinality
      // column can't slip through by riding alongside low-cardinality ones
      require(cs.length <= maxCategories,
        s"column '$c' has ${cs.length} (> $maxCategories) distinct values: " +
          "not categorical — use the sketch path (Drift.scores over profiles)")
      c -> Drift.chiSquareCounts(
        cs.map(t => t._2 -> t._3).toMap.filter(_._2 > 0L),
        cs.map(t => t._2 -> t._4).toMap.filter(_._2 > 0L))
    }.toMap
  }

  /** Reference-shaped drift orchestration ([[Drift.scores]]'s output
    * contract: per column, KS + Hellinger for numeric, χ² for
    * categorical, same p-value formulas and category thresholds) computed
    * EXACTLY over raw co-resident data instead of two sketch profiles —
    * three scans of the pruned columns total regardless of column count.
    * Use the sketch path when target and ref were profiled separately or
    * the raw data is gone; use this one to validate it or when exactness
    * is the point. */
  def scores(
      df: DataFrame, isTarget: Column,
      numericCols: Seq[String], categoricalCols: Seq[String] = Nil)
      : Seq[Drift.DriftScore] = {
    val ks = if (numericCols.isEmpty) Map.empty[String, (Double, Long, Long)]
      else ksStats(df, numericCols, isTarget)
    val hl = if (numericCols.isEmpty) Map.empty[String, (Double, Long, Long)]
      else hellingerStats(df, numericCols, isTarget)
    val chi = if (categoricalCols.isEmpty) Map.empty[String, (Double, Double)]
      else chi2Stats(df, categoricalCols, isTarget)
    val numeric = numericCols.sorted.flatMap { c =>
      val (d, na, nb) = ks(c)
      val ksRow = if (na == 0L || nb == 0L) None else {
        val en = math.sqrt(na.toDouble * nb / (na.toDouble + nb))
        val p = Drift.kolmogorovSf((en + 0.12 + 0.11 / en) * d)
        Some(Drift.DriftScore(c, "ks", d, Some(p), Drift.pValueCategory(p)))
      }
      val (h, _, _) = hl(c)
      val hlRow = if (na == 0L || nb == 0L) None
        else Some(Drift.DriftScore(c, "hellinger", h, None, Drift.distanceCategory(h)))
      ksRow.toSeq ++ hlRow.toSeq
    }
    val categorical = categoricalCols.sorted.map { c =>
      val (stat, p) = chi(c)
      Drift.DriftScore(c, "chi2", stat, Some(p), Drift.pValueCategory(p))
    }
    numeric ++ categorical
  }

  /** Exact KS drift across CONSECUTIVE time windows — the reference's
    * monitoring loop (profile each batch, compare to the previous one;
    * `api/logger/rolling.py` + `viz/drift/column_drift_algorithms.py`)
    * collapsed into ONE distributed computation: every
    * (window, previous-window) pair's two-sample KS statistic over
    * `value`, in a single scan of the input regardless of timeline
    * length. Returns one row per window that has a non-empty
    * predecessor: (bucket, ks_stat, n_cur, n_prev).
    *
    * Shape: each row enters the pair it is "current" of and the pair it
    * is "previous" of — a 2-element explode, NOT a windows×data
    * self-join — then one map-side-combined groupBy((pair, value)) over
    * which the ECDFs are per-pair running sums. The window function
    * partitions BY PAIR (never the drift_ks_exact single-partition
    * trap): ordering within a pair streams one running count through a
    * spillable sort, so per-pair distinct-value cardinality bounds disk,
    * not memory. The D numerator max|cca·nb − ccb·na| stays integral
    * until one final division ⇒ bit-exact, DuckDB-reproducible (exact
    * while n_cur·n_prev fits a long, i.e. windows ≲ 3·10⁹ rows each —
    * beyond that use the sketch path over rolling profiles).
    *
    * `bucket` must map a row to its window's key (e.g.
    * `date_trunc("day", ts)`); `nextBucket` maps a window key to the
    * FOLLOWING window's key (e.g. `date_add(_, 1)`) — it defines
    * consecutiveness without materializing a window list. */
  def ksTimeline(
      df: DataFrame, bucket: Column, value: Column,
      nextBucket: Column => Column): DataFrame = {
    val base = df.filter(value.isNotNull)
      .select(bucket.as("__b"), value.cast("double").as("__v"))
    val exploded = base.select(
      F.explode(F.array(
        F.struct(F.col("__b").as("p"), F.lit(1L).as("ca"), F.lit(0L).as("cb")),
        F.struct(nextBucket(F.col("__b")).as("p"), F.lit(0L).as("ca"),
          F.lit(1L).as("cb")))).as("e"),
      F.col("__v"))
      .select(F.col("e.p").as("__p"), F.col("__v"),
        F.col("e.ca").as("__ca"), F.col("e.cb").as("__cb"))
    val g = exploded.groupBy("__p", "__v")
      .agg(F.sum("__ca").as("ca"), F.sum("__cb").as("cb"))
    val wOrd = Window.partitionBy("__p").orderBy("__v")
    // pair totals are the running sums' final values: max over an
    // UNBOUNDED window with the same partitioning — the second Window
    // rides the first one's exchange+sort, so totals cost no extra scan,
    // shuffle, or join (a groupBy-totals + join-back formulation
    // re-scanned the input and re-aggregated g a second time)
    val wAll = Window.partitionBy("__p")
    g.select(F.col("__p"),
        F.sum("ca").over(wOrd).as("cca"), F.sum("cb").over(wOrd).as("ccb"))
      .select(F.col("__p"), F.col("cca"), F.col("ccb"),
        F.max("cca").over(wAll).as("na"), F.max("ccb").over(wAll).as("nb"))
      .groupBy("__p", "na", "nb")
      .agg(F.max(F.abs(F.col("cca") * F.col("nb") -
        F.col("ccb") * F.col("na"))).as("num"))
      .filter(F.col("na") > 0 && F.col("nb") > 0)
      .select(F.col("__p").as("bucket"),
        (F.col("num").cast("double") /
          (F.col("na") * F.col("nb")).cast("double")).as("ks_stat"),
        F.col("na").as("n_cur"), F.col("nb").as("n_prev"))
  }

  /** EXACT Wilcoxon/Mann-Whitney RANK-SUM drift test, tie-corrected —
    * the nonparametric two-sample location test the KS/χ²/PSI family
    * lacks: "has the current sample shifted UP or DOWN relative to the
    * reference" with a signed z-score, robust to any monotone
    * transform of the column. All statistics are integer-exact:
    * `u2 = Σ_v cur(v)·(2·refBelow(v) + ref(v))` (= 2U, the
    * tie-corrected Mann-Whitney statistic — also 2·P·N·AUC, see
    * [[Roc]]), the tie term `tc = Σ_t (t³ − t)` over pooled tie groups
    * (ANSI BIGINTs: loud past t³ < 2⁶³ — a column degenerating to one
    * value at ~2M rows should fail, not silently z≈0), and the normal
    * approximation
    * `z = (u2 − P·N) / (2·√(P·N/12·((n+1) − tc/(n(n−1)))))` is one
    * fixed IEEE tree over them. `auc = u2/(2PN)` is the
    * common-language effect size (P(cur > ref) + ½P(=)). z is NULL
    * when a side is empty or every value ties.
    *
    * Scale shape: the k columns melt map-side into ONE
    * `groupBy(column, value)` histogram exchange (bounded by distinct
    * values), a column-partitioned cumulative window, and a bounded
    * groupBy — corpus rows never pass the first exchange, the same
    * discipline as [[Roc.rocAucBy]]. Output one row per column,
    * ordered. */
  def rankSumStats(df: DataFrame, valueCols: Seq[String],
      isTarget: Column): DataFrame = {
    require(valueCols.nonEmpty, "need at least one column")
    val entries = F.explode(F.array(valueCols.map(c =>
      F.struct(F.lit(c).as("c"), F.col(c).cast("double").as("v"))): _*)).as("e")
    val hist = df.select(entries, isTarget.cast("boolean").as("__t"))
      .select(F.col("e.c").as("column"), F.col("e.v").as("__v"), F.col("__t"))
      .filter(F.col("__v").isNotNull && !F.isnan(F.col("__v")) &&
        F.col("__t").isNotNull)
      .groupBy("column", "__v")
      .agg(F.sum(F.when(F.col("__t"), 1L).otherwise(0L)).as("n_cur"),
        F.sum(F.when(!F.col("__t"), 1L).otherwise(0L)).as("n_ref"))
    val w = Window.partitionBy("column").orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val agg = hist
      .withColumn("__refBelow",
        F.coalesce(F.sum("n_ref").over(w) - F.col("n_ref"), F.lit(0L)))
      .groupBy("column")
      .agg(
        F.sum("n_ref").as("n_ref"),
        F.sum("n_cur").as("n_cur"),
        F.sum(F.col("n_cur") * (F.lit(2L) * F.col("__refBelow") + F.col("n_ref")))
          .as("u2"),
        F.sum((F.col("n_ref") + F.col("n_cur")) * (F.col("n_ref") + F.col("n_cur"))
          * (F.col("n_ref") + F.col("n_cur"))
          - (F.col("n_ref") + F.col("n_cur"))).as("tc"))
    val n = F.col("n_ref") + F.col("n_cur")
    val pn = (F.col("n_ref") * F.col("n_cur")).cast("double")
    val varU = pn / F.lit(12.0) *
      ((n + F.lit(1L)).cast("double") -
        F.col("tc").cast("double") / (n * (n - F.lit(1L))).cast("double"))
    agg.select(F.col("column"), F.col("n_ref"), F.col("n_cur"), F.col("u2"),
        F.col("tc"),
        F.when(F.col("n_ref") === 0L || F.col("n_cur") === 0L,
            F.lit(null).cast("double"))
          .otherwise(F.col("u2").cast("double") /
            (F.lit(2L) * F.col("n_ref") * F.col("n_cur")).cast("double"))
          .as("auc"),
        F.when(F.col("n_ref") === 0L || F.col("n_cur") === 0L || varU <= F.lit(0.0),
            F.lit(null).cast("double"))
          .otherwise((F.col("u2").cast("double") - pn) /
            (F.lit(2.0) * F.sqrt(varU)))
          .as("z"))
      .orderBy("column")
  }

  /** Cliff's delta effect size per column — the magnitude companion to
    * [[rankSumStats]]'s significance z (a 100M-row test calls any
    * nonzero shift "significant"; delta says whether it MATTERS):
    * `δ = P(cur > ref) − P(cur < ref) = u2/(n_ref·n_cur) − 1` directly
    * off the same tie-corrected integer `2U` (ties split evenly, the
    * standard convention), one IEEE divide — so it inherits the
    * rank-sum machinery's exactness and ONE-exchange shape. The
    * `magnitude` label applies Romano et al. (2006)'s conventional
    * |δ| thresholds (0.147/0.33/0.474) as fixed literals. */
  def cliffsDelta(df: DataFrame, valueCols: Seq[String],
      isTarget: Column): DataFrame = {
    val base = rankSumStats(df, valueCols, isTarget)
    val delta = F.when(F.col("n_ref") === 0L || F.col("n_cur") === 0L,
        F.lit(null).cast("double"))
      .otherwise(F.col("u2").cast("double") /
        (F.col("n_ref") * F.col("n_cur")).cast("double") - F.lit(1.0))
    base.select(F.col("column"), F.col("n_ref"), F.col("n_cur"),
      delta.as("delta"),
      F.when(delta.isNull, F.lit(null).cast("string"))
        .when(F.abs(delta) < 0.147, "negligible")
        .when(F.abs(delta) < 0.33, "small")
        .when(F.abs(delta) < 0.474, "medium")
        .otherwise("large").as("magnitude"))
      .orderBy("column")
  }
}
