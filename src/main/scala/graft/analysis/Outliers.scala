package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

import graft.core.Checkpoint

/** Tukey-fence outlier detection per column — the data-quality check the
  * reference expresses only indirectly (constraints on fixed bounds);
  * here the bounds come from the data's own quartiles, the standard
  * exploratory rule (Tukey 1977: flag outside [q1 − k·IQR, q3 + k·IQR],
  * k = 1.5).
  *
  * Scale shape: ONE raw-table scan builds the per-(column, value)
  * weighted table ([[ExactQuantiles.weightedTable]] — map-side
  * combined, bounded state); quartiles/medians are weighted exact
  * order statistics over it and the fence-violation counts are weight
  * sums over the same table, so no further raw scans run. Fences are
  * computed driver-side from exact quantiles and embedded as literals —
  * deterministic, and every count is an exact integer. */
object Outliers {

  /** Per-column fence counts summed from the weighted value table —
    * no raw scan: `n` is the weight sum (NaN groups included, matching
    * `count(v)` which counts NaN as non-null), `n_low`/`n_high` compare
    * the distinct values against literal fences with the same Spark
    * comparison semantics the per-row pass used (Spark orders NaN
    * GREATER than every value, so NaN lands in `n_high` both ways). */
  private def fenceCounts(
      gAll: DataFrame, present: Seq[String],
      fences: Map[String, (Double, Double)]): Map[String, (Long, Long, Long)] = {
    val aggs = present.flatMap { c =>
      val isC = F.col("__c") === c
      val (lo, hi) = fences(c)
      Seq(
        F.sum(F.when(isC, F.col("__n")).otherwise(0L)).as(s"__n_$c"),
        F.sum(F.when(isC && F.col("__v") < lo, F.col("__n")).otherwise(0L)).as(s"__lo_$c"),
        F.sum(F.when(isC && F.col("__v") > hi, F.col("__n")).otherwise(0L)).as(s"__hi_$c"))
    }
    val row = gAll.agg(aggs.head, aggs.tail: _*).collect()(0)
    present.zipWithIndex.map { case (c, i) =>
      c -> ((row.getLong(3 * i), row.getLong(3 * i + 1), row.getLong(3 * i + 2)))
    }.toMap
  }

  /** Per column: quartiles, fences, and outlier counts. Returns a
    * DataFrame (col_name, q1, q3, iqr, lo_fence, hi_fence, n, n_low,
    * n_high, n_outliers), built on the driver. Columns with no non-null
    * values are omitted. */
  def iqrOutliers(
      df: DataFrame, valueCols: Seq[String], k: Double = 1.5): DataFrame = {
    require(valueCols.nonEmpty, "iqrOutliers needs at least one column")
    val spark = df.sparkSession
    import spark.implicits._
    // ONE raw scan (r21; was two — guide §1.2/§2.3): the per-(column,
    // value) weighted table feeds both the quartile order statistics
    // and the fence counts. NaN values ride along as their own group
    // so the counts still see them; the quantile pass filters them.
    Checkpoint.scoped(ExactQuantiles.weightedTable(
        ExactQuantiles.melted(df, valueCols), keepNaN = true)) { gAll =>
      val qs = ExactQuantiles.weightedQuantiles(
        gAll.filter(!F.isnan(F.col("__v"))), Seq(0.25, 0.75))
      val present = valueCols.filter(c => qs.get(c).exists(_.nonEmpty))
      val rows =
        if (present.isEmpty) Seq.empty
        else {
          val fences = present.map { c =>
            val Seq(q1, q3) = qs(c)
            val iqr = q3 - q1
            c -> (q1, q3, iqr, q1 - k * iqr, q3 + k * iqr)
          }.toMap
          val counts = fenceCounts(gAll, present,
            fences.map { case (c, (_, _, _, lo, hi)) => c -> (lo, hi) })
          present.map { c =>
            val (q1, q3, iqr, lo, hi) = fences(c)
            val (n, nLo, nHi) = counts(c)
            (c, q1, q3, iqr, lo, hi, n, nLo, nHi, nLo + nHi)
          }
        }
      rows.toDF("col_name", "q1", "q3", "iqr", "lo_fence", "hi_fence",
        "n", "n_low", "n_high", "n_outliers")
    }
  }

  /** Robust (MAD-based) outlier detection per column: median and median
    * absolute deviation as weighted exact order statistics, fences at
    * median ± k·(scale·MAD) with the Gaussian consistency constant
    * scale = 1.4826 (Hampel 1974; the robust analog of ±k·σ), fence
    * counts from the same weighted table. Returns (col_name, med, mad,
    * lo_fence, hi_fence, n, n_low, n_high, n_outliers), built on the
    * driver. Columns with no non-null values are omitted.
    *
    * Exactness: med/MAD are exact interpolated order statistics; fences
    * are the literal IEEE expression `med − k·(scale·mad)` mirrored in
    * the oracle; counts are integers. Scale shape identical to
    * [[iqrOutliers]] — bounded state, ONE raw scan total. */
  def madOutliers(
      df: DataFrame, valueCols: Seq[String], k: Double = 3.0,
      scale: Double = 1.4826): DataFrame = {
    require(valueCols.nonEmpty, "madOutliers needs at least one column")
    val spark = df.sparkSession
    import spark.implicits._
    // ONE raw scan (r21; was three sequential scans — guide §1.2/§2.3):
    // the weighted value table feeds the median, the MAD AND the fence
    // counts. The deviation pass needs no raw scan either — |v − med|
    // is computed per DISTINCT value with its weight carried over
    // (colliding deviations merge by weight sum), which is the same
    // multiset the per-row pass produced, so the weighted order
    // statistics are bit-identical.
    Checkpoint.scoped(ExactQuantiles.weightedTable(
        ExactQuantiles.melted(df, valueCols), keepNaN = true)) { gAll =>
      val gQ = gAll.filter(!F.isnan(F.col("__v")))
      val med = ExactQuantiles.weightedQuantiles(gQ, Seq(0.5))
      val present = valueCols.filter(c => med.get(c).exists(_.nonEmpty))
      val rows =
        if (present.isEmpty) Seq.empty
        else {
          val medExpr = present.tail.foldLeft(
            F.when(F.col("__c") === present.head, F.lit(med(present.head).head))) {
            (acc, c) => acc.when(F.col("__c") === c, F.lit(med(c).head))
          }
          val mad = Checkpoint.scoped(ExactQuantiles.weightedTable(
            gQ.select(F.col("__c"), F.abs(F.col("__v") - medExpr).as("__v"),
              F.col("__n")), keepNaN = false))(
            ExactQuantiles.weightedQuantiles(_, Seq(0.5)))
          val fences = present.map { c =>
            val m = med(c).head
            val d = mad(c).head
            c -> (m, d, m - k * (scale * d), m + k * (scale * d))
          }.toMap
          val counts = fenceCounts(gAll, present,
            fences.map { case (c, (_, _, lo, hi)) => c -> (lo, hi) })
          present.map { c =>
            val (m, d, lo, hi) = fences(c)
            val (n, nLo, nHi) = counts(c)
            (c, m, d, lo, hi, n, nLo, nHi, nLo + nHi)
          }
        }
      rows.toDF("col_name", "med", "mad", "lo_fence", "hi_fence",
        "n", "n_low", "n_high", "n_outliers")
    }
  }

  /** Winsorization summary — the robust alternative to DROPPING
    * outliers ([[iqrOutliers]]/[[madOutliers]] flag; this clips): clamp
    * everything outside the exact [loRank, hiRank] order-statistic
    * window to the window edge and report what moved. Returns ONE row
    * `(n, lo_cut, hi_cut, n_clipped_lo, n_clipped_hi, sum_raw,
    * sum_wins)` — cut points are the distributed exact type-7
    * quantiles ([[ExactQuantiles.quantiles]], embedded as literals),
    * clip counts are exact integers, and both sums accumulate as
    * DECIMAL(33,6) (fold-order-free) before ONE cast to double — so
    * the whole report replays in SQL bit-for-bit. NULL/NaN rows are
    * excluded.
    *
    * Scale shape: the quantile machinery's one scan + one range
    * exchange for the cut points, then ONE more map-side-combined
    * aggregate scan; the clip itself is a literal CASE any caller can
    * reuse as a map-only column. */
  def winsorize(df: DataFrame, valueCol: String,
      loRank: Double = 0.01, hiRank: Double = 0.99): DataFrame = {
    require(loRank >= 0.0 && loRank < hiRank && hiRank <= 1.0,
      "need 0 <= loRank < hiRank <= 1")
    val base = df.select(F.col(valueCol).cast("double").as("__v"))
      .filter(F.col("__v").isNotNull && !F.isnan(F.col("__v")))
    val qs = ExactQuantiles.quantiles(base, Seq("__v"), Seq(loRank, hiRank))("__v")
    require(qs.nonEmpty, s"no non-null values in $valueCol")
    val (loCut, hiCut) = (qs(0), qs(1))
    val clipped = F.least(F.greatest(F.col("__v"), F.lit(loCut)), F.lit(hiCut))
    base.agg(
        F.count(F.lit(1)).as("n"),
        F.sum(F.when(F.col("__v") < loCut, 1L).otherwise(0L)).as("n_clipped_lo"),
        F.sum(F.when(F.col("__v") > hiCut, 1L).otherwise(0L)).as("n_clipped_hi"),
        F.sum(F.col("__v").cast("decimal(33,6)")).as("__sr"),
        F.sum(clipped.cast("decimal(33,6)")).as("__sw"))
      .select(F.col("n"), F.lit(loCut).as("lo_cut"), F.lit(hiCut).as("hi_cut"),
        F.col("n_clipped_lo"), F.col("n_clipped_hi"),
        F.col("__sr").cast("double").as("sum_raw"),
        F.col("__sw").cast("double").as("sum_wins"))
  }
}
