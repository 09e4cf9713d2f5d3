package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

/** EXACT ROC analysis over integer scores — the threshold-free
  * evaluation half of the trainable family ([[ModelPerf]] holds the
  * thresholded confusion/accuracy side): ROC-AUC as the tie-corrected
  * Mann-Whitney statistic kept as an exact integer FRACTION, and the
  * full ROC/PR curve with exact counts at every threshold.
  *
  * AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻) over all
  * positive×negative pairs — computed WITHOUT enumerating pairs:
  * `num = Σ_s pos(s)·(2·negBelow(s) + neg(s))`, `den = 2·P·N`, one
  * final IEEE divide. All counts are ANSI BIGINTs, so the statistic
  * replays in SQL bit-for-bit under any partitioning — float
  * trapezoid-AUC implementations are fold-order-dependent; this is
  * not.
  *
  * Scale shape: ONE map-side-combined `groupBy(score)` exchange builds
  * the score histogram — bounded by DISTINCT SCORES (for integer model
  * outputs: leaf-value combinations, calibration bins), the same
  * bounded-histogram contract as [[TreeSplit]] — then a cumulative
  * window and a 1-row aggregate run over histogram rows, never corpus
  * rows. The curve's single-partition window is over that bounded
  * histogram (the [[DataAudit.keySkewReport]] top-k precedent), not
  * the table.
  *
  * (Reference analog: whylogs model-performance metrics stop at
  * confusion/accuracy — `core/metrics/model_metrics.py`; this adds the
  * ranking-quality readout a classifier-gated curation pipeline needs
  * before picking its threshold.)
  */
object Roc {

  /** The exact `(score, n_pos, n_neg)` histogram — one exchange; NULL
    * scores/labels excluded. */
  def scoreHistogram(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame =
    df.select(scoreCol.cast("long").as("score"), labelCol.cast("boolean").as("__y"))
      .filter(F.col("score").isNotNull && F.col("__y").isNotNull)
      .groupBy("score")
      .agg(F.sum(F.when(F.col("__y"), 1L).otherwise(0L)).as("n_pos"),
        F.sum(F.when(!F.col("__y"), 1L).otherwise(0L)).as("n_neg"))

  /** One row: `(n_pos, n_neg, num, den, auc)` — `num/den` the exact
    * tie-corrected Mann-Whitney fraction, `auc` one IEEE divide (NULL
    * when a class is absent: den = 0). */
  def rocAuc(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val hist = scoreHistogram(df, scoreCol, labelCol)
    val w = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("__negBelow",
        F.coalesce(F.sum("n_neg").over(w) - F.col("n_neg"), F.lit(0L)))
      .agg(
        F.sum("n_pos").as("n_pos"),
        F.sum("n_neg").as("n_neg"),
        F.sum(F.col("n_pos") * (F.lit(2L) * F.col("__negBelow") + F.col("n_neg")))
          .as("num"))
      .select(F.col("n_pos"), F.col("n_neg"), F.col("num"),
        (F.lit(2L) * F.col("n_pos") * F.col("n_neg")).as("den"))
      .select(F.col("n_pos"), F.col("n_neg"), F.col("num"), F.col("den"),
        F.when(F.col("den") === 0L, F.lit(null).cast("double"))
          .otherwise(F.col("num").cast("double") / F.col("den").cast("double"))
          .as("auc"))
  }

  /** SEGMENTED exact ROC-AUC: the Mann-Whitney fraction per segment —
    * the ranking-quality analog of segmented model-performance
    * profiling (a model that ranks well globally and inverts on one
    * language/source is the standard silent failure). ONE
    * `groupBy(segment, score)` exchange, a cumulative window
    * PARTITIONED BY SEGMENT (parallel across segments, each partition
    * bounded by that segment's distinct scores), one bounded groupBy —
    * never corpus rows past the first exchange. Output one row per
    * segment, ordered. */
  def rocAucBy(df: DataFrame, segmentCol: Column, scoreCol: Column,
      labelCol: Column): DataFrame = {
    val hist = df.select(segmentCol.cast("string").as("segment"),
        scoreCol.cast("long").as("score"), labelCol.cast("boolean").as("__y"))
      .filter(F.col("segment").isNotNull && F.col("score").isNotNull &&
        F.col("__y").isNotNull)
      .groupBy("segment", "score")
      .agg(F.sum(F.when(F.col("__y"), 1L).otherwise(0L)).as("n_pos"),
        F.sum(F.when(!F.col("__y"), 1L).otherwise(0L)).as("n_neg"))
    val w = Window.partitionBy("segment").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("__negBelow",
        F.coalesce(F.sum("n_neg").over(w) - F.col("n_neg"), F.lit(0L)))
      .groupBy("segment")
      .agg(
        F.sum("n_pos").as("n_pos"),
        F.sum("n_neg").as("n_neg"),
        F.sum(F.col("n_pos") * (F.lit(2L) * F.col("__negBelow") + F.col("n_neg")))
          .as("num"))
      .select(F.col("segment"), F.col("n_pos"), F.col("n_neg"), F.col("num"),
        (F.lit(2L) * F.col("n_pos") * F.col("n_neg")).as("den"))
      .select(F.col("segment"), F.col("n_pos"), F.col("n_neg"), F.col("num"),
        F.col("den"),
        F.when(F.col("den") === 0L, F.lit(null).cast("double"))
          .otherwise(F.col("num").cast("double") / F.col("den").cast("double"))
          .as("auc"))
      .orderBy("segment")
  }

  /** The exact ROC/PR curve: one row per distinct score t — the
    * operating point of the rule `predict positive iff score ≥ t` —
    * with exact `(tp, fp)` and the three IEEE ratios
    * `(tpr, fpr, precision)`. Ordered threshold DESC (the curve walks
    * from (0,0) toward (1,1)). */
  def rocCurve(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    // the histogram feeds both the totals and the curve — checkpoint so
    // the corpus is scanned once
    val hist = graft.core.Checkpoint.pin(scoreHistogram(df, scoreCol, labelCol), eager = false)
    val w = Window.orderBy(F.col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = hist.agg(F.sum("n_pos").as("__p"), F.sum("n_neg").as("__n"))
    hist
      .select(F.col("score").as("threshold"),
        F.sum("n_pos").over(w).as("tp"), F.sum("n_neg").over(w).as("fp"))
      .crossJoin(F.broadcast(totals))
      .select(F.col("threshold"), F.col("tp"), F.col("fp"),
        F.when(F.col("__p") === 0L, F.lit(null).cast("double"))
          .otherwise(F.col("tp").cast("double") / F.col("__p").cast("double"))
          .as("tpr"),
        F.when(F.col("__n") === 0L, F.lit(null).cast("double"))
          .otherwise(F.col("fp").cast("double") / F.col("__n").cast("double"))
          .as("fpr"),
        (F.col("tp").cast("double") /
          (F.col("tp") + F.col("fp")).cast("double")).as("precision"))
      .orderBy(F.col("threshold").desc)
  }
}
