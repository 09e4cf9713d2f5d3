package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

/** Rolling anomaly detection over metric timelines — the alerting half
  * of the monitoring loop the reference delegates to its SaaS platform
  * (the library computes profiles and drift; flagging a point against
  * its own trailing history is the missing on-platform step). Each point
  * is scored against the mean/std of the previous `k` points of ITS OWN
  * series, so a seasonal level change moves the baseline instead of
  * alerting forever.
  *
  * Scale shape: the input is an already-aggregated timeline (one row per
  * (series, window) — the output of `window_profile` / `ksTimeline`
  * family queries), and every window function partitions BY SERIES:
  * Spark hash-distributes series across executors, each series' modest
  * row count sorts locally, and there is no global sort anywhere. With
  * millions of series this is one exchange of already-KB-scale rows.
  *
  * Exactness: the trailing stats come from explicit Σv / Σv² running
  * sums, not a stddev aggregate — for integer-valued metrics (counts)
  * every intermediate is an exact integer in a double, so the scores are
  * bit-reproducible across engines regardless of frame-evaluation
  * order. */
object Anomaly {

  /** Tag each timeline point with trailing-window stats and a z-score.
    * `z` (and the flag) are non-null only once a FULL `k`-point trailing
    * window exists and its variance is positive — a partial baseline
    * under-estimates spread and over-alerts. Sample variance (n−1). */
  def rollingZ(
      df: DataFrame, seriesCols: Seq[String], timeCol: String,
      valueCol: String, k: Int = 7, threshold: Double = 2.0): DataFrame = {
    require(k >= 2, s"need at least 2 trailing points: $k")
    val w = Window.partitionBy(seriesCols.map(F.col): _*)
      .orderBy(F.col(timeCol)).rowsBetween(-k, -1)
    val v = F.col(valueCol).cast("double")
    val m = F.count(v).over(w)
    val s = F.sum(v).over(w)
    val s2 = F.sum(v * v).over(w)
    val mean = s / m
    val variance = (s2 - s * s / m) / (m - F.lit(1))
    val std = F.sqrt(F.greatest(variance, F.lit(0.0)))
    val zCol = F.when(m === k && std > 0.0, (v - mean) / std)
    df.withColumn("trail_n", m)
      .withColumn("trail_mean", F.when(m === k, mean))
      .withColumn("trail_std", F.when(m === k, std))
      .withColumn("z", zCol)
      .withColumn("is_anomaly", F.abs(zCol) > threshold)
  }
}
