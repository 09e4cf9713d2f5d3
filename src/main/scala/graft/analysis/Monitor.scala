package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

import graft.core.Checkpoint

/** Sequential control charts over time-bucketed series — the
  * profile-TIMELINE monitors that sit downstream of the per-batch
  * drift family ([[DriftExact]] compares two snapshots; this watches a
  * metric's whole history): an EWMA forecast chart and a one-sided
  * CUSUM drift detector (Page 1954; the standard SPC pair) over daily
  * event volumes per series.
  *
  * Exactness: the recursions run in INTEGER fixed point at scale
  * S = 10⁶ — `e₁ = S·x₁`, `e_t = (num·S·x_t + (den−num)·e_{t−1}) div
  * den`, `resid_t = S·x_t − e_{t−1}`,
  * `c_t = max(0, c_{t−1} + resid_t − S·slack)` — every step integer
  * division/addition via Math.*Exact (loud past 2⁶³), so the chart is
  * bit-identical across engines and replays in SQL as a recursive CTE.
  * A float EWMA would accumulate rounding differently per engine;
  * this cannot.
  *
  * Scale shape: the sequential part is inherently ordered, so the
  * cluster does what it is good at — ONE map-side-combined
  * `groupBy(series, day)` exchange collapses any corpus to the
  * BOUNDED chart table (series × days; loud `maxCells` cap, the
  * [[graft.analysis.DataAudit.kendallTau]] histogram contract) — and
  * the driver folds each series' few hundred buckets. Charts are
  * per-series independent, so series parallelize trivially if ever
  * needed beyond the cap.
  *
  * (Reference analog: whylogs defers timeline monitoring to its SaaS;
  * the open library stops at profile-vs-profile drift — this is the
  * in-library timeline tier.)
  */
object Monitor {

  /** Mann–Kendall trend test + Sen's slope per series — the MONOTONE
    * drift readout the EWMA/CUSUM pair lacks ([[ewmaCusumChart]] flags
    * level shifts against a forecast; this asks "is the series
    * trending at all", distribution-free): `S = Σ sign(x_j − x_i)`
    * over all day pairs, the tie-corrected variance
    * `Var(S) = (n(n−1)(2n+5) − Σ t(t−1)(2t+5))/18`, the
    * continuity-corrected z, and Sen's slope (the median of all
    * pairwise slopes — the robust trend magnitude, Sen 1968).
    *
    * Exactness: S and the tie term are exact BIGINTs off the BOUNDED
    * per-series daily table (the self-join is days², never rows²;
    * loud `maxCells`); each slope is ONE divide of exact integers; the
    * median is the exact central order statistic(s) via a
    * series-partitioned window over the bounded pair set (even counts
    * take `(lo+hi)/2` explicitly); z is one fixed IEEE tree. NULL z
    * when the variance degenerates (n < 2 or all-tied).
    *
    * Scale shape: one `groupBy(series, day)` collapse of any corpus,
    * then per-series bounded self-joins/windows — a decade of daily
    * buckets is 3 653 rows and ~6.7M pairs per series, shuffled by
    * series key. Output one row per series:
    * `(series, n_days, s_stat, var_s, z, sen_slope)`. */
  def trendTest(df: DataFrame, seriesCol: String, tsCol: String,
      maxCells: Int = 100000): DataFrame = {
    val d = df
      .filter(F.col(seriesCol).isNotNull && F.col(tsCol).isNotNull)
      .groupBy(F.col(seriesCol).cast("string").as("__s"),
        F.to_date(F.date_trunc("day", F.col(tsCol))).as("__d"))
      .agg(F.count(F.lit(1)).as("__x"))
      .transform(Checkpoint.pin(_, eager = false))
    val nCells = d.count()
    require(nCells <= maxCells,
      s"$nCells chart cells exceeds $maxCells — coarsen the bucket or split series")
    val a = d.select(F.col("__s"), F.col("__d").as("__d1"), F.col("__x").as("__x1"))
    val b = d.select(F.col("__s"), F.col("__d").as("__d2"), F.col("__x").as("__x2"))
    val pairs = a.join(b, Seq("__s")).filter(F.col("__d2") > F.col("__d1"))
      .select(F.col("__s"),
        (F.col("__x2") - F.col("__x1")).as("__dx"),
        F.datediff(F.col("__d2"), F.col("__d1")).cast("long").as("__dt"))
      .transform(Checkpoint.pin(_, eager = false))
    val sStat = pairs.groupBy("__s")
      .agg(F.sum(F.when(F.col("__dx") > 0, 1L)
        .when(F.col("__dx") < 0, -1L).otherwise(0L)).as("s_stat"))
    val n = d.groupBy("__s").agg(F.count(F.lit(1)).as("n_days"))
    val ties = d.groupBy("__s", "__x").agg(F.count(F.lit(1)).as("__t"))
      .groupBy("__s")
      .agg(F.coalesce(F.sum(F.col("__t") * (F.col("__t") - 1L) *
        (F.lit(2L) * F.col("__t") + 5L)), F.lit(0L)).as("__tt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__s").orderBy("__slope")
    val slopes = pairs
      .select(F.col("__s"),
        (F.col("__dx").cast("double") / F.col("__dt").cast("double")).as("__slope"))
      .withColumn("__rn", F.row_number().over(w))
      .withColumn("__cnt", F.count(F.lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__s")))
    val sen = slopes
      .filter(F.col("__rn") === F.expr("(__cnt + 1) div 2") ||
        F.col("__rn") === F.expr("(__cnt + 2) div 2"))
      .groupBy("__s")
      .agg(((F.min("__slope") + F.max("__slope")) / F.lit(2.0)).as("sen_slope"))
    val varS = (F.col("n_days") * (F.col("n_days") - 1L) *
      (F.lit(2L) * F.col("n_days") + 5L) - F.col("__tt")).cast("double") /
      F.lit(18.0)
    // LEFT joins: a single-day series has no pairs, so sStat/sen are
    // empty for it — it must still be reported (n_days=1, s_stat=0,
    // var_s=0, NULL z, NULL sen_slope), per the degenerate-variance
    // contract above. `ties` always covers every series in `n` (both
    // derive from `d`), but rides the same left-join + coalesce for
    // uniformity.
    n.join(sStat, Seq("__s"), "left").join(ties, Seq("__s"), "left")
      .join(sen, Seq("__s"), "left")
      .withColumn("s_stat", F.coalesce(F.col("s_stat"), F.lit(0L)))
      .withColumn("__tt", F.coalesce(F.col("__tt"), F.lit(0L)))
      .select(F.col("__s").as(seriesCol), F.col("n_days"), F.col("s_stat"),
        varS.as("var_s"),
        F.when(varS <= 0.0, F.lit(null).cast("double"))
          .otherwise(F.when(F.col("s_stat") > 0L,
              (F.col("s_stat") - 1L).cast("double") / F.sqrt(varS))
            .when(F.col("s_stat") < 0L,
              (F.col("s_stat") + 1L).cast("double") / F.sqrt(varS))
            .otherwise(F.lit(0.0))).as("z"),
        F.col("sen_slope"))
  }

  /** EWMA + CUSUM chart `(series, day, x, ewma_q, resid_q, cusum_q,
    * alarm)` over daily event counts per series. `alpha = alphaNum /
    * alphaDen` (default 1/8), `slack`/`threshold` in COUNT units
    * (CUSUM drains `slack` per day and alarms past `threshold`).
    * First bucket of each series is burn-in: `resid = cusum = 0`.
    * NULL series/timestamps drop. */
  def ewmaCusumChart(df: DataFrame, seriesCol: String, tsCol: String,
      alphaNum: Int = 1, alphaDen: Int = 8, slack: Long = 3L,
      threshold: Long = 10L, maxCells: Int = 100000): DataFrame = {
    require(alphaNum >= 1 && alphaDen > alphaNum, "need 0 < alpha < 1")
    val spark = df.sparkSession
    import spark.implicits._
    val S = 1000000L
    // Bound BEFORE collecting (the [[trendTest]] order): the chart
    // table is checkpointed and counted distributed-side, the loud cap
    // fires off that count, and only a verified-bounded table is ever
    // pulled to the driver — an over-cap series×days result can never
    // OOM the driver on its way to the error message.
    val cells = Checkpoint.scoped(df
      .filter(F.col(seriesCol).isNotNull && F.col(tsCol).isNotNull)
      .groupBy(F.col(seriesCol).cast("string").as("__s"),
        F.to_date(F.date_trunc("day", F.col(tsCol))).as("__d"))
      .agg(F.count(F.lit(1)).as("__x"))) { chart =>
      val nCells = chart.count()
      require(nCells <= maxCells,
        s"$nCells chart cells exceeds $maxCells — coarsen the bucket or split series")
      chart.collect().map(r => (r.getString(0), r.getDate(1), r.getLong(2)))
    }
    val out = cells.groupBy(_._1).toSeq.flatMap { case (series, rows) =>
      var e = 0L; var c = 0L
      rows.sortBy(_._2.getTime).zipWithIndex.map { case ((_, day, x), i) =>
        val sx = Math.multiplyExact(S, x)
        val (resid, cNew, eNew) =
          if (i == 0) (0L, 0L, sx)
          else {
            val r = Math.subtractExact(sx, e)
            val cn = math.max(0L, Math.subtractExact(Math.addExact(c, r),
              Math.multiplyExact(S, slack)))
            val en = Math.addExact(Math.multiplyExact(alphaNum.toLong, sx),
              Math.multiplyExact((alphaDen - alphaNum).toLong, e)) / alphaDen
            (r, cn, en)
          }
        e = eNew; c = cNew
        (series, day, x, eNew, resid, cNew, cNew > Math.multiplyExact(S, threshold))
      }
    }
    out.toDF("series", "day", "x", "ewma_q", "resid_q", "cusum_q", "alarm")
      .orderBy("series", "day")
  }
}
