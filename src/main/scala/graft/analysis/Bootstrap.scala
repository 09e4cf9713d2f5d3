package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Deterministic Poisson bootstrap — distributed confidence intervals
  * with NO random state: the classic Poisson bootstrap (each row joins
  * replicate b with multiplicity ~ Poisson(1) — the big-data
  * reformulation of resampling-with-replacement, used because a
  * distributed engine cannot sample n-out-of-n globally) driven by a
  * SEEDED INTEGER RECURRENCE instead of an RNG. Each (row id,
  * replicate) pair maps through [[minstdUniform]] — a
  * Knuth-multiplicative seed plus two MINSTD LCG steps, pure BIGINT
  * multiply/mod arithmetic — to a uniform in [0,1), which an
  * inverse-CDF CASE over fixed cumulative-Poisson(1) literal
  * thresholds turns into the multiplicity — fully deterministic,
  * partitioning-invariant, and SQL-replayable (integer arithmetic and
  * the threshold literals are identical in every engine; no engine RNG
  * is ever consulted).
  *
  * Exactness: per replicate, `Σ mult·v` and `Σ mult` accumulate as
  * BIGINTs over integer-valued `v` (ANSI-loud past 2⁶³); each
  * replicate mean is ONE IEEE divide; the CI bounds are exact order
  * statistics of the B bounded replicate means. The multiplicity tail
  * is clamped at 9 (P ≈ 1.1e-6 per pair — a fixed part of the
  * estimator's definition, not a silent approximation).
  *
  * Scale shape: ONE scan with a 64-way per-row explode that collapses
  * map-side into B groups (partial aggregation — the exchange carries
  * B rows per partition), then order statistics over B driver rows.
  * At 100 TB this is one pass, shuffle bytes independent of row count.
  */
object Bootstrap {

  /** Cumulative Poisson(1) CDF at k = 0..8 — fixed literals shared
    * with the SQL mirror (never recomputed via exp/factorial at run
    * time, so there is nothing to diverge). */
  val poissonCdf: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253, 0.999998874797402)

  /** Deterministic uniform in [0,1) per (id, replicate) from pure
    * BIGINT arithmetic — MINSTD (Park & Miller 1988; the 16807 and
    * 48271 multipliers) over a Knuth-multiplicative seed: two LCG
    * steps decorrelate adjacent ids/replicates, every operation is an
    * exact integer multiply/mod both engines evaluate identically, and
    * nothing allocates (a cryptographic hash per draw measured ~20×
    * slower end to end for zero statistical benefit here). Loud range
    * contract (ANSI): |id| ≤ ~3.4e9 keeps `id·2654435761 < 2⁶³`; remap
    * wider ids first. NEGATIVE ids inside that range are fine: the
    * seed is pmod-mapped into [0, m) before the LCG steps (Scala and
    * SQL `%` both keep the dividend's sign, so without the pmod a
    * negative id would drive u negative and silently zero every
    * multiplicity for that row — the SQL mirrors apply the identical
    * `((x % m) + m) % m`). */
  def minstdUniform(id: Column, rep: Column): Column = {
    val m = 2147483647L
    val mix = id.cast("long") * F.lit(2654435761L) +
      rep.cast("long") * F.lit(40503L) + F.lit(977L)
    val seed = ((mix % m) + F.lit(m)) % m
    val s1 = (F.lit(16807L) * seed) % m
    val s2 = (F.lit(48271L) * s1) % m
    s2.cast("double") / F.lit(2147483647.0)
  }

  /** Poisson(1) multiplicity via the inverse CDF over [[poissonCdf]]. */
  def poissonMult(u: Column): Column =
    poissonCdf.zipWithIndex.foldRight(F.lit(9L): Column) {
      case ((t, k), rest) => F.when(u < t, k.toLong).otherwise(rest)
    }

  /** Bootstrap CI for the MEAN of an integer-valued column:
    * one row `(n, mean, b, lo_rep, hi_rep, ci_lo, ci_hi)` where
    * `ci_lo`/`ci_hi` are the `floor(b·loRank)`-th / `floor(b·hiRank)`-th
    * (0-based) order statistics of the B replicate means (default the
    * 2.5%/97.5% band of B = 64 replicates: indices 1 and 62). Rows
    * with NULL id or value drop. */
  def meanCI(df: DataFrame, idCol: String, valueCol: String, b: Int = 64,
      loRank: Double = 0.025, hiRank: Double = 0.975): DataFrame = {
    require(b >= 4, "need at least 4 replicates")
    require(loRank >= 0 && loRank < hiRank && hiRank <= 1, "bad rank band")
    // spread the SLIM (id, v) projection BEFORE the replicate explode:
    // the explode multiplies each input split's work by B, so a table
    // that arrives as few splits (one small parquet file locally; a
    // coalesced scan anywhere) would otherwise draw B× the rows on one
    // task. One exchange of two columns buys even parallelism — the
    // sums are fold-order-free BIGINTs, so repartitioning cannot
    // change the result.
    val base = df
      .filter(F.col(idCol).isNotNull && F.col(valueCol).isNotNull)
      .select(F.col(idCol).cast("long").as("__id"),
        F.col(valueCol).cast("long").as("__v"))
      .repartition(F.col("__id"))
    val reps = base
      .select(F.col("__id"), F.col("__v"),
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).as("__b"))
      .withColumn("__m", poissonMult(minstdUniform(F.col("__id"), F.col("__b"))))
      .groupBy("__b")
      .agg(F.sum(F.col("__m") * F.col("__v")).as("__s"),
        F.sum("__m").as("__c"))
      .select(F.when(F.col("__c") === 0L, F.lit(null).cast("double"))
        .otherwise(F.col("__s").cast("double") / F.col("__c").cast("double"))
        .as("__mean"))
      .collect()
    // a replicate that drew total multiplicity 0 (P ≈ e^−n per
    // replicate — realistic only for tiny inputs) has no mean; the
    // explicit NULL-when-zero guard keeps ANSI from throwing an opaque
    // DIVIDE_BY_ZERO first, so the loud require below always reports
    require(reps.forall(!_.isNullAt(0)),
      "a bootstrap replicate drew total multiplicity 0 — " +
        "input too small for the Poisson bootstrap (add rows or reduce b)")
    val repMeans = reps.map(_.getDouble(0)).sorted
    require(repMeans.length == b, s"expected $b replicates, got ${repMeans.length}")
    val loIdx = math.floor(b * loRank).toInt
    val hiIdx = math.min(math.floor(b * hiRank).toInt, b - 1)
    base.agg(F.count(F.lit(1)).as("n"),
        (F.sum("__v").cast("double") / F.count(F.lit(1)).cast("double"))
          .as("mean"))
      .select(F.col("n"), F.col("mean"), F.lit(b.toLong).as("b"),
        F.lit(repMeans.head).as("lo_rep"), F.lit(repMeans.last).as("hi_rep"),
        F.lit(repMeans(loIdx)).as("ci_lo"), F.lit(repMeans(hiIdx)).as("ci_hi"))
  }

  /** Bootstrap CI for the DIFFERENCE of arm means — the nonparametric
    * companion to [[cupedTest]]/[[proportionTest]] (no normality, no
    * variance formula: if the replicate band excludes 0 the treatment
    * moved the metric): each replicate resamples BOTH arms with the
    * same [[minstdUniform]] multiplicities and takes `mean₁ − mean₂`;
    * the CI is exact order statistics of the B replicate differences.
    * Same one-scan shape as [[meanCI]] — the groupBy just carries four
    * accumulators (per-arm Σm·v and Σm) instead of two. Returns one
    * row `(n1, n2, mean_diff, b, ci_lo, ci_hi)`. */
  def diffCI(df: DataFrame, idCol: String, valueCol: String, armCol: Column,
      b: Int = 64, loRank: Double = 0.025, hiRank: Double = 0.975): DataFrame = {
    require(b >= 4, "need at least 4 replicates")
    require(loRank >= 0 && loRank < hiRank && hiRank <= 1, "bad rank band")
    val base = df
      .filter(F.col(idCol).isNotNull && F.col(valueCol).isNotNull &&
        armCol.isNotNull)
      .select(F.col(idCol).cast("long").as("__id"),
        F.col(valueCol).cast("long").as("__v"), armCol.as("__a"))
      .repartition(F.col("__id"))
    val reps = base
      .select(F.col("__id"), F.col("__v"), F.col("__a"),
        F.explode(F.sequence(F.lit(0), F.lit(b - 1))).as("__b"))
      .withColumn("__m", poissonMult(minstdUniform(F.col("__id"), F.col("__b"))))
      .groupBy("__b")
      .agg(
        F.sum(F.when(F.col("__a"), F.col("__m") * F.col("__v")).otherwise(0L)).as("__s1"),
        F.sum(F.when(F.col("__a"), F.col("__m")).otherwise(0L)).as("__c1"),
        F.sum(F.when(!F.col("__a"), F.col("__m") * F.col("__v")).otherwise(0L)).as("__s2"),
        F.sum(F.when(!F.col("__a"), F.col("__m")).otherwise(0L)).as("__c2"))
      .select(F.when(F.col("__c1") === 0L || F.col("__c2") === 0L,
          F.lit(null).cast("double"))
        .otherwise(F.col("__s1").cast("double") / F.col("__c1").cast("double") -
          F.col("__s2").cast("double") / F.col("__c2").cast("double")).as("__d"))
      .collect()
    // one arm drawing total multiplicity 0 in a replicate has no
    // difference; explicit NULL (not an ANSI DIVIDE_BY_ZERO or an NPE
    // at getDouble) so the require below is the single loud path
    require(reps.forall(!_.isNullAt(0)),
      "a bootstrap replicate drew total multiplicity 0 in one arm — " +
        "arm too small for the Poisson bootstrap (add rows or reduce b)")
    val repDiffs = reps.map(_.getDouble(0)).sorted
    require(repDiffs.length == b, s"expected $b replicates, got ${repDiffs.length}")
    val loIdx = math.floor(b * loRank).toInt
    val hiIdx = math.min(math.floor(b * hiRank).toInt, b - 1)
    base.agg(
        F.sum(F.when(F.col("__a"), 1L).otherwise(0L)).as("n1"),
        F.sum(F.when(!F.col("__a"), 1L).otherwise(0L)).as("n2"),
        (F.sum(F.when(F.col("__a"), F.col("__v")).otherwise(0L)).cast("double") /
          F.sum(F.when(F.col("__a"), 1L).otherwise(0L)).cast("double") -
          F.sum(F.when(!F.col("__a"), F.col("__v")).otherwise(0L)).cast("double") /
            F.sum(F.when(!F.col("__a"), 1L).otherwise(0L)).cast("double"))
          .as("mean_diff"))
      .select(F.col("n1"), F.col("n2"), F.col("mean_diff"),
        F.lit(b.toLong).as("b"),
        F.lit(repDiffs(loIdx)).as("ci_lo"), F.lit(repDiffs(hiIdx)).as("ci_hi"))
  }

  /** CUPED variance-reduced A/B test (Deng, Xu, Kohavi & Walker, WSDM
    * 2013) — the industry-standard precision lift: regress the metric
    * on a pre-experiment covariate (pooled
    * `θ = (n·Sxy − Sx·Sy)/(n·Sxx − Sx²)`), analyze the adjusted metric
    * `y − θ·(x − x̄)`. The covariate is unaffected by treatment, so the
    * estimate stays unbiased while correlated noise cancels.
    *
    * Exactness: BOTH columns must be integer-valued — all eleven
    * sufficient statistics (pooled and per-arm `n, Sy, Sx, Syy, Sxx,
    * Sxy`) accumulate as BIGINTs in ONE map-side-combined pass
    * (ANSI-loud past 2⁶³), and θ, the adjusted means, the pooled
    * variance of the adjusted metric, and z are one fixed IEEE tree —
    * partitioning-invariant, SQL-replayable bit-for-bit.
    *
    * Output one row: `(n1, n2, theta, mean1_adj, mean2_adj, diff, se,
    * z)`; z NULL when an arm is empty or the adjusted variance is 0.
    * Rows with NULL arm/metric/covariate drop (complete-case). */
  def cupedTest(df: DataFrame, armCol: Column, metricCol: Column,
      covCol: Column): DataFrame = {
    val y = metricCol.cast("long")
    val x = covCol.cast("long")
    val base = df.filter(armCol.isNotNull && y.isNotNull && x.isNotNull)
    val agg = base.agg(
      F.count(F.lit(1)).as("n"),
      F.sum(y).as("sy"), F.sum(x).as("sx"),
      F.sum(y * y).as("syy"), F.sum(x * x).as("sxx"), F.sum(x * y).as("sxy"),
      F.sum(F.when(armCol, 1L).otherwise(0L)).as("n1"),
      F.sum(F.when(armCol, y).otherwise(0L)).as("sy1"),
      F.sum(F.when(armCol, x).otherwise(0L)).as("sx1"),
      F.sum(F.when(armCol, y * y).otherwise(0L)).as("syy1"),
      F.sum(F.when(armCol, x * x).otherwise(0L)).as("sxx1"),
      F.sum(F.when(armCol, x * y).otherwise(0L)).as("sxy1"))
    def d(c: String) = F.col(c).cast("double")
    val (n, sy, sx, syy, sxx, sxy) =
      (d("n"), d("sy"), d("sx"), d("syy"), d("sxx"), d("sxy"))
    val n1 = d("n1"); val n2 = n - n1
    val sy2 = sy - d("sy1"); val sx2 = sx - d("sx1")
    val syy2 = syy - d("syy1"); val sxx2 = sxx - d("sxx1")
    val sxy2 = sxy - d("sxy1")
    val theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val xbar = sx / n
    def meanAdj(syA: Column, sxA: Column, nA: Column) =
      syA / nA - theta * (sxA / nA - xbar)
    val m1 = meanAdj(d("sy1"), d("sx1"), n1)
    val m2 = meanAdj(sy2, sx2, n2)
    // per-arm variance of y' = y − θ·x around its arm mean:
    // Var = (Syy − 2θ·Sxy + θ²·Sxx)/nA − (Sy/nA − θ·Sx/nA)²
    def varAdj(syA: Column, sxA: Column, syyA: Column, sxxA: Column,
        sxyA: Column, nA: Column) = {
      val mu = syA / nA - theta * (sxA / nA)
      (syyA - F.lit(2.0) * theta * sxyA + theta * theta * sxxA) / nA - mu * mu
    }
    val v1 = varAdj(d("sy1"), d("sx1"), d("syy1"), d("sxx1"), d("sxy1"), n1)
    val v2 = varAdj(sy2, sx2, syy2, sxx2, sxy2, n2)
    val se = F.sqrt(v1 / n1 + v2 / n2)
    agg.select(F.col("n1"), (F.col("n") - F.col("n1")).as("n2"),
      theta.as("theta"), m1.as("mean1_adj"), m2.as("mean2_adj"),
      (m1 - m2).as("diff"), se.as("se"),
      F.when(F.col("n1") === 0L || F.col("n") === F.col("n1"),
          F.lit(null).cast("double"))
        .otherwise(F.when(se === 0.0, F.lit(null).cast("double"))
          .otherwise((m1 - m2) / se)).as("z"))
  }

  /** Exact two-proportion z-test — the A/B readout over event streams:
    * `z = (p1 − p2) / √(p̂(1−p̂)(1/n1 + 1/n2))` with every count an
    * exact BIGINT and the z one fixed IEEE tree (NULL when an arm is
    * empty or the pooled rate is degenerate). `armCol` must be a
    * boolean "is arm 1" split; `successCol` a boolean outcome. */
  def proportionTest(df: DataFrame, armCol: Column, successCol: Column): DataFrame = {
    val agg = df
      .filter(armCol.isNotNull && successCol.isNotNull)
      .agg(
        F.sum(F.when(armCol, 1L).otherwise(0L)).as("n1"),
        F.sum(F.when(armCol && successCol, 1L).otherwise(0L)).as("c1"),
        F.sum(F.when(!armCol, 1L).otherwise(0L)).as("n2"),
        F.sum(F.when(!armCol && successCol, 1L).otherwise(0L)).as("c2"))
    val p1 = F.col("c1").cast("double") / F.col("n1").cast("double")
    val p2 = F.col("c2").cast("double") / F.col("n2").cast("double")
    val pp = (F.col("c1") + F.col("c2")).cast("double") /
      (F.col("n1") + F.col("n2")).cast("double")
    val se = F.sqrt(pp * (F.lit(1.0) - pp) *
      (F.lit(1.0) / F.col("n1").cast("double") +
        F.lit(1.0) / F.col("n2").cast("double")))
    agg.select(F.col("n1"), F.col("c1"), F.col("n2"), F.col("c2"),
      p1.as("p1"), p2.as("p2"),
      F.when(F.col("n1") === 0L || F.col("n2") === 0L ||
          pp === 0.0 || pp === 1.0, F.lit(null).cast("double"))
        .otherwise((p1 - p2) / se).as("z"))
  }
}
