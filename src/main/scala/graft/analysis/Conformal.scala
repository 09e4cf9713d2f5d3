package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

import graft.core.{Checkpoint, Owner}

/** Split-conformal prediction intervals (Vovk et al.; Lei et al. JASA
  * 2018 for the split recipe) on top of the exact-fit OLS — the
  * "predict WITH a finite-sample guarantee" closure of the trainable
  * family: fit on a train split, take the ceil((n+1)(1−α))-th smallest
  * absolute residual on a disjoint calibration split, and every test
  * prediction ± that radius covers the truth with probability ≥ 1−α
  * (exchangeability is the only assumption — no distributional model).
  *
  * Exactness: the three splits are a deterministic id-modulo partition
  * (mirrorable everywhere); the model is [[Ols.fit2]]'s hash-exact
  * coefficients; each calibration score is ONE fixed IEEE tree
  * `|y − (b0 + b1·x1 + b2·x2)|`; the conformal rank
  * `k = ceil((n_cal+1)·(alphaDen−alphaNum)/alphaDen)` is exact integer
  * arithmetic; and the k-th order statistic is read off the
  * distributed exact rank table ([[ExactQuantiles.percentRanksMulti]]
  * — per-value tie counts + strict-below prefix sums), never a global
  * sort. Bit-for-bit SQL-replayable end to end.
  *
  * Scale shape: one aggregate for the fit (ten longs), one melted
  * scan + one range exchange for the score ranks, a 4-double model
  * literal, and a map-only interval column over the test split — which
  * is STATELESS, so the same column scores a Structured Streaming
  * frame at ingestion. */
object Conformal {

  /** Fitted conformal regressor: OLS coefficients + the calibrated
    * radius `q` (and its provenance `nCal`/`k`). Four doubles — a plan
    * literal at any corpus size. */
  final case class Model(b0: Double, b1: Double, b2: Double, q: Double,
    nCal: Long, k: Long)

  private def parts(df: DataFrame, idCol: String) = (
    df.filter(F.col(idCol) % 3 === 0),
    df.filter(F.col(idCol) % 3 === 1),
    df.filter(F.col(idCol) % 3 === 2))

  private def complete(df: DataFrame, cols: String*) =
    df.filter(cols.map(c => F.col(c).isNotNull).reduce(_ && _))

  /** Train on the id%3=0 split, calibrate the radius on id%3=1. */
  def fit(df: DataFrame, idCol: String, yCol: String, x1Col: String,
      x2Col: String, alphaNum: Int = 1, alphaDen: Int = 10): Model = {
    require(alphaNum >= 1 && alphaDen > alphaNum, "need 0 < alpha < 1")
    val (train, cal, _) = parts(df, idCol)
    val m = Ols.fit2(train, yCol, x1Col, x2Col).head()
    val (b0, b1, b2) = (m.getDouble(1), m.getDouble(2), m.getDouble(3))
    val pred = F.lit(b0) + F.lit(b1) * F.col(x1Col).cast("double") +
      F.lit(b2) * F.col(x2Col).cast("double")
    Checkpoint.scoped(complete(cal, yCol, x1Col, x2Col)
      .select(F.abs(F.col(yCol).cast("double") - pred).as("__score"))) { scores =>
      val nCal = scores.count()
      // k = ceil((n+1)·(den−num)/den), exact integers
      val k = ((nCal + 1L) * (alphaDen - alphaNum) + alphaDen - 1L) / alphaDen
      require(k <= nCal,
        s"calibration split too small: need k=$k <= n_cal=$nCal (lower alphaDen or add data)")
      // the rank table reads its own checkpoint: released once q is read
      val q = Owner.scope(ExactQuantiles.percentRanksMulti(scores, Seq("__score"))
        .filter(F.col("n_below") < k && F.col("n_below") + F.col("n_value") >= k)
        .agg(F.min("value")).head().getDouble(0))
      Model(b0, b1, b2, q, nCal, k)
    }
  }

  /** The point prediction `b0 + b1·x1 + b2·x2` — one fixed IEEE tree,
    * model as literals, stateless (streams at ingestion). */
  def predColumn(m: Model, x1Col: String, x2Col: String): Column =
    F.lit(m.b0) + F.lit(m.b1) * F.col(x1Col).cast("double") +
      F.lit(m.b2) * F.col(x2Col).cast("double")

  /** Whether the truth falls inside `pred ± q`. */
  def coveredColumn(m: Model, yCol: String, x1Col: String, x2Col: String): Column =
    F.abs(F.col(yCol).cast("double") - predColumn(m, x1Col, x2Col)) <= F.lit(m.q)

  /** Per-test-row intervals `(idCol, y, pred, lo, hi, covered)` at
    * miscoverage `alpha = alphaNum/alphaDen` (default 1/10 → 90%
    * target coverage). Complete-case on the test split too (an
    * interval needs features and a truth to score against). */
  def intervals(df: DataFrame, idCol: String, yCol: String, x1Col: String,
      x2Col: String, alphaNum: Int = 1, alphaDen: Int = 10): DataFrame = {
    val m = fit(df, idCol, yCol, x1Col, x2Col, alphaNum, alphaDen)
    val pred = predColumn(m, x1Col, x2Col)
    complete(parts(df, idCol)._3, yCol, x1Col, x2Col)
      .select(F.col(idCol), F.col(yCol).cast("double").as("y"),
        pred.as("pred"),
        (pred - F.lit(m.q)).as("lo"), (pred + F.lit(m.q)).as("hi"),
        coveredColumn(m, yCol, x1Col, x2Col).as("covered"))
  }

  /** MONDRIAN (group-conditional) conformal coverage — one radius PER
    * GROUP (Vovk's Mondrian taxonomy): marginal conformal can cover
    * 90% overall while systematically missing one segment; calibrating
    * the radius within each group restores the guarantee per group.
    * Unlike [[fit]], the per-group radii never touch the driver: the
    * group's k-th smallest calibration score comes from per-group
    * distinct-value prefix sums (a group-partitioned window over the
    * bounded `(group, score)` count table — the segmented-ROC
    * discipline), so the whole pass is distributed and hash-exact.
    * Groups whose calibration split is too small for their k are
    * REPORTED with NULL radius/coverage rather than dropped or
    * silently under-covered. Returns one row per group:
    * `(group, n_cal, k, q, n_test, n_covered, coverage)`. */
  def mondrianCoverage(df: DataFrame, groupCol: String, idCol: String,
      yCol: String, x1Col: String, x2Col: String,
      alphaNum: Int = 1, alphaDen: Int = 10): DataFrame = {
    require(alphaNum >= 1 && alphaDen > alphaNum, "need 0 < alpha < 1")
    val (train, cal, test) = parts(df, idCol)
    val m = Ols.fit2(train, yCol, x1Col, x2Col).head()
    val (b0, b1, b2) = (m.getDouble(1), m.getDouble(2), m.getDouble(3))
    def pred = F.lit(b0) + F.lit(b1) * F.col(x1Col).cast("double") +
      F.lit(b2) * F.col(x2Col).cast("double")
    def ae = F.abs(F.col(yCol).cast("double") - pred)
    val calScores = complete(cal, yCol, x1Col, x2Col)
      .filter(F.col(groupCol).isNotNull)
      .select(F.col(groupCol).as("__g"), ae.as("__s"))
    val g = calScores.groupBy("__g", "__s").agg(F.count(F.lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__g").orderBy("__s")
    val ng = calScores.groupBy("__g").agg(F.count(F.lit(1)).as("n_cal"))
      .withColumn("k", F.expr(
        s"((n_cal + 1) * ${alphaDen - alphaNum} + ${alphaDen - 1}) div $alphaDen"))
    val radii = g
      .withColumn("__nb", F.coalesce(F.sum("__c").over(w) - F.col("__c"), F.lit(0L)))
      .join(ng, Seq("__g"))
      .filter(F.col("__nb") < F.col("k") &&
        F.col("__nb") + F.col("__c") >= F.col("k"))
      .groupBy("__g").agg(F.max("n_cal").as("n_cal"), F.max("k").as("k"),
        F.min("__s").as("q"))
    // groups with k > n_cal have NO qualifying value: re-attach them
    // with NULL q (reported, never silently dropped)
    val allG = ng.join(radii.select(F.col("__g"), F.col("q")), Seq("__g"), "left_outer")
    val tests = complete(test, yCol, x1Col, x2Col)
      .filter(F.col(groupCol).isNotNull)
      .select(F.col(groupCol).as("__g"), ae.as("__ae"))
    tests.join(allG, Seq("__g"))
      .groupBy("__g")
      .agg(F.max("n_cal").as("n_cal"), F.max("k").as("k"), F.max("q").as("q"),
        F.count(F.lit(1)).as("n_test"),
        F.sum(F.when(F.col("__ae") <= F.col("q"), 1L).otherwise(0L))
          .as("__cov"))
      .select(F.col("__g").as(groupCol), F.col("n_cal"), F.col("k"),
        F.col("q"), F.col("n_test"),
        F.when(F.col("q").isNull, F.lit(null).cast("long"))
          .otherwise(F.col("__cov")).as("n_covered"),
        F.when(F.col("q").isNull, F.lit(null).cast("double"))
          .otherwise(F.col("__cov").cast("double") /
            F.col("n_test").cast("double")).as("coverage"))
  }

  /** One-row guarantee check `(n_cal, k, q, n_test, n_covered,
    * coverage)` — empirical test coverage vs the ≥ 1−α target. */
  def coverage(df: DataFrame, idCol: String, yCol: String, x1Col: String,
      x2Col: String, alphaNum: Int = 1, alphaDen: Int = 10): DataFrame = {
    val m = fit(df, idCol, yCol, x1Col, x2Col, alphaNum, alphaDen)
    complete(parts(df, idCol)._3, yCol, x1Col, x2Col)
      .agg(F.count(F.lit(1)).as("n_test"),
        F.sum(F.when(coveredColumn(m, yCol, x1Col, x2Col), 1L)
          .otherwise(0L)).as("n_covered"))
      .select(F.lit(m.nCal).as("n_cal"), F.lit(m.k).as("k"), F.lit(m.q).as("q"),
        F.col("n_test"), F.col("n_covered"),
        (F.col("n_covered").cast("double") / F.col("n_test").cast("double"))
          .as("coverage"))
  }
}
