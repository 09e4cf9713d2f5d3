package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

import graft.core.Checkpoint

/** Learned quality filtering: a linear classifier over hashed
  * bag-of-token features — the "quality classifier" step of the
  * GPT-3/CCNet-style corpus pipelines (score every page against a
  * small trusted corpus, keep the high-scoring ones), the trainable
  * complement to the heuristic gates in
  * [[TextAnalysis.qualitySignals]] / Gopher / C4.
  *
  * Everything is expressed in Spark's own operators:
  *
  *  - '''Featurization''' is map-only: tokens hash into `[0, dim)`
  *    with either xxhash64 (production) or an md5 hex-substring
  *    derivation a SQL oracle replays bit-for-bit.
  *  - '''Scoring''' is map-only: the weight vector rides the plan as
  *    an array literal (KB–MB — codebook-sized, like the k-means
  *    centroids in [[Similarity]]); `logit = bias + Σ w[feat(tok)]`
  *    is one `aggregate` fold per document, no shuffle, no join. With
  *    dyadic-rational weights every partial sum is exactly
  *    representable, so the fold is associativity-safe and
  *    hash-matchable across engines.
  *  - '''Training''' is batch gradient descent on the logistic loss,
  *    one pass per iteration: per-document error `σ(w·x) − y` maps
  *    over the cached feature frame, then ONE feature-keyed exchange
  *    (`explode` + `groupBy(feature)` — map-side partial sums make
  *    the shuffle O(dim × partitions), never O(tokens)) collects a
  *    `dim`-bounded gradient to the driver. A sentinel feature −1
  *    appended once per document carries the bias gradient and the
  *    example count through the same exchange, so each iteration is
  *    exactly one job. At 100 TB the per-iteration cost is the scan
  *    (amortized by caching the featurized frame) + a dim-sized
  *    shuffle; `dim` stays a driver-side array (2^20 floats = 8 MB
  *    is still fine to broadcast as a literal).
  *
  * (Reference analog: whylogs profiles model INPUTS/outputs but has
  * no trainer; this operator exists for the training-data curation
  * pipelines — Brown et al. 2020 §A (GPT-3 quality classifier),
  * Wenzek et al. 2019 (CCNet) — that the corpus operators here feed.)
  */
object QualityClassifier {

  /** Feature id in `[0, dim)` — md5 mode: first 4 hex chars of
    * md5("f:" ++ token) mod dim, replayable by any md5-capable SQL
    * engine. */
  def featureMd5(token: Column, dim: Int): Column =
    F.pmod(
      F.conv(F.substring(F.md5(F.concat(F.lit("f:"), token)), 1, 4), 16, 10)
        .cast("int"),
      F.lit(dim))

  /** Feature id in `[0, dim)` — production mode: seeded xxhash64,
    * codegen'd, no string materialization. */
  def featureXx(token: Column, dim: Int): Column =
    F.pmod(F.xxhash64(F.lit("feat"), token), F.lit(dim.toLong)).cast("int")

  /** Deterministic md5-derived weight vector for oracle-checked
    * scoring: `w(j) = (hex4(md5("w:" ++ j)) − 32768) / 65536` — a
    * dyadic rational in `[−0.5, 0.5)` with 16 fractional bits, so
    * document-level sums are EXACT in binary64 (each partial sum of a
    * realistic document needs well under 53 mantissa bits), making
    * the logit independent of fold order in every engine. */
  def md5Weights(dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { j =>
      val hex = md.digest(s"w:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(4)
      (Integer.parseInt(hex, 16) - 32768).toDouble / 65536.0
    }
  }

  /** Non-empty lowercase whitespace tokens — [[TextAnalysis.tokens]]
    * minus empties, the corpus-wide tokenizer bridge. */
  private def toks(textCol: Column): Column =
    F.filter(TextAnalysis.tokens(textCol), t => F.length(t) > 0)

  /** `bias + Σ_tokens weights(feature(token))` as one map-only fold —
    * count-weighted by construction (each occurrence adds its
    * weight). Empty/blank text scores exactly `bias`. */
  def logitOf(textCol: Column, weights: Seq[Double], bias: Double,
      feature: Column => Column): Column = {
    val w = F.typedlit(weights)
    F.aggregate(toks(textCol), F.lit(bias),
      (acc, t) => acc + F.element_at(w, feature(t) + 1))
  }

  /** Score every document: `(idCol*, logit, keep = logit >= threshold)`.
    * Map-only — see [[logitOf]]. */
  def scoreDocs(df: DataFrame, textCol: String, idCol: String,
      weights: Seq[Double], bias: Double = 0.0, dim: Int = 1 << 12,
      md5Mode: Boolean = false, threshold: Double = 0.0): DataFrame = {
    require(weights.length == dim,
      s"weights.length ${weights.length} != dim $dim")
    val feat: Column => Column =
      if (md5Mode) featureMd5(_, dim) else featureXx(_, dim)
    df.select(F.col(idCol),
        logitOf(F.col(textCol), weights, bias, feat).as("logit"))
      .withColumn("keep", F.col("logit") >= threshold)
  }

  /** Train by batch gradient descent on the logistic loss (optional L2
    * on the weights, never the bias): returns `(weights, bias)`.
    * `labelCol` must be 0/1 (numeric or boolean). One Spark job per
    * iteration over a checkpointed featurized frame; deterministic up to
    * float summation order in the gradient exchange (≈1e-15 relative
    * — train is therefore specified by held-out accuracy, not
    * hash-equality; SCORING with fixed weights is exact). */
  def train(df: DataFrame, textCol: String, labelCol: String,
      dim: Int = 1 << 12, iters: Int = 20, lr: Double = 0.5,
      l2: Double = 0.0, md5Mode: Boolean = false): (Array[Double], Double) = {
    require(dim >= 1 && iters >= 0, s"bad dim=$dim / iters=$iters")
    val feat: Column => Column =
      if (md5Mode) featureMd5(_, dim) else featureXx(_, dim)
    // featurize ONCE: (label, feats: array<int>); the per-iteration
    // jobs rescan this checkpointed frame, not the corpus
    Checkpoint.scoped(df.select(
        F.col(labelCol).cast("double").as("__y"),
        F.transform(toks(F.col(textCol)), t => feat(t)).as("__f"))) { feats =>
      val w = Array.fill(dim)(0.0)
      var b = 0.0
      for (_ <- 0 until iters) {
        val wCol = F.typedlit(w.toSeq)
        val logit = F.aggregate(F.col("__f"), F.lit(b),
          (acc, j) => acc + F.element_at(wCol, j + 1))
        val err = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)) - F.col("__y")
        // one exchange for the whole gradient: the sentinel feature −1
        // rides once per document, so its group carries (Σ err, n)
        val grad = feats
          .select(err.as("__e"),
            F.concat(F.typedlit(Seq(-1)), F.col("__f")).as("__fs"))
          .select(F.col("__e"), F.explode(F.col("__fs")).as("__j"))
          .groupBy("__j")
          .agg(F.sum("__e").as("__g"), F.count(F.lit(1)).as("__n"))
          .collect()
        var gradB = 0.0
        var n = 0L
        val gw = new Array[Double](dim)
        grad.foreach { r =>
          val j = r.getInt(0)
          if (j < 0) { gradB = r.getDouble(1); n = r.getLong(2) }
          else gw(j) = r.getDouble(1)
        }
        require(n > 0, "train: no documents")
        var j = 0
        while (j < dim) {
          w(j) -= lr * (gw(j) / n + l2 * w(j))
          j += 1
        }
        b -= lr * gradB / n
      }
      (w, b)
    }
  }
}
