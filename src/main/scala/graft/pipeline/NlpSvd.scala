package graft.pipeline

import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** NLP SVD metric (reference SvdMetric / UpdatableSvdMetric,
  * `experimental/extras/nlp_metric.py:46-177`): a truncated SVD of the
  * document-term space, used to score how far a document's term vector
  * falls outside the learned subspace:
  *
  *   residual(x) = ‖V V⁺ x − x‖ / ‖x‖
  *
  * (the reference writes U S S⁺ Uᵀ x − x over its term×doc orientation;
  * with rows = documents, the term-space basis is the right factor V).
  *
  * Spark shape: term vectors are a map-only hashing-trick expression (no
  * vocabulary build, no shuffle); the truncated factorization comes from
  * MLlib's RowMatrix.computeSVD, whose Gramian is a treeAggregate — one
  * pass over the corpus, a D×D driver-side eigenproblem (D = hash dim,
  * bounded by construction). The fitted basis is KB-scale driver state,
  * like every other profile summary.
  */
object NlpSvd {

  /** Map-only hashing-trick term vector: slot i counts tokens with
    * xxhash64(token) ≡ i (mod dim). One pass over the tokens
    * (O(tokens + dim) per row) via the native [[graft.functions.TermVector]]
    * expression, codegen'd. NULL text → NULL vector (excluded from fit
    * and scored NULL); tokenization shares [[Dedup.tokens]], so empty
    * text → zero vector (no spurious ""-token slot), which contributes
    * nothing to the Gramian and scores residual 0. */
  def termVector(textCol: Column, dim: Int): Column =
    graft.functions.TermVectorF.term_vector(Dedup.tokens(textCol), dim)

  /** The original higher-order-function formulation of [[termVector]] —
    * O(dim × tokens) per row (re-walks the token array once per slot),
    * kept ONLY as the semantics oracle for NlpSvdSpec. Known divergence
    * (the bug that motivated the native expression): NULL text yields an
    * array of per-slot NULLs rather than a NULL array. */
  private[graft] def termVectorHof(textCol: Column, dim: Int): Column = {
    val toks = Dedup.tokens(textCol)
    F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
      i => F.size(F.filter(toks, t => F.pmod(F.xxhash64(t), F.lit(dim)) === i))
        .cast("double"))
  }

  /** Fitted truncated SVD: `v` is the D×k term-space basis (columns are
    * right singular vectors), `s` the singular values. Non-updating, like
    * the reference SvdMetric — refit or [[SvdSummary.resketch]] to fold
    * in new data. */
  final case class SvdSummary(k: Int, dim: Int, v: Array[Array[Double]], s: Array[Double]) {

    /** ‖V V⁺ x − x‖ / ‖x‖ — 0 when x lies in the learned subspace, → 1
      * when orthogonal to it (components with s ≈ 0 are masked, matching
      * the reference's `_reciprocal`). */
    def residual(x: Array[Double]): Double = {
      require(x.length == dim, s"expected dim $dim, got ${x.length}")
      val proj = new Array[Double](x.length)
      var j = 0
      while (j < k) {
        if (s(j) > 1e-12) {
          val col = v(j)
          var dot = 0.0
          var i = 0
          while (i < x.length) { dot += col(i) * x(i); i += 1 }
          i = 0
          while (i < x.length) { proj(i) += dot * col(i); i += 1 }
        }
        j += 1
      }
      var num = 0.0
      var den = 0.0
      var i = 0
      while (i < x.length) {
        val d = proj(i) - x(i)
        num += d * d
        den += x(i) * x(i)
        i += 1
      }
      if (den == 0.0) 0.0 else math.sqrt(num) / math.sqrt(den)
    }
  }

  /** Fit the truncated SVD over a term-vector column
    * (array<double> of length `dim`); NULL vectors are excluded. */
  def fit(df: DataFrame, vecCol: String, k: Int, dim: Int): SvdSummary = {
    val rows = df.select(F.col(vecCol)).filter(F.col(vecCol).isNotNull).rdd.map { r =>
      MlVectors.dense(r.getAs[scala.collection.Seq[Double]](0).toArray)
    }
    val svd = new RowMatrix(rows).computeSVD(k, computeU = false)
    val vm = svd.V // dim × k, column-major
    val cols = Array.tabulate(svd.s.size) { j =>
      Array.tabulate(dim)(i => vm(i, j))
    }
    SvdSummary(svd.s.size, dim, cols, svd.s.toArray)
  }

  /** Residual scores for every document: fit on the corpus, then one
    * map-only scoring pass (basis broadcast via closure). The term
    * vectors are persisted across the two jobs (Gramian + scoring) —
    * they're the dominant map cost and would otherwise compute twice.
    * NULL text scores NULL. */
  def residualsDF(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64, k: Int = 8): DataFrame =
    residualsFromVectors(
      df.select(F.col(idCol), termVector(F.col(textCol), dim).as("__tv")),
      idCol, "__tv", dim, k)

  /** Fit-and-score over a PRE-BUILT vector column — the core of
    * [[residualsDF]] (which derives its vectors from text via the
    * hashing trick), exposed so analytically-constructed fixtures can
    * anchor the family hash-exactly: on a corpus whose Gramian is
    * EXACTLY diagonal (axis-aligned vectors with integer entries; any
    * cross terms sign-balanced to exact cancellation) the fitted
    * subspace is the top-k axes and every residual is closed-form —
    * see the `nlp_svd_residual_exact` query. Vectors are persisted
    * across the two jobs (Gramian + scoring); NULL vectors score NULL.
    * Not lazy: the result is an eager [[graft.core.Checkpoint.pin]]. */
  def residualsFromVectors(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int): DataFrame = {
    // persist, not Checkpoint.scoped: fit's first job (RowMatrix's `first()`) reads one
    // partition, so a lazy local checkpoint adds a job for the rest (4 → 5 on 4 partitions)
    graft.core.Owner.using { o =>
      val withVec = o.own(df
        .select(F.col(idCol), F.col(vecCol).cast("array<double>").as("__tv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))(
        _.unpersist(blocking = false))
      val summary = fit(withVec, "__tv", k, dim)
      val resid = F.udf((v: scala.collection.Seq[Double]) => summary.residual(v.toArray))
      val out = withVec.select(F.col(idCol),
        F.when(F.col("__tv").isNotNull, resid(F.col("__tv"))).as("residual"))
      // materialize (lineage truncated) so the vectors can be released
      // before callers run their own actions
      graft.core.Checkpoint.pin(out, eager = true)
    }
  }
}
