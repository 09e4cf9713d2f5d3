package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

import graft.core.Checkpoint

/** Multinomial Naive Bayes over whitespace tokens — the trainable
  * document classifier whose TRAINING is itself hash-exact: the model
  * is nothing but counts (per-(class, token) occurrences, per-class
  * token totals and doc counts, vocabulary size), so unlike the
  * gradient-descent [[QualityClassifier]] the fitted model — not just
  * scoring under fixed weights — replays bit-for-bit in a SQL oracle.
  * The curation use is the CCNet/fastText slot: label a small seed by
  * language/domain/quality tier, train in one counting pass over it,
  * score the 100 TB corpus map-side-heavy.
  *
  * Exactness: log-probabilities are INTEGER-QUANTIZED —
  * `lnq(x) = floor(ln(x) · quant)` as a BIGINT — so per-document
  * accumulation is integer summation: associative, order-free, exact
  * under any partitioning, and identical in any engine (the
  * established cross-libm ln bridge, see
  * [[TextAnalysis.bm25TopDocs]]). A document's class score is
  * `lnq(nDocs_c) − lnq(nDocs) + Σ_tokens [lnq(cnt(c,t) + 1) −
  * lnq(total_c + V)]` — Laplace-smoothed multinomial NB with all
  * terms ±1e-6-quantized; the argmax is unaffected except at exact
  * integer-score ties, which break deterministically (largest class
  * label wins, mirrored in the oracle).
  *
  * Scale shape: training is one exchange (groupBy(class, token) with
  * map-side combine) plus two bounded aggregates; per-class stats
  * (#classes rows) collect to the driver and ride scoring as folded
  * literals. Scoring is explode → ONE token-keyed join against the
  * model (AQE broadcasts it while the vocabulary is small, shuffles
  * both sides keyed by token when it is not — never a driver
  * bottleneck) → ONE doc-keyed exchange summing k integer columns
  * with map-side partials. #classes must be driver-small (it becomes
  * a column fan-out); vocabulary may be arbitrarily large.
  *
  * (Reference analog: none — whylogs profiles classifier OUTPUTS
  * (§2.C); this is the classifier a training-data pipeline runs ahead
  * of them. Formulation: McCallum & Nigam 1998, multinomial event
  * model with add-one smoothing.)
  */
object NaiveBayes {

  /** `floor(ln(x) · quant)` as BIGINT — the integer-quantized log. */
  private def lnqL(x: Column, quant: Double): Column =
    F.floor(F.log(x.cast("double")) * F.lit(quant)).cast("long")

  /** Train on `train` (`textCol`, `labelCol`) and score `score`
    * (`idCol`, `textCol`): one row per scored document —
    * `(idCol, pred, score)` where `score` is the winning class's
    * quantized log-probability over `quant` (one IEEE division).
    * Empty/blank documents score on priors alone. Class labels must
    * be non-null and driver-small in number. */
  def trainScore(train: DataFrame, score: DataFrame,
      textCol: String, labelCol: String, idCol: String,
      quant: Double = 1000000.0): DataFrame = {
    withCounts(train, textCol, labelCol, "trainScore") { (tc, stats) =>
      val vocab = tc.select("__t").distinct().count()
      val nDocs = stats.map(_._3).sum
      // model: token -> map(class -> cnt); lookup by key, so the
      // collect_list order inside a token group is irrelevant
      val model = tc.groupBy(F.col("__t").as("tok"))
        .agg(F.map_from_entries(
          F.collect_list(F.struct(F.col("__c"), F.col("__cnt")))).as("__m"))
      val exploded = score.select(F.col(idCol),
        F.explode_outer(TextAnalysis.nonEmptyTokens(F.col(textCol))).as("tok"))
      val joined = exploded.join(model, Seq("tok"), "left")
      // per-class integer contributions; constants fold at plan time
      val sumCols = stats.zipWithIndex.map { case ((c, total, _), i) =>
        val cnt = F.coalesce(F.element_at(F.col("__m"), F.lit(c)), F.lit(0L))
        val perTok = lnqL(cnt + F.lit(1L), quant) -
          lnqL(F.lit((total + vocab).toDouble), quant)
        F.sum(F.when(F.col("tok").isNull, F.lit(0L)).otherwise(perTok))
          .as(s"__s$i")
      }.toSeq
      val sums = joined.groupBy(F.col(idCol))
        .agg(sumCols.head, sumCols.tail: _*)
      val scored = stats.zipWithIndex.map { case ((c, _, nd), i) =>
        val prior = lnqL(F.lit(nd.toDouble), quant) -
          lnqL(F.lit(nDocs.toDouble), quant)
        F.struct((F.coalesce(F.col(s"__s$i"), F.lit(0L)) + prior).as("q"),
          F.lit(c).as("c"))
      }
      // struct max: highest score, ties to the largest class label
      val best = F.array_max(F.array(scored.toSeq: _*))
      sums.select(F.col(idCol), best.getField("c").as("pred"),
          (best.getField("q").cast("double") / F.lit(quant)).as("score"))
        .transform(Checkpoint.pin(_, eager = true))
    }
  }

  /** Runs `use` on the checkpointed (class `__c`, token `__t`, `__cnt`)
    * counts of `train` and the per-class (label, token total, doc count)
    * stats sorted by label: the training pass [[trainScore]] and
    * [[trainModel]] share. */
  private def withCounts[T](train: DataFrame, textCol: String, labelCol: String,
      caller: String)(use: (DataFrame, Array[(String, Long, Long)]) => T): T = {
    val label = F.col(labelCol).cast("string").as("__c")
    Checkpoint.scoped(train
        .select(label, F.explode(TextAnalysis.nonEmptyTokens(F.col(textCol))).as("__t"))
        .groupBy("__c", "__t").agg(F.count(F.lit(1)).as("__cnt"))) { tc =>
      val stats = tc.groupBy("__c").agg(F.sum("__cnt").as("__total"))
        .join(train.groupBy(label).agg(F.count(F.lit(1)).as("__nd")), Seq("__c"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      require(stats.nonEmpty, s"$caller: no training documents")
      use(tc, stats)
    }
  }

  /** A driver-held NB model: the per-(token, class) count table plus
    * class stats. Counts stay RAW integers — every log is quantized
    * in-plan at scoring time, so model transport never touches libm.
    * Sized by the TRAINING corpus's vocabulary: the CCNet/GPT-3
    * pattern trains on a small trusted seed, so the model is a plan
    * literal even when the corpus being scored is 100 TB. */
  final case class NbModel(
      classes: Seq[String], classTotals: Seq[Long], classDocs: Seq[Long],
      vocab: Long, nDocs: Long, counts: Map[String, Seq[Long]],
      quant: Double)

  /** One counting pass over `train` → driver-held [[NbModel]]
    * (classes sorted; `counts(token)(i)` = occurrences under
    * `classes(i)`). Same exchange shape as [[trainScore]]'s training
    * half; the collect is bounded by seed-vocabulary × classes. */
  def trainModel(train: DataFrame, textCol: String, labelCol: String,
      quant: Double = 1000000.0): NbModel = {
    withCounts(train, textCol, labelCol, "trainModel") { (tc, stats) =>
      val classIdx = stats.map(_._1).zipWithIndex.toMap
      val counts = tc.collect()
        .groupBy(_.getString(1))
        .map { case (tok, rows) =>
          val arr = Array.fill(stats.length)(0L)
          rows.foreach(r => arr(classIdx(r.getString(0))) = r.getLong(2))
          tok -> arr.toSeq
        }
      NbModel(stats.map(_._1).toSeq, stats.map(_._2).toSeq, stats.map(_._3).toSeq,
        counts.size.toLong, stats.map(_._3).sum, counts, quant)
    }
  }

  /** MAP-ONLY scoring against a driver-held model:
    * `struct(pred, score)` per row, the exact same quantized-integer
    * arithmetic as [[trainScore]] (their outputs are bit-identical on
    * the same training data — pinned by spec). No shuffle, no join, no
    * state — so it composes with Structured Streaming in append mode
    * (ingestion-time classification) and costs one corpus scan at any
    * scale. The model rides the plan as ONE map literal; lookups are
    * per-token, so keep the seed vocabulary bounded (the contract in
    * [[NbModel]]).
    *
    * The seed-vocabulary contract is ENFORCED, not just documented:
    * `vocab × classes` must stay ≤ `maxPlanCells` (default 2⁶⁴k cells
    * ≈ a few MB of plan literal). A model trained on a large corpus
    * would otherwise ride the plan as a multi-MB `typedlit` and fail
    * deep inside codegen/plan serialization, far from the cause —
    * route such models through [[trainScore]]'s distributed
    * token-keyed join instead, which has no vocabulary ceiling. */
  def scoreColumn(text: Column, model: NbModel,
      maxPlanCells: Long = 1L << 18): Column = {
    val cells = model.vocab * model.classes.length
    require(cells <= maxPlanCells,
      s"NbModel has vocab=${model.vocab} x classes=${model.classes.length} = " +
        s"$cells plan-literal cells > maxPlanCells=$maxPlanCells; a model this " +
        "size cannot ride the plan as one typedlit map - score with " +
        "NaiveBayes.trainScore (distributed token-keyed join) or raise the " +
        "bound explicitly if you accept the plan size")
    val k = model.classes.length
    val cm = F.typedlit(model.counts)
    val zeros = F.typedlit(Seq.fill(k)(0L))
    val lnTotV = model.classTotals.map(t =>
      lnqL(F.lit((t + model.vocab).toDouble), model.quant))
    val step = (acc: Column, t: Column) => {
      val arr = F.coalesce(F.element_at(cm, t), zeros)
      val contrib = F.array((0 until k).map { i =>
        lnqL(F.element_at(arr, i + 1) + F.lit(1L), model.quant) - lnTotV(i)
      }: _*)
      F.zip_with(acc, contrib, (a, b) => a + b)
    }
    val sums = F.aggregate(TextAnalysis.nonEmptyTokens(text), zeros, step)
    val scored = (0 until k).map { i =>
      val prior = lnqL(F.lit(model.classDocs(i).toDouble), model.quant) -
        lnqL(F.lit(model.nDocs.toDouble), model.quant)
      F.struct((F.element_at(sums, i + 1) + prior).as("q"),
        F.lit(model.classes(i)).as("c"))
    }
    val best = F.array_max(F.array(scored: _*))
    F.struct(best.getField("c").as("pred"),
      (best.getField("q").cast("double") / F.lit(model.quant)).as("score"))
  }
}
