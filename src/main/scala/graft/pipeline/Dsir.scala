package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** DSIR-style importance weighting for training-data selection (Xie,
  * Santurkar, Ma & Liang, "Data Selection for Language Models via
  * Importance Resampling", NeurIPS 2023): score every RAW-corpus
  * document by how much more likely its tokens are under the TARGET
  * corpus's bag-of-words model than under the raw corpus's own — the
  * standard recipe for skimming a 100 TB crawl toward a
  * high-quality target distribution (the paper hashes n-grams; word
  * unigrams are the degenerate hash, and the plumbing is identical).
  *
  * Exactness bridge: both unigram models use add-1 smoothing over the
  * SHARED vocabulary `V` (distinct tokens of raw ∪ target), so every
  * per-token log importance ratio
  * `ln( (c_t+1)/(N_t+V) · (N_r+V)/(c_r+1) )` is the log of one exact
  * BIGINT fraction, quantized IN-PLAN as `floor(1e6·ln(...))` (the
  * NB/LM/PMI bridge) — integer token weights sum per document as
  * BIGINTs, so `weight_q` is partitioning-invariant and replays in
  * SQL bit-for-bit. Integer range: `(c+1)·(N+V) < 2⁶³` — loud (ANSI)
  * past ~3e9-token corpora per side; shard and merge counts beyond.
  *
  * Scale shape: one token-histogram exchange per corpus (map-side
  * combined), a vocab-bounded full-outer join + broadcast 1-row
  * totals to build the per-token ratio table, then ONE token-keyed
  * shuffle join of the raw token stream against that table (AQE
  * broadcasts it when the vocabulary is small) and a map-side-combined
  * groupBy(doc). No global sort; selection is top-k
  * (TakeOrderedAndProject), never a full ORDER BY.
  *
  * (Reference analog: none — whylogs profiles distributions; this is
  * part of the beyond-reference LLM-pipeline surface, downstream of
  * [[HtmlExtract]]/[[Dedup]] and upstream of mixture budgeting.)
  */
object Dsir {

  /** Per-document importance weights of `raw` toward `target`:
    * `(idCol, n_tokens, weight_q, nats_per_token)` — `weight_q` is the
    * exact integer sum of quantized per-token log ratios; positive
    * means target-like. Documents with no tokens are absent
    * (complete-case). Tokens are [[TextAnalysis.tokens]] (lowercased
    * whitespace words). */
  def importanceWeights(raw: DataFrame, target: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    def toks(df: DataFrame, cols: Seq[org.apache.spark.sql.Column]) =
      df.select(cols :+ F.explode(TextAnalysis.nonEmptyTokens(F.col(textCol))).as("__w"): _*)
    val tokRaw = toks(raw, Seq(F.col(idCol).as("__id")))
    val cr = tokRaw.groupBy("__w").agg(F.count(F.lit(1)).as("__cr"))
    val ct = toks(target, Seq.empty)
      .groupBy("__w").agg(F.count(F.lit(1)).as("__ct"))
    val vocab = cr.join(ct, Seq("__w"), "full_outer")
      .select(F.col("__w"),
        F.coalesce(F.col("__cr"), F.lit(0L)).as("__cr"),
        F.coalesce(F.col("__ct"), F.lit(0L)).as("__ct"))
      .transform(graft.core.Checkpoint.pin(_, eager = false))
    val tot = vocab.agg(F.sum("__cr").as("__nr"), F.sum("__ct").as("__nt"),
      F.count(F.lit(1)).as("__v"))
    val lr = vocab.crossJoin(F.broadcast(tot))
      .select(F.col("__w"),
        F.floor(F.lit(1000000.0) * F.log(
          ((F.col("__ct") + F.lit(1L)) * (F.col("__nr") + F.col("__v"))).cast("double") /
            ((F.col("__cr") + F.lit(1L)) * (F.col("__nt") + F.col("__v"))).cast("double")))
          .cast("long").as("__lr_q"))
    tokRaw.join(lr, Seq("__w"))
      .groupBy("__id")
      .agg(F.count(F.lit(1)).as("n_tokens"), F.sum("__lr_q").as("weight_q"))
      .select(F.col("__id").as(idCol), F.col("n_tokens"), F.col("weight_q"),
        ((F.col("weight_q").cast("double") / F.lit(1000000.0)) /
          F.col("n_tokens").cast("double")).as("nats_per_token"))
  }

  /** Selection step: the `k` most target-like raw documents by
    * LENGTH-NORMALIZED weight (`nats_per_token` — the raw sum favors
    * long documents), ties broken by id — deterministic, and a top-k
    * plan shape (never a global sort). */
  def selectTopK(raw: DataFrame, target: DataFrame, textCol: String,
      idCol: String, k: Int): DataFrame =
    importanceWeights(raw, target, textCol, idCol)
      .orderBy(F.col("nats_per_token").desc, F.col(idCol)).limit(k)
}
