package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** Train/eval decontamination: find corpus documents that share word
  * n-grams with a benchmark/eval set, the standard leakage check before
  * training (13-gram overlap is the published GPT-3 procedure — Brown et
  * al., arXiv:2005.14165, appendix C).
  *
  * Scale shape: the eval set is small (benchmarks are MBs, the corpus is
  * TBs), so its distinct n-gram hashes BROADCAST; the corpus side is one
  * map-only pass (shingle → 64-bit ids → explode) into the broadcast
  * hash join, and the per-doc roll-up's partial aggregation collapses
  * each task's hits before the only exchange, which carries one row per
  * CONTAMINATED doc — cost scales with leakage found, not corpus size.
  * Matching on xxhash64 shingle ids instead of strings keeps the
  * broadcast and probe payloads at 8 bytes per gram (collision odds
  * ~|eval|·|corpus| / 2⁶⁴ — negligible at any feasible scale).
  */
object Decontaminate {

  /** Corpus docs sharing ≥ 1 distinct word n-gram with `evalSet`:
    * (doc_id, n_grams = doc's distinct n-gram count, hits = shared
    * distinct n-grams, contamination = hits/n_grams). Clean docs are
    * absent — a pipeline anti-joins the result to drop or audit. */
  def overlaps(
      corpus: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, n: Int = 13): DataFrame = {
    val evalGrams = evalSet
      .select(F.explode(Dedup.shingleIds(F.col(textCol), n)).as("gram"))
      .distinct()
    val exploded = corpus
      .select(F.col(idCol).as("doc_id"),
        Dedup.shingleIds(F.col(textCol), n).as("ids"))
      .select(F.col("doc_id"), F.size(F.col("ids")).cast("long").as("n_grams"),
        F.explode(F.col("ids")).as("gram"))
    exploded.join(F.broadcast(evalGrams), "gram")
      // ids are distinct per doc, so count(*) counts distinct shared grams
      .groupBy("doc_id", "n_grams").agg(F.count(F.lit(1)).as("hits"))
      .withColumn("contamination",
        F.col("hits").cast("double") / F.col("n_grams").cast("double"))
  }

  /** Train/eval split-leakage audit: near-duplicate pairs whose members
    * sit in DIFFERENT splits — the cross-split contamination that
    * inflates eval scores (Lee et al., arXiv:2107.06499 §6 report the
    * effect; deterministic hash splits prevent the same DOC leaking,
    * but near-duplicates still straddle splits freely). `df` must
    * carry a split-label column; output is
    * `(a, b, jaccard, split_a, split_b)` for every cross-split
    * near-dup pair.
    *
    * Plan: the [[Dedup.minHashNearDups]] pairs — finished on the driver
    * below its size bound, through the banded candidate exchange
    * (8-byte keys) above it — plus two lean joins back to the (id,
    * split) projection — split labels are map-only derivations, so
    * those scans prune to the id column. Not lazy: the pairing jobs run
    * before the call returns. Above the MinHash size bound the lazy result
    * reads the pairs' [[graft.core.Checkpoint.pin]]. */
  def splitLeakage(
      df: DataFrame, textCol: String, idCol: String, splitCol: String,
      numPerm: Int = 64, bands: Int = 32, threshold: Double = 0.5): DataFrame = {
    val pairs = Dedup.minHashNearDups(df, textCol, idCol, numPerm, bands, threshold)
    val s = df.select(F.col(idCol), F.col(splitCol))
    pairs
      .join(s.select(F.col(idCol).as("a"), F.col(splitCol).as("split_a")), Seq("a"))
      .join(s.select(F.col(idCol).as("b"), F.col(splitCol).as("split_b")), Seq("b"))
      .filter(F.col("split_a") =!= F.col("split_b"))
      .select("a", "b", "jaccard", "split_a", "split_b")
  }
}
