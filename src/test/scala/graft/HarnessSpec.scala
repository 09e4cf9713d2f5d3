package graft

import org.apache.spark.sql.{functions => F}
import org.scalatest.funsuite.AnyFunSuite

/** The committed measurement harnesses carry real logic; pin it.
  * Bench.outliers drives the bounded third-pass retry; ScaleProbe's
  * replication must scale key universes without collisions. */
class HarnessSpec extends AnyFunSuite {

  test("Bench.outliers: 4x-and-1s-absolute rule, prior-missing queries skipped") {
    val prior = Map("a" -> 1.0, "b" -> 0.1, "c" -> 5.0)
    // a: 4.2x and +3.2s -> retry; b: 5x but only +0.4s -> skip (floor);
    // c: regressed but only 1.5x -> skip; d: no prior -> skip
    val best = Map("a" -> 4.2, "b" -> 0.5, "c" -> 7.5, "d" -> 99.0)
    assert(Bench.outliers(best, prior) == Set("a"))
    // exactly-4x is not an outlier (strict >)
    assert(Bench.outliers(Map("a" -> 4.0), Map("a" -> 1.0)).isEmpty)
    assert(Bench.outliers(best, Map.empty).isEmpty)
  }

  test("query registry: 311 entries, these 20 rows-only, every other one with oracle SQL") {
    val all = graft.api.StandardQueries.all
    assert(all.size == 311)
    val rowsOnly = all.collect { case (name, q) if q.oracle.isEmpty => name }.toSet
    assert(rowsOnly == Set(
      "cardinality_hll_bounds", "dedup_embedding_lsh", "dedup_minhash_sig",
      "dedup_simhash", "doc_fingerprint", "drift_scores", "embedding_ivf",
      "embedding_ivf_recall", "embedding_ivfpq", "embedding_pca_refs",
      "embedding_pq", "embedding_pq_recall", "frame_hashes",
      "full_profile_summary", "kll_quantiles", "nlp_svd_residual",
      "quality_classifier_train", "semdedup_auto", "semdedup_clustered",
      "viz_summary_report"))
    assert(SparkEntry.queries.keySet == all.keySet)
    assert(SparkEntry.oracleSql.keySet == all.keySet -- rowsOnly)
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }
}

/** ScaleProbe replication semantics on a real Spark frame. */
class ScaleProbeSpec extends SparkSpec {

  test("replicated events: key universes scale, no key collisions, ts preserved") {
    val src = eventsDF.limit(500)
    val out = ScaleProbeTestHook.replicate(src, "events", 3)
    val n = src.count()
    assert(out.count() == 3 * n)
    // shifted keys never collide across copies
    assert(out.select("event_id").distinct().count() == 3 * n)
    val users = src.select("user_id").distinct().count()
    assert(out.select("user_id").distinct().count() == 3 * users)
    // non-key columns replicate verbatim: per-copy ts distributions equal
    assert(out.groupBy("ts").count().filter(F.col("count") =!= 3).count() == 0)
  }

  test("replicated documents: copy 0 text exact, later copies near-duplicates") {
    val src = table("documents").limit(200)
    val out = ScaleProbeTestHook.replicate(src, "documents", 4)
    assert(out.count() == 4 * src.count())
    val texts = out.groupBy("text").count()
    // originals survive once each; suffixed copies are all distinct
    assert(texts.filter(F.col("count") > 1).count() == 0)
    assert(out.filter(F.col("text").rlike(" rep[123]$")).count() == 3 * src.count())
  }

  test("replicated embeddings: vectors shifted per copy, ids collision-free") {
    val src = table("embeddings").limit(100)
    val out = ScaleProbeTestHook.replicate(src, "embeddings", 5)
    assert(out.count() == 5 * src.count())
    assert(out.select("vec_id").distinct().count() == 5 * src.count())
  }
}

/** Test-only bridge to ScaleProbe's private replication. */
object ScaleProbeTestHook {
  def replicate(df: org.apache.spark.sql.DataFrame, table: String, copies: Int) =
    ScaleProbe.replicateForTest(df, table, copies)
}
