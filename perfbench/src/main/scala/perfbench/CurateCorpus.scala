package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}

import graft.pipeline.{Dedup, Similarity}

/** Corpus curation: exact dedup, MinHash near-duplicate pairs and their
  * connected-component clusters, then an IVF-PQ index build and search
  * over the corpus embeddings. */
final class CurateCorpus(input: String, work: String) extends Workload(input, work) {
  private val docs = s"$input/docs"
  private val k = 5
  /** Bounds fixed from the parameters before any run:
    *  - near-dup recall: a 4% word-edit rate keeps 3-shingle Jaccard near
    *    0.8, where 32 bands of 2 rows miss a pair with p < 1e-12 and the
    *    0.5 Jaccard filter keeps it;
    *  - IVF-PQ: every query's planted neighbour (cosine ~1) lies in its
    *    nearest cell, and exact re-ranking of 50 candidates from 4 of 16
    *    cells puts it first; recall@5 against brute force stays high. */
  private val nearRecallBound = 0.98
  private val plantedHitBound = 0.95
  private val recallAtKBound = 0.8

  val warmupOps = 3
  def itemsPerOp: Long = expected.get("docs").asLong

  def op(ctx: OpContext): AnyRef = {
    val spark = ctx.spark
    val corpus = spark.read.parquet(docs)
    val dropped = ctx.span("dedup_exact") {
      Dedup.exact(corpus, "text", "doc_id").filter(!F.col("keep"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val pairs = ctx.span("minhash_pairs") {
      Dedup.minHashNearDups(corpus, "text", "doc_id").select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val clusters = ctx.span("near_dup_clusters") {
      Dedup.nearDupClusters(corpus, "text", "doc_id").select("doc_id", "component").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val queries = spark.read.parquet(s"$input/queries")
    val index = ctx.span("ivfpq_build")(Similarity.ivfPqBuild(spark.read.parquet(s"$input/embeddings")))
    val found = ctx.span("ivfpq_search") {
      Similarity.ivfPqSearch(index, queries, k = k).select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    (dropped, pairs, clusters, found)
  }

  def check(spark: SparkSession, outputs: Seq[(Int, AnyRef)]) = {
    def pairsOf(key: String) = expected.get(key).elements.asScala
      .map(p => p.get(0).asLong -> p.get(1).asLong).toSeq
    val exactDups = pairsOf("exact_dups")
    val nearDups = pairsOf("near_dups")
    // planted group of every duplicated doc = its source doc
    val group: Map[Long, Long] = (exactDups ++ nearDups).flatMap { case (d, s) => Seq(d -> s, s -> s) }.toMap
    val exactGroups = exactDups.groupBy(_._2).map { case (s, ds) => ds.map(_._1) :+ s }
    val mustDrop = exactGroups.flatMap(g => g.filter(_ != g.min)).toSet
    val planted = expected.get("planted_neighbour").fields.asScala
      .map(e => e.getKey.toLong -> e.getValue.asLong).toMap
    val exact = Similarity.bruteForceTopK(spark.read.parquet(s"$input/embeddings"),
      spark.read.parquet(s"$input/queries"), k = k)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    var yields, recalls = Seq.empty[Double]
    val failures = outputs.map { case (i, out) =>
      val (dropped, pairs, clusters, found) = out.asInstanceOf[(Set[Long], Array[(Long, Long)],
        Map[Long, Long], Array[(Long, Long)])]
      val bad = Seq.newBuilder[String]
      if (dropped != mustDrop)
        bad += s"exact dedup dropped ${dropped.size} docs, planted duplicates ${mustDrop.size} " +
          s"(${(mustDrop -- dropped).size} kept, ${(dropped -- mustDrop).size} wrongly dropped)"
      val nearFound = nearDups.count { case (d, s) => clusters.get(d).exists(c => clusters.get(s).contains(c)) }
      val nearRecall = nearFound.toDouble / nearDups.size
      if (nearRecall < nearRecallBound) bad += s"near-dup recall $nearRecall < $nearRecallBound"
      yields :+= pairs.count { case (a, b) => group.get(a).exists(group.get(b).contains) }.toDouble /
        math.max(1, pairs.length)
      val byQuery = found.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      val hits = planted.count { case (q, t) => byQuery.get(q).exists(_.contains(t)) }.toDouble / planted.size
      if (hits < plantedHitBound) bad += s"IVF-PQ found ${hits * 100}% of planted neighbours"
      val recall = exact.map { case (q, want) =>
        byQuery.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
      }.sum / exact.size
      recalls :+= recall
      if (recall < recallAtKBound) bad += s"IVF-PQ recall@$k $recall < $recallAtKBound"
      i -> bad.result()
    }.toMap
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    (failures, Map("pipeline.pair_yield" -> mean(yields), "pipeline.ivfpq_recall_at_k" -> mean(recalls)))
  }
}
