package graft.pipeline

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.SparkSpec

/** Composed IVF-PQ ([[Similarity.ivfPqTopK]]): the exhaustive-config
  * exactness contract, the pruned-config recall gate vs brute force,
  * the cell-keyed plan shape (never all-pairs), and invariances. */
class IvfPqSpec extends SparkSpec {

  private def planOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  private def topkSet(df: DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getAs[Number](3).longValue())).toSet

  test("exhaustive probing + exhaustive re-rank equals brute force exactly") {
    val emb = table("embeddings")
    val qs = emb.filter(F.col("vec_id") < 10)
    val bf = topkSet(Similarity.bruteForceTopK(emb, qs, k = 5))
    val ivfpq = topkSet(Similarity.ivfPqTopK(emb, qs,
      numCentroids = 8, nprobe = 8, m = 16, ksub = 16, k = 5,
      rerank = 1000000))
    assert(ivfpq == bf && bf.nonEmpty)
  }

  test("pruned config recall@5 vs brute force >= 0.8 on the fixture") {
    val emb = table("embeddings")
    val qs = emb.filter(F.col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, qs, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.ivfPqTopK(emb, qs,
      numCentroids = 8, nprobe = 4, m = 16, ksub = 16, k = 5, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & got).size.toDouble / bf.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("plan: ADC scan is a cell-keyed equi-join — no cartesian/all-pairs anywhere") {
    val emb = table("embeddings")
    val out = Similarity.ivfPqTopK(emb, emb.filter(F.col("vec_id") < 5),
      numCentroids = 8, nprobe = 2, m = 16, ksub = 16, k = 3, rerank = 20)
    val plan = planOf(out)
    // pqTopK's full-corpus ADC scan is a crossJoin by design; the
    // composed index must NEVER degrade to that — candidates reach the
    // ADC scorer only through the __cell equi-join
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"ADC scan degenerated to all-pairs:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast cell-keyed join:\n${plan.take(3000)}")
  }

  test("exhaustive config is partitioning-invariant") {
    val emb = table("embeddings")
    val qs = emb.filter(F.col("vec_id") < 5)
    val a = topkSet(Similarity.ivfPqTopK(emb.coalesce(1), qs,
      numCentroids = 4, nprobe = 4, m = 16, ksub = 8, k = 5, rerank = 1000000))
    val b = topkSet(Similarity.ivfPqTopK(emb.repartition(7), qs,
      numCentroids = 4, nprobe = 4, m = 16, ksub = 8, k = 5, rerank = 1000000))
    assert(a == b && a.nonEmpty)
  }

  test("index builds once and serves many searches (checkpointed codes reused)") {
    val emb = table("embeddings")
    val ix = Similarity.ivfPqBuild(emb, numCentroids = 4, m = 16, ksub = 8)
    val q5 = emb.filter(F.col("vec_id") < 5)
    val q10 = emb.filter(F.col("vec_id") >= 5 && F.col("vec_id") < 10)
    // two independent searches against the same index; the second must
    // not depend on the first, and exhaustive configs match brute force
    val a = topkSet(Similarity.ivfPqSearch(ix, q5, nprobe = 4, k = 3, rerank = 1000000))
    val b = topkSet(Similarity.ivfPqSearch(ix, q10, nprobe = 4, k = 3, rerank = 1000000))
    val bfA = topkSet(Similarity.bruteForceTopK(emb, q5, k = 3))
    val bfB = topkSet(Similarity.bruteForceTopK(emb, q10, k = 3))
    assert(a == bfA && b == bfB && a.nonEmpty && b.nonEmpty)
  }

  test("ivfPqStream: per-micro-batch search equals the batch search") {
    val emb = table("embeddings")
    val ix = Similarity.ivfPqBuild(emb, numCentroids = 4, m = 16, ksub = 8)
    val qs = emb.filter(F.col("vec_id") < 10)
    val batch = Similarity.ivfPqSearch(ix, qs, nprobe = 2, k = 3, rerank = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = targetTempDir("ivfpq_spec_")
    val sdf = spark.readStream.schema(emb.schema)
      .parquet(graft.api.StandardQueries.streamableDir(s"$sfDir/embeddings.parquet"))
      .filter(F.col("vec_id") < 10)
    val q = Similarity.ivfPqStream(ix, sdf, "vec_id", "embedding", out,
      nprobe = 2, k = 3, rerank = 20)
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("ivfPqIngest: streamed code store equals the build-time encoding; cells prune on disk") {
    val emb = table("embeddings")
    val ix = Similarity.ivfPqBuild(emb, numCentroids = 4, m = 16, ksub = 8)
    val base = targetTempDir("ivfpq_ingest_spec_")
    val sdf = spark.readStream.schema(emb.schema)
      .parquet(graft.api.StandardQueries.streamableDir(s"$sfDir/embeddings.parquet"))
    Similarity.ivfPqIngest(ix, sdf, "vec_id", "embedding",
      s"$base/store", s"$base/ckpt").awaitTermination()
    val store = spark.read.parquet(s"$base/store")
    def codeSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("__cell"),
        r.getAs[scala.collection.Seq[Int]]("__codes").toList)).toSet
    assert(codeSet(store) == codeSet(ix.encoded) && store.count() > 0)
    // the at-scale payoff: a probed-cell filter reaches the scan as a
    // PARTITION filter (directory pruning), so a search can touch
    // ~nprobe/C of the codes on disk
    val pruned = store.filter(F.col("__cell").isin(0, 1))
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__cell"),
      s"expected partition pruning on __cell:\n${plan.take(2000)}")
    // searching the store-backed index stays exact in exhaustive config
    val qs = emb.filter(F.col("vec_id") < 5)
    val ixStore = ix.withEncoded(store,
      emb.select(F.col("vec_id").as("neighbor_id"),
        F.col("embedding").cast("array<double>").as("__cv")))
    val got = topkSet(Similarity.ivfPqSearch(ixStore, qs,
      nprobe = 4, k = 3, rerank = 1000000))
    assert(got == topkSet(Similarity.bruteForceTopK(emb, qs, k = 3)))
  }

  test("save/load round-trip: a loaded index searches bit-identically") {
    val emb = table("embeddings")
    val ix = Similarity.ivfPqBuild(emb, numCentroids = 8, m = 16, ksub = 16)
    val base = targetTempDir("ivfpqsl")
    Similarity.ivfPqSave(ix, s"$base/index")
    ix.encoded.write.partitionBy("__cell").parquet(s"$base/store")
    val loaded = Similarity.ivfPqLoad(spark, s"$base/index", s"$base/store", emb)
    // codebooks round-trip exactly (doubles through parquet are exact)
    assert(loaded.ksub == ix.ksub)
    assert(loaded.cents.map(_._1).toSeq == ix.cents.map(_._1).toSeq)
    assert(loaded.cents.map(_._2.toSeq).toSeq == ix.cents.map(_._2.toSeq).toSeq)
    assert(loaded.codebook.map(_.map(_.toSeq).toSeq).toSeq ==
      ix.codebook.map(_.map(_.toSeq).toSeq).toSeq)
    // PRUNED-config search (the approximation-sensitive path) must be
    // identical, not just the exhaustive config
    val qs = emb.filter(F.col("vec_id") < 10)
    def rows(df: DataFrame) = df.orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rows(Similarity.ivfPqSearch(loaded, qs, nprobe = 4, k = 5, rerank = 50)) ==
      rows(Similarity.ivfPqSearch(ix, qs, nprobe = 4, k = 5, rerank = 50)))
  }

  test("C=1024 coarse table rides a broadcast, not the plan (and stays exact)") {
    // a production-scale centroid count: with the old typedLit shape
    // this is ~0.5 MB of literal per expression per stage; the
    // broadcast-backed expressions keep the plan O(1) while the
    // exhaustive contract still holds
    import spark.implicits._
    val n = 1500
    val dim = 16
    val vecs = (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(d =>
        math.sin(i * 0.7 + d * 1.3) + (if (d == i % dim) 2.0 else 0.0)))
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter(F.col("vec_id") < 5)
    val got = topkSet(Similarity.ivfPqTopK(vecs, qs,
      numCentroids = 1024, nprobe = 1024, m = 8, ksub = 16, k = 3,
      rerank = 1000000, sampleSize = 1500))
    assert(got == topkSet(Similarity.bruteForceTopK(vecs, qs, k = 3)))
  }

  test("residual PQ beats raw-position PQ at equal code budget (ADC-only ranks)") {
    // the IVFADC rationale made measurable: at the same (m, ksub) and
    // NO exact re-rank safety net (rerank = k), residual codes should
    // recall at least as much of the true top-5 as pqTopK's raw codes
    // recall with the same tiny re-rank budget
    val emb = table("embeddings")
    val qs = emb.filter(F.col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, qs, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: DataFrame) = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (bf & got).size.toDouble / bf.size
    }
    val resid = recallOf(Similarity.ivfPqTopK(emb, qs,
      numCentroids = 8, nprobe = 8, m = 16, ksub = 8, k = 5, rerank = 5))
    val raw = recallOf(Similarity.pqTopK(emb, qs,
      m = 16, ksub = 8, k = 5, rerank = 5))
    assert(resid >= raw,
      s"residual coding recall $resid below raw-PQ $raw")
    assert(resid >= 0.3, s"ADC-only residual recall $resid")
  }
}
