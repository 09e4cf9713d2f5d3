package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

import graft.core.Checkpoint
import graft.functions.{cosine_similarity, hyperplane_bands, top_k_agg}

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Scale design: the query set is broadcast (small side); the corpus is
  * streamed once. Top-k uses a two-phase partial/final reduction —
  * per-partition top-k, then merge — so no partition ever materializes the
  * full per-query candidate list (the same shape as Spark's own
  * TakeOrdered). The IVF variant prunes the corpus scan to `nprobe`
  * clusters, trading recall for a ~C/nprobe scan reduction.
  */
object Similarity {

  /** Per-group top-k via the bounded-heap aggregate: every partial and
    * final buffer holds at most k entries (TakeOrdered's shape), so no
    * partition ever materializes a per-query candidate list. Ordering:
    * (score desc, id desc), ties broken deterministically. */
  private def topKPerGroup(scored: DataFrame, groupCol: String, idCol: String,
      scoreCol: String, k: Int): DataFrame = {
    // string ids pass through; numeric ids widen to the aggregate's long
    // payload (an unconditional cast would null out string ids)
    val idExpr = scored.schema(idCol).dataType match {
      case org.apache.spark.sql.types.StringType => F.col(idCol)
      case _                                     => F.col(idCol).cast("long")
    }
    val fin = scored.groupBy(groupCol)
      .agg(top_k_agg(F.col(scoreCol), idExpr, k).as("top"))
    fin.select(F.col(groupCol), F.posexplode(F.col("top")).as(Seq("rank0", "p")))
      .select(F.col(groupCol), F.col("p.id").as(idCol),
        F.col("p.score").as(scoreCol), (F.col("rank0") + 1).as("rank"))
  }

  /** Brute-force exact cosine top-k: every query against the full corpus.
    * Baseline and oracle for the approximate variants. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      k: Int = 5): DataFrame = {
    val q = queries.select(F.col(idCol).as("query_id"), F.col(vecCol).as("__qv"))
    // NOT widened (r20): the top-k partial buffers are per-(partition ×
    // query) heaps, so widening a small one-file corpus multiplies the
    // merge volume by the partition count — measured net-negative on
    // every ANN query at sf0.1 (and catastrophic for rerank-sized k).
    val c = corpus.select(F.col(idCol).as("neighbor_id"), F.col(vecCol).as("__cv"))
    val scored = c.crossJoin(F.broadcast(q))
      .filter(F.col("neighbor_id") =!= F.col("query_id"))
      .withColumn("score", cosine_similarity(F.col("__qv"), F.col("__cv")))
      .select("query_id", "neighbor_id", "score")
    topKPerGroup(scored, "query_id", "neighbor_id", "score", k)
  }

  /** Per-centroid cosine similarities as ONE array column, computed by
    * the broadcast-backed [[graft.functions.CentroidSims]] expression:
    * the C × dim table ships once per executor via the block manager
    * instead of riding every task closure as C typedLit expressions —
    * at a production C = 1024-4096, dim ≥ 256 the literal shape is
    * tens of MB of plan per stage. Numerics replay the previous
    * per-centroid `cosine_similarity(v, typedLit)` exactly (same
    * CosineUtil op order), so all hashes are unchanged; argmax /
    * top-nprobe / tie logic stays in the column expressions below. */
  /** One broadcast per DISTINCT centroid table (keyed by reference
    * identity, weakly so a dropped index releases it): without this,
    * every centroidSims/centOfExpr call site would re-broadcast — and
    * `ivfPqStream`'s per-micro-batch `ivfPqSearch` would re-serialize
    * and re-ship an identical tens-of-MB table to every executor twice
    * per batch for the life of the stream. */
  private val centroidBcCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[Array[(Int, Array[Double])],
      org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]]())

  private def centroidBc(cents: Array[(Int, Array[Double])])
      : org.apache.spark.broadcast.Broadcast[Array[Array[Double]]] =
    centroidBcCache.computeIfAbsent(cents,
      c => org.apache.spark.sql.SparkSession.active.sparkContext
        .broadcast(c.map(_._2)))

  private def centroidSims(vec: Column, cents: Array[(Int, Array[Double])]): Column = {
    import org.apache.spark.sql.graftx.{columnExpr, exprColumn}
    exprColumn(graft.functions.CentroidSims(
      columnExpr(vec.cast("array<double>")), centroidBc(cents)))
  }

  private def centroidIdAt(cents: Array[(Int, Array[Double])], pos1: Column): Column =
    F.element_at(F.typedLit(cents.map(_._1).toSeq), pos1.cast("int"))

  /** Nearest-centroid id per row: argmax over the similarity array —
    * map-only; ties go to the first (lowest) cid. */
  def nearestCentroidId(vec: Column, cents: Array[(Int, Array[Double])]): Column = {
    val sims = centroidSims(vec, cents)
    centroidIdAt(cents, F.array_position(sims, F.array_max(sims)))
  }

  /** The `nprobe` nearest centroid ids per row, as an array — sorting a
    * c-element struct array per row (c = numCentroids, small). */
  def nearestCentroidIds(vec: Column, cents: Array[(Int, Array[Double])], nprobe: Int): Column = {
    val sims = centroidSims(vec, cents)
    val scored = F.zip_with(sims, F.typedLit(cents.map(_._1).toSeq),
      (s, cid) => F.struct(s.as("s"), cid.as("cid")))
    F.transform(F.slice(F.reverse(F.array_sort(scored)), 1, nprobe), x => x.getField("cid"))
  }

  /** Deterministic lightweight k-means (Lloyd) for IVF coarse
    * quantization, trained on a bounded corpus SAMPLE collected to the
    * driver — the standard shape for a coarse quantizer: at 100 TB you
    * train the c-cell codebook on ~10⁴ vectors, not the corpus, and the
    * cluster never runs the expression-heavy per-iteration jobs (which
    * cost seconds of plan compilation each, dominating small runs, and a
    * corpus scan per iteration at scale). Seeds = first `c` sample
    * vectors; empty cells keep their previous centroid. */
  def trainCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      c: Int, iters: Int = 2, sampleSize: Int = 4096): Array[(Int, Array[Double])] =
    trainCentroidsOnSample(
      collectSample(corpus, idCol, vecCol, sampleSize), c, iters)

  /** The bounded deterministic training sample: first `sampleSize`
    * vectors by id — ONE sort+limit job, shared by every consumer that
    * also needs the sample itself (residual codebooks re-use it rather
    * than re-collecting — r21; ivfPqBuild previously ran this identical
    * job twice per build, guide §1.2 "don't compute things you throw
    * away"). */
  def collectSample(corpus: DataFrame, idCol: String, vecCol: String,
      sampleSize: Int): Array[Array[Double]] =
    corpus.orderBy(idCol).limit(sampleSize)
      .select(F.col(vecCol).cast("array<double>"))
      .collect().map(_.getAs[scala.collection.Seq[Double]](0).toArray)

  /** [[trainCentroids]] on an already-collected sample (driver-side
    * Lloyd, unchanged math). */
  def trainCentroidsOnSample(sample: Array[Array[Double]],
      c: Int, iters: Int): Array[(Int, Array[Double])] = {
    require(sample.nonEmpty, "empty corpus")
    var cents: Array[Array[Double]] = sample.take(c).map(_.clone())
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](sample.head.length))
      val counts = new Array[Long](cents.length)
      sample.foreach { v =>
        var best = 0; var bestS = Double.NegativeInfinity; var k = 0
        while (k < cents.length) {
          val s = cos(v, cents(k))
          if (s > bestS) { bestS = s; best = k }
          k += 1
        }
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, k) =>
        if (counts(k) == 0) old
        else sums(k).map(_ / counts(k))
      }
    }
    cents.zipWithIndex.map { case (v, i) => i -> v }
  }

  /** IVF search: probe the `nprobe` nearest cells per query; exact cosine
    * within the probed cells only. One corpus scan after training: map-only
    * cell assignment, broadcast-join against (query × probe), then the
    * bounded top-k aggregate — a single shuffle on query_id. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      numCentroids: Int = 16, nprobe: Int = 4, k: Int = 5): DataFrame = {
    val cents = trainCentroids(corpus, idCol, vecCol, numCentroids)
    // NOT widened (r20): same top-k partial-heap accounting as
    // [[bruteForceTopK]].
    val assigned = corpus.select(F.col(idCol).as("neighbor_id"),
      F.col(vecCol).as("__cv"),
      nearestCentroidId(F.col(vecCol), cents).as("centroid_id"))
    val qWithProbes = queries
      .select(F.col(idCol).as("query_id"), F.col(vecCol).as("__qv"),
        F.explode(nearestCentroidIds(F.col(vecCol), cents, nprobe)).as("centroid_id"))
    // Batch: the (small) query side broadcasts. Streaming queries (ANN
    // at INGESTION — vectors arrive, the indexed corpus is static):
    // broadcasting a stream is illegal, so the probe side stays the
    // stream and the cell-keyed join runs stream-static — stateless,
    // the centroid assignment rides the plan as a literal, and the
    // bounded per-query top-k aggregate carries the only state (k
    // entries per query in the store). Same candidate set either way.
    val scored = (if (queries.isStreaming)
        qWithProbes.join(assigned, Seq("centroid_id"))
      else assigned.join(F.broadcast(qWithProbes), Seq("centroid_id")))
      .filter(F.col("neighbor_id") =!= F.col("query_id"))
      .withColumn("score", cosine_similarity(F.col("__qv"), F.col("__cv")))
      .select("query_id", "neighbor_id", "score")
    topKPerGroup(scored, "query_id", "neighbor_id", "score", k)
  }

  // ------------------------------------------------------------------
  // product quantization (IVF's compressed-domain sibling)
  // ------------------------------------------------------------------

  /** L2-normalized copy of a vector column, so inner product = cosine.
    * Zero vectors stay zero (they score 0 against everything). */
  private def l2normalize(vec: Column): Column = {
    val v = vec.cast("array<double>")
    val norm = F.sqrt(F.aggregate(v, F.lit(0.0), (acc, x) => acc + x * x))
    F.when(norm === 0.0, v).otherwise(F.transform(v, x => x / norm))
  }

  /** Train a product quantizer (Jégou et al., TPAMI 2011): per-subspace
    * Lloyd k-means on a bounded L2-NORMALIZED driver-side sample — same
    * rationale as [[trainCentroids]]: the codebook is KB-scale state
    * trained on ~10⁴ vectors; the cluster never runs per-iteration jobs.
    * Seeds = first `ksub` distinct subvectors of the sample. */
  def trainProductQuantizer(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 16, ksub: Int = 16, iters: Int = 4,
      sampleSize: Int = 4096): graft.functions.PqUtil.Codebook = {
    val sample: Array[Array[Double]] =
      corpus.orderBy(idCol).limit(sampleSize)
        .select(l2normalize(F.col(vecCol)))
        .collect().map(_.getAs[scala.collection.Seq[Double]](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    trainPqOnSample(sample, m, ksub, iters)
  }

  /** Per-subspace Lloyd on an in-memory sample — the trainer core
    * shared by [[trainProductQuantizer]] (raw normalized vectors) and
    * [[ivfPqTopK]] (coarse-cell RESIDUALS). Seeds = first `ksub`
    * distinct subvectors. */
  private[pipeline] def trainPqOnSample(sample: Array[Array[Double]],
      m: Int, ksub: Int, iters: Int): graft.functions.PqUtil.Codebook = {
    require(sample.nonEmpty, "empty sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val dsub = dim / m
    Array.tabulate(m) { s =>
      val subs = sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      var cents = subs.distinct.take(ksub).map(_.clone())
      for (_ <- 0 until iters) {
        val sums = Array.fill(cents.length)(new Array[Double](dsub))
        val counts = new Array[Long](cents.length)
        subs.foreach { v =>
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < cents.length) {
            var d = 0.0; var i = 0
            while (i < dsub) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < dsub) { sums(best)(i) += v(i); i += 1 }
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0) old else sums(c).map(_ / counts(c))
        }
      }
      cents
    }
  }

  /** PQ-ADC top-k with exact re-ranking — the compressed-domain scan
    * shape: the corpus is encoded ONCE map-only into m-byte codes (a
    * 100 TB fp32 corpus scans as ~2% of its size), every query ships a
    * (m·ksub)-entry lookup table via broadcast, the per-pair score is m
    * table adds (codegen'd, no d-dim math), and the bounded top-k keeps
    * `rerank` ADC candidates per query, which are then re-scored with
    * exact cosine against re-fetched vectors — only rerank·|Q| full
    * vectors ever leave the scan. */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      m: Int = 16, ksub: Int = 16, k: Int = 5, rerank: Int = 50): DataFrame = {
    import graft.functions.Pq
    val codebook = trainProductQuantizer(corpus, idCol, vecCol, m, ksub)
    // NOT widened (r20): same rerank-heap accounting as [[encodedFrame]].
    val encoded = corpus.select(F.col(idCol).as("neighbor_id"),
      Pq.pq_encode(l2normalize(F.col(vecCol)), codebook).as("__codes"))
    val q = queries.select(F.col(idCol).as("query_id"),
      Pq.pq_lut(l2normalize(F.col(vecCol)), codebook).as("__lut"))
    val adc = encoded.crossJoin(F.broadcast(q))
      .filter(F.col("neighbor_id") =!= F.col("query_id"))
      .withColumn("score", Pq.pq_adc_score(F.col("__codes"), F.col("__lut"), ksub))
      .select("query_id", "neighbor_id", "score")
    val candidates = topKPerGroup(adc, "query_id", "neighbor_id", "score", rerank)
      .select("query_id", "neighbor_id")
    val qvecs = queries.select(F.col(idCol).as("query_id"),
      F.col(vecCol).cast("array<double>").as("__qv"))
    val cvecs = corpus.select(F.col(idCol).as("neighbor_id"),
      F.col(vecCol).cast("array<double>").as("__cv"))
    val exact = candidates
      .join(F.broadcast(qvecs), Seq("query_id"))
      .join(cvecs, Seq("neighbor_id"))
      .withColumn("score", cosine_similarity(F.col("__qv"), F.col("__cv")))
      .select("query_id", "neighbor_id", "score")
    topKPerGroup(exact, "query_id", "neighbor_id", "score", k)
  }

  // ------------------------------------------------------------------
  // composed IVF-PQ (FAISS IVFADC shape)
  // ------------------------------------------------------------------

  /** Composed IVF-PQ top-k — the billion-vector index shape (Jégou et
    * al. 2011 §V "IVFADC"; the FAISS default): a coarse quantizer
    * prunes the corpus to `nprobe` cells per query AND a product
    * quantizer compresses what remains, so the scan touches
    * ~n·nprobe/C rows of m-byte codes instead of n full vectors —
    * IVF alone ([[ivfTopK]]) still ships full vectors through the
    * probed cells; PQ alone ([[pqTopK]]) still ADC-scans the whole
    * corpus. At 10⁹+ vectors you need both.
    *
    * Index layout, all computed in ONE map-only corpus pass after the
    * driver trains two KB-scale codebooks on a bounded sample:
    * `(neighbor_id, cell, codes)` where `codes` PQ-encodes the
    * RESIDUAL `v/|v| − centroid(cell)` — residuals concentrate near 0
    * regardless of which cell a vector lands in, so one shared
    * codebook quantizes them far better than it quantizes raw
    * positions (the paper's central trick).
    *
    * Query side: inner products are taken on L2-normalized vectors
    * (= cosine), and ⟨q, c + r⟩ = ⟨q, c⟩ + ⟨q, r⟩ splits the score
    * into a per-(query, cell) scalar plus an ADC table sum — the SAME
    * query LUT serves every probed cell because the residual codebook
    * is cell-independent. Each query ships (lut, cell, q·c) via
    * broadcast to the cell-keyed join, the bounded top-k aggregate
    * keeps `rerank` ADC candidates per query, and exact cosine
    * re-scores them against re-fetched vectors (only rerank·|Q| full
    * vectors ever leave the scan).
    *
    * Exactness contract (the oracle bridge): with
    * `nprobe = numCentroids` every cell is probed, so the candidate
    * set is the whole corpus, and `rerank ≥ corpus` hands ALL
    * candidates to the exact re-rank — the result must equal brute
    * force regardless of what the quantizers did. Pruned
    * configurations trade recall, gated against
    * [[bruteForceTopK]] like the IVF/PQ recall queries. */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      numCentroids: Int = 16, nprobe: Int = 4,
      m: Int = 16, ksub: Int = 16, k: Int = 5, rerank: Int = 50,
      sampleSize: Int = 4096): DataFrame =
    ivfPqSearch(
      ivfPqBuild(corpus, idCol, vecCol, numCentroids, m, ksub, sampleSize),
      queries, idCol, vecCol, nprobe, k, rerank)

  /** The trained-and-encoded IVF-PQ index: two KB-scale codebooks (plan
    * literals) plus the checkpointed `(neighbor_id, __cell, __codes)`
    * code table — the m-bytes-per-vector artifact every search probes —
    * and the pruned `(neighbor_id, __cv)` re-rank fetch plan over the
    * original corpus. Build ONCE, search many (each [[ivfPqSearch]] —
    * batch or per micro-batch — reuses the materialized codes instead
    * of re-encoding the corpus). */
  final case class IvfPqIndex private[pipeline] (
      cents: Array[(Int, Array[Double])],
      codebook: graft.functions.PqUtil.Codebook,
      ksub: Int,
      encoded: DataFrame,
      corpusVecs: DataFrame) {
    /** The same frozen codebooks over a DIFFERENT code table + re-rank
      * fetch — e.g. a store grown by [[ivfPqIngest]] read back as the
      * searchable index. */
    def withEncoded(newEncoded: DataFrame, newCorpusVecs: DataFrame): IvfPqIndex =
      copy(encoded = newEncoded, corpusVecs = newCorpusVecs)
  }

  /** Train the coarse + residual codebooks on a bounded driver-side
    * sample and encode the corpus in ONE map-only pass; the code table
    * is an eager [[Checkpoint.pin]] (materialized, lineage-free) so
    * repeated searches never rescan or re-encode the corpus. */
  def ivfPqBuild(
      corpus: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      numCentroids: Int = 16, m: Int = 16, ksub: Int = 16,
      sampleSize: Int = 4096): IvfPqIndex = {
    val nc = corpus.select(F.col(idCol), l2normalize(F.col(vecCol)).as("__nv"))
    // ONE sample collect feeds both the coarse centroids and the
    // residual codebook (r21; was two identical sort+limit jobs)
    val sample: Array[Array[Double]] =
      collectSample(nc, idCol, "__nv", sampleSize)
    val cents = trainCentroidsOnSample(sample, numCentroids, iters = 2)
    // residual codebook: assign the SAME bounded sample to its coarse
    // cell driver-side, train per-subspace Lloyd on the residuals
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val residuals = sample.map { v =>
      val best = cents.maxBy { case (_, c) => cos(v, c) }._2
      v.indices.map(i => v(i) - best(i)).toArray
    }
    val codebook = trainPqOnSample(residuals, m, ksub, iters = 4)
    val encoded = encodedFrame(cents, codebook, corpus, idCol, vecCol)
      .transform(Checkpoint.pin(_, eager = true))
    IvfPqIndex(cents, codebook, ksub, encoded,
      corpus.select(F.col(idCol).as("neighbor_id"),
        F.col(vecCol).cast("array<double>").as("__cv")))
  }

  /** Map-only `(neighbor_id, __cell, __codes)` encoding of a vector
    * frame against FROZEN codebooks — pure per-row expressions, so it
    * runs identically on a batch frame or a streaming one. */
  private def encodedFrame(cents: Array[(Int, Array[Double])],
      codebook: graft.functions.PqUtil.Codebook,
      df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import graft.functions.Pq
    // NOT widened (r20): the code table feeds ADC top-k aggregations
    // whose PARTIAL buffers are per-(partition × query) bounded heaps of
    // `rerank` entries — widening a small one-file corpus multiplied the
    // merged buffer volume by the partition count and the exhaustive
    // (rerank ≥ corpus) oracle queries ran 3-6× SLOWER. Real corpora
    // arrive multi-split and parallelize at the source.
    df.select(F.col(idCol).as("neighbor_id"), l2normalize(F.col(vecCol)).as("__nv"))
      .select(F.col("neighbor_id"),
        nearestCentroidId(F.col("__nv"), cents).as("__cell"), F.col("__nv"))
      .select(F.col("neighbor_id"), F.col("__cell"),
        Pq.pq_encode(F.zip_with(F.col("__nv"), centOfExpr(cents, F.col("__cell")),
          (a, b) => a - b), codebook).as("__codes"))
  }

  /** INDEX MAINTENANCE AT INGESTION — the other half of the streaming
    * deployment ([[ivfPqStream]] answers queries; this grows the
    * corpus): arriving vectors are encoded map-only against the frozen
    * codebooks and appended to a parquet store PARTITIONED BY `__cell`
    * — a real streaming append sink (no aggregation, no foreachBatch,
    * exactly-once via the sink's checkpoint+manifest). The cell
    * partitioning is the at-scale payoff: probing `nprobe` of C cells
    * can prune the store read to those directories, so a search
    * touches ~nprobe/C of the codes on DISK, not just in the join.
    * Codebooks stay frozen (the standard IVFADC operating mode —
    * retrain/re-encode is an offline rebuild); read the store back and
    * search it via [[IvfPqIndex.withEncoded]]. */
  def ivfPqIngest(
      ix: IvfPqIndex, stream: DataFrame,
      idCol: String, vecCol: String,
      storePath: String, checkpointPath: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    encodedFrame(ix.cents, ix.codebook, stream, idCol, vecCol)
      .writeStream
      .format("parquet")
      .option("path", storePath)
      .option("checkpointLocation", checkpointPath)
      .partitionBy("__cell")
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** INDEX PERSISTENCE — the missing lifecycle edge: [[ivfPqIngest]]
    * persists the cell-partitioned CODES, but the codebooks lived only
    * in the builder's JVM, so a fresh session could not search a store
    * it didn't build. `ivfPqSave` writes the two KB-scale codebooks
    * (coarse centroids + residual PQ codebook + ksub) as tiny parquet
    * tables; [[ivfPqLoad]] rebuilds a searchable [[IvfPqIndex]] from
    * them plus a code store and the re-rank corpus. Doubles round-trip
    * parquet exactly, so a loaded index searches BIT-IDENTICALLY to
    * the original (pinned by spec and by the `ivfpq_persisted_search`
    * gate query's brute-force oracle). */
  def ivfPqSave(ix: IvfPqIndex, path: String): Unit = {
    val spark = ix.encoded.sparkSession
    import spark.implicits._
    // ONE tiny parquet table holding all three sections (r21; was three
    // separate coalesce(1) stores = 3 write jobs + 3 commit rounds on
    // save and 3 footer reads + 3 collect jobs on load, for KB-scale
    // data — guide §6 small-files / per-job floor). `kind`
    // discriminates the sections; doubles round-trip parquet exactly
    // either way, so a loaded index still searches BIT-IDENTICALLY.
    val cents = ix.cents.toSeq.map { case (cid, v) =>
      ("cent", cid, 0, v.toSeq, 0) }
    val codes = for {
      (sub, si) <- ix.codebook.zipWithIndex.toSeq
      (cent, ci) <- sub.zipWithIndex
    } yield ("code", si, ci, cent.toSeq, 0)
    val meta = Seq(("meta", 0, 0, Seq.empty[Double], ix.ksub))
    (cents ++ codes ++ meta).toDF("kind", "a", "b", "vec", "ksub")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/index")
  }

  /** Rebuild a searchable index from [[ivfPqSave]] output: `storePath`
    * is a cell-partitioned code store (an [[ivfPqIngest]] sink or a
    * written-out `encoded` frame); `corpus` supplies the exact-re-rank
    * vectors. The store read keeps its `__cell` partition column, so
    * pruned searches still prune DIRECTORIES. */
  def ivfPqLoad(spark: org.apache.spark.sql.SparkSession,
      path: String, storePath: String,
      corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): IvfPqIndex = {
    // one read + one collect for all three sections (see [[ivfPqSave]]);
    // ordering is reconstructed driver-side — the table is KB-scale by
    // construction (C + m·ksub + 1 rows)
    val rows = spark.read.parquet(s"$path/index").collect()
    def vecOf(r: org.apache.spark.sql.Row): Array[Double] =
      r.getAs[scala.collection.Seq[Double]]("vec").toArray
    val cents = rows.filter(_.getString(0) == "cent")
      .map(r => (r.getInt(1), vecOf(r))).sortBy(_._1)
    val cbRows = rows.filter(_.getString(0) == "code")
      .map(r => (r.getInt(1), r.getInt(2), vecOf(r)))
    val codebook: graft.functions.PqUtil.Codebook = cbRows
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
    val ksub = rows.filter(_.getString(0) == "meta").head.getInt(4)
    IvfPqIndex(cents, codebook, ksub,
      spark.read.parquet(storePath),
      corpus.select(F.col(idCol).as("neighbor_id"),
        F.col(vecCol).cast("array<double>").as("__cv")))
  }

  /** Centroid lookup by cell id (cents ids are 0..C-1 in order) —
    * broadcast-backed like [[centroidSims]], not a plan literal. */
  private def centOfExpr(cents: Array[(Int, Array[Double])], cell: Column): Column = {
    import org.apache.spark.sql.graftx.{columnExpr, exprColumn}
    exprColumn(graft.functions.CentroidVec(
      columnExpr(cell.cast("int")), centroidBc(cents)))
  }

  /** One IVF-PQ search against a built index — see [[ivfPqTopK]] for
    * the semantics and the exactness contract. Per-query results are
    * independent, so the same call answers a BATCH query frame or one
    * micro-batch inside [[ivfPqStream]]. */
  def ivfPqSearch(
      ix: IvfPqIndex, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nprobe: Int = 4, k: Int = 5, rerank: Int = 50): DataFrame = {
    import graft.functions.Pq
    require(nprobe >= 1 && rerank >= k, "need nprobe >= 1 and rerank >= k")
    val q = queries
      .select(F.col(idCol).as("query_id"), l2normalize(F.col(vecCol)).as("__qn"))
      .select(F.col("query_id"), F.col("__qn"),
        Pq.pq_lut(F.col("__qn"), ix.codebook).as("__lut"),
        F.explode(nearestCentroidIds(F.col("__qn"), ix.cents, nprobe)).as("__cell"))
      .withColumn("__qdotc", F.aggregate(
        F.zip_with(F.col("__qn"), centOfExpr(ix.cents, F.col("__cell")), (a, b) => a * b),
        F.lit(0.0), _ + _))
      .select("query_id", "__cell", "__lut", "__qdotc")
    val adc = ix.encoded.join(F.broadcast(q), Seq("__cell"))
      .filter(F.col("neighbor_id") =!= F.col("query_id"))
      .withColumn("score", F.col("__qdotc") +
        Pq.pq_adc_score(F.col("__codes"), F.col("__lut"), ix.ksub))
      .select("query_id", "neighbor_id", "score")
    val candidates = topKPerGroup(adc, "query_id", "neighbor_id", "score", rerank)
      .select("query_id", "neighbor_id")
    val qvecs = queries.select(F.col(idCol).as("query_id"),
      F.col(vecCol).cast("array<double>").as("__qv"))
    val exact = candidates
      .join(F.broadcast(qvecs), Seq("query_id"))
      .join(ix.corpusVecs, Seq("neighbor_id"))
      .withColumn("score", cosine_similarity(F.col("__qv"), F.col("__cv")))
      .select("query_id", "neighbor_id", "score")
    topKPerGroup(exact, "query_id", "neighbor_id", "score", k)
  }

  /** IVF-PQ ANN AT INGESTION: answer each arriving micro-batch of
    * query vectors with FULL [[ivfPqSearch]] semantics against a
    * static pre-built index, appending `(query_id, neighbor_id, score,
    * rank, batch_id)` parquet rows. Runs inside `foreachBatch` — the
    * search chains TWO bounded top-k aggregations (ADC candidates,
    * then exact re-rank), which Structured Streaming cannot express as
    * chained stream aggregations, and per-query results are
    * batch-independent, so per-batch batch-semantics is exactly
    * equivalent (the same shape as
    * [[graft.streaming.DedupStream.flagAgainstIndex]]). The code table
    * is checkpointed once at build; micro-batches probe it without
    * rescanning the corpus. Sink is at-least-once on retries
    * (idempotent readers dedupe on (query_id, batch_id)); the search
    * itself is deterministic. */
  def ivfPqStream(
      ix: IvfPqIndex, stream: DataFrame,
      idCol: String, vecCol: String, outPath: String,
      nprobe: Int = 4, k: Int = 5, rerank: Int = 50,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ivfPqSearch(ix, batch, idCol, vecCol, nprobe, k, rerank)
          .withColumn("batch_id", F.lit(batchId))
          .write.mode("append").parquet(outPath)
      }
      .start()

  // ------------------------------------------------------------------
  // scalar (int8) quantization
  // ------------------------------------------------------------------

  /** Global scale of the corpus — the scalar quantizer's training
    * pass: `max |x|` over every element, one map-side-combined
    * aggregate. A single SYMMETRIC scale (not per-dim affine ranges)
    * is deliberate: uniform scaling preserves ANGLES, so quantized
    * cosine tracks true cosine; a per-dim shift would fold the whole
    * corpus into the positive quadrant and wreck cosine ranking.
    * Exact: float abs/max pick or negate input values, never blend. */
  def sq8Train(corpus: DataFrame, vecCol: String): Double = {
    val r = corpus
      .select(F.explode(F.col(vecCol)).as("__x"))
      .agg(F.max(F.abs(F.col("__x"))).as("m"))
      .collect()
    require(r.nonEmpty && !r.head.isNullAt(0), "sq8Train: empty corpus")
    // float32 widens to double exactly; accept either element width
    r.head.getAs[Number](0).doubleValue()
  }

  /** Quantize a vector to int8 with the [[sq8Train]] scale:
    * `q_i = floor((x_i / maxAbs) · 127)` in [−127, 127] (zero maps to
    * zero; an all-zero corpus maps to all-zero). Map-only; every step
    * is one IEEE op per element, so any engine replays it bit-for-bit
    * — unlike `round`, whose half-way rule differs across engines,
    * `floor` is unambiguous. */
  def sq8Quantize(vec: Column, maxAbs: Double): Column =
    F.transform(vec.cast("array<double>"), x =>
      if (maxAbs == 0.0) F.lit(0L)
      else F.floor((x / F.lit(maxAbs)) * F.lit(127.0)))

  /** Top-k nearest neighbors in the QUANTIZED domain: corpus and
    * queries int8-quantized with the corpus-trained scale, scored by
    * the cosine OF THE QUANTIZED vectors — derived from three exact
    * BIGINTs (`dot, Σq², Σq'²`) by two sqrts and a divide, so the
    * scores (and therefore ranks) are bit-reproducible with no
    * float-accumulation caveat, while approximating true cosine to
    * quantization error. The compressed-scan story: a 100 TB fp32
    * corpus scans/shuffles at 25% size (8 of 32 bits per dim) with
    * integer multiply-add in the hot loop; per-vector norms are
    * precomputed once map-side, the queries broadcast, and the corpus
    * streams once through the bounded per-group top-k aggregate.
    * Output: `(query_id, neighbor_id, qcos, rank)`, rank by
    * (qcos DESC, id DESC); zero-norm vectors score 0. */
  def sq8TopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      k: Int = 5): DataFrame = {
    val maxAbs = sq8Train(corpus, vecCol)
    def norm2(q: Column): Column =
      F.aggregate(q, F.lit(0L), (acc, x) => acc + x * x)
    // NOT widened (r20): same top-k partial-heap accounting as
    // [[bruteForceTopK]].
    val c = corpus.select(F.col(idCol).as("neighbor_id"),
        sq8Quantize(F.col(vecCol), maxAbs).as("__qc"))
      .withColumn("__nc", norm2(F.col("__qc")))
    val q = queries.select(F.col(idCol).as("query_id"),
        sq8Quantize(F.col(vecCol), maxAbs).as("__qq"))
      .withColumn("__nq", norm2(F.col("__qq")))
    val dot = F.aggregate(
      F.zip_with(F.col("__qc"), F.col("__qq"), (a, b) => a * b),
      F.lit(0L), (acc, x) => acc + x)
    val qcos = F.when(F.col("__nc") === 0L || F.col("__nq") === 0L, F.lit(0.0))
      .otherwise(dot.cast("double") /
        (F.sqrt(F.col("__nc").cast("double")) * F.sqrt(F.col("__nq").cast("double"))))
    val scored = c.crossJoin(F.broadcast(q))
      .filter(F.col("neighbor_id") =!= F.col("query_id"))
      .withColumn("score", qcos)
      .select("query_id", "neighbor_id", "score")
    topKPerGroup(scored, "query_id", "neighbor_id", "score", k)
      .select(F.col("query_id"), F.col("neighbor_id"),
        F.col("score").as("qcos"), F.col("rank"))
  }

  // ------------------------------------------------------------------
  // embedding-cosine near-duplicate detection
  // ------------------------------------------------------------------

  /** Exact cosine near-duplicate pairs (`a < b`, `sim >= tau`) by
    * broadcast self-join: the all-pairs baseline/oracle, O(n²/2)
    * comparisons distributed map-side. Use [[cosineNearDupLsh]] as the
    * scale path; this variant is for verification scale and as the
    * within-bucket verify step. */
  def cosineNearDupExact(
      df: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      tau: Double = 0.9): DataFrame = {
    // the n²/2 cosine fan-out runs at the left side's partitioning (the
    // right side broadcasts) — widen a one-file scan (graft.core.Par)
    val l = graft.core.Par.widen(
      df.select(F.col(idCol).as("a"), F.col(vecCol).cast("array<double>").as("__va")))
    val r = df.select(F.col(idCol).as("b"), F.col(vecCol).cast("array<double>").as("__vb"))
    l.crossJoin(F.broadcast(r))
      .filter(F.col("a") < F.col("b"))
      .withColumn("sim", cosine_similarity(F.col("__va"), F.col("__vb")))
      .filter(F.col("sim") >= tau)
      .select("a", "b", "sim")
  }

  /** LSH-bucketed cosine near-dup — the 100 TB shape: a map-only
    * hyperplane signature per row, a band exchange carrying ONLY
    * (band, bucket, id), pair dedup, then exact-cosine verification on
    * vectors re-fetched by joining the deduped pair list (same structure
    * as [[Dedup.minHashNearDups]] — arrays never ride the band exchange).
    *
    * Recall is the standard sign-LSH bound: a pair at angle θ survives a
    * band with prob (1−θ/π)^bits and is found with
    * 1−(1−(1−θ/π)^bits)^bands. Defaults (8 bits × 16 bands) give ≥ 0.995
    * at sim 0.9 and prune ~94% of random pairs; lower `tau` needs wider
    * bands (fewer bits) — pair with a recall gate against
    * [[cosineNearDupExact]] like the IVF recall query does.
    *
    * The banded (band, bucket, id) projection IS checkpointed, same as
    * [[Dedup.minHashNearDups]]'s shingle pipeline: [[Dedup.lshPairs]]
    * references it from the pair exchange AND the bucket-size
    * aggregation, and each recompute costs bits × bands × dim
    * multiply-adds per row (tens of kFLOPs at real embedding widths) —
    * far more than checkpointing bands × n 24-byte rows. The verification
    * joins re-scan only the pruned (id, vector) projection off the
    * parquet scan; the pair result is an eager local checkpoint, so
    * the banding is released before the caller's actions run (the result
    * reads its own [[Checkpoint.pin]]).
    *
    * `maxBucketSize` switches pathological buckets (zero vectors, clusters
    * of near-identical embeddings) from quadratic within-bucket pair
    * enumeration to O(n) star edges — this is a SELF-join path, so it uses
    * [[Dedup.lshPairs]]; see its scaladoc for the recall accounting.
    * `<= 0` disables. */
  def cosineNearDupLsh(
      df: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      tau: Double = 0.9, bitsPerBand: Int = 8, bands: Int = 16,
      seed: Long = 42L, maxBucketSize: Int = 1000): DataFrame =
    cosineNearDupBanded(df, idCol, vecCol,
      v => hyperplane_bands(v, bitsPerBand, bands, seed), tau, maxBucketSize)

  /** The shared banded-candidate tail of the cosine-LSH family:
    * `bandsOf(vec)` supplies the per-band bucket keys (native seeded
    * hyperplanes in production, [[rademacherBands]] for the
    * oracle-replayable bridge); candidates share any (band, bucket);
    * every emitted pair is exact-cosine verified at `tau`. */
  def cosineNearDupBanded(
      df: DataFrame, idCol: String, vecCol: String,
      bandsOf: Column => Column, tau: Double,
      maxBucketSize: Int): DataFrame = {
    // hyperplane banding (bits × bands × dim multiply-adds per row) and
    // the verify-join cosines fuse with this projection's partitioning —
    // widen a one-file scan (graft.core.Par)
    val vecs = graft.core.Par.widen(
      df.select(F.col(idCol).as("id"), F.col(vecCol).cast("array<double>").as("__v")))
    Checkpoint.scoped(vecs.select(F.col("id"),
        F.posexplode(bandsOf(F.col("__v"))).as(Seq("band", "bucket")))) { banded =>
      val pairs = Dedup.lshPairs(banded, Seq("band", "bucket"), "id", maxBucketSize)
      pairs
        .join(vecs.select(F.col("id").as("a"), F.col("__v").as("__va")), Seq("a"))
        .join(vecs.select(F.col("id").as("b"), F.col("__v").as("__vb")), Seq("b"))
        .withColumn("sim", cosine_similarity(F.col("__va"), F.col("__vb")))
        .filter(F.col("sim") >= tau)
        .select("a", "b", "sim")
        .transform(Checkpoint.pin(_, eager = true))
    }
  }

  /** Oracle-replayable hyperplane band keys: Rademacher (±1) hyperplane
    * components derived from md5("b:k:d") — a SQL engine re-derives the
    * identical planes from its own md5, so bucket keys (and therefore
    * the candidate set) replay exactly; the bucket bit is the sign of a
    * plain left-fold dot product (the same fold `list_dot_product`
    * computes). `dim` must match the embedding width — Rademacher signs
    * are per-dimension constants baked at plan build (KB-scale).
    * Production stays [[graft.functions.hyperplane_bands]] (native,
    * Gaussian, seeded). */
  def rademacherBands(vec: Column, dim: Int, bitsPerBand: Int, bands: Int): Column = {
    require(dim >= 1 && bitsPerBand >= 1 && bands >= 1, "positive dims required")
    def sign(b: Int, k: Int, d: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$b:$k:$d".getBytes("UTF-8"))
      if (((md(0) >> 4) & 0xF) >= 8) 1.0 else -1.0
    }
    F.array((0 until bands).map { b =>
      F.concat((0 until bitsPerBand).map { k =>
        val signs = F.lit((0 until dim).map(d => sign(b, k, d)).toArray)
        val dot = F.aggregate(
          F.zip_with(signs, vec, (s, x) => s * x), F.lit(0.0), _ + _)
        F.when(dot >= 0, "1").otherwise("0")
      }: _*)
    }: _*)
  }

  // ------------------------------------------------------------------
  // SemDeDup: semantic deduplication in embedding space
  // ------------------------------------------------------------------

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    * embedding space, then within each cluster drop every example that
    * has a cosine near-duplicate (`sim >= tau`) which is FARTHER from
    * the cluster centroid — the paper's keep-low-centroid-similarity
    * rule, which retains the least prototypical member of each
    * duplicate group. Returns one row per input:
    * `(id, cluster_id, centroid_sim, keep)`.
    *
    * Scale shape: the k-cell codebook is trained on a bounded
    * driver-side sample ([[trainCentroids]]); cluster assignment and
    * centroid similarity are map-only expressions; the pairwise stage
    * shuffles once on `cluster_id` and compares each member only
    * against its cluster's `maxAnchors` MOST-KEEPABLE members (lowest
    * centroid similarity) — a member is droppable only against a
    * more-keepable one, so with `maxAnchors >= |cluster|` this is
    * exact, and smaller caps degrade recall gracefully (drops stay
    * sound: every drop is verified by exact cosine against a real
    * anchor). At corpus scale, grow `numClusters` with n so the
    * per-cluster member × anchor product stays bounded — the paper's
    * own knob — rather than growing `maxAnchors`; [[semDeDupAuto]]
    * derives it from a count pre-pass. The final per-id verdict is one
    * more exchange (`groupBy(id)`). */
  def semDeDup(
      df: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      numClusters: Int = 16, tau: Double = 0.9,
      iters: Int = 2, sampleSize: Int = 4096,
      maxAnchors: Int = 10000): DataFrame = {
    require(numClusters >= 1, s"numClusters must be >= 1, got $numClusters")
    require(maxAnchors >= 1, s"maxAnchors must be >= 1, got $maxAnchors")
    val cents = trainCentroids(df, idCol, vecCol, numClusters, iters, sampleSize)
    val sims = centroidSims(F.col(vecCol), cents)
    // NOT widened (r20): the oracle configuration (numClusters = 1)
    // funnels the anchor window and member×anchor join through one key
    // regardless of input partitioning; widening only added exchange +
    // task overhead (measured +0.4 s on each semdedup query).
    val base = df.select(
        F.col(idCol).as("id"),
        F.col(vecCol).cast("array<double>").as("__v"),
        sims.as("__sims"))
      .select(F.col("id"), F.col("__v"),
        F.array_max(F.col("__sims")).as("centroid_sim"),
        centroidIdAt(cents, F.array_position(F.col("__sims"), F.array_max(F.col("__sims"))))
          .as("cluster_id"))
    val keepOrder = Window.partitionBy("cluster_id")
      .orderBy(F.col("centroid_sim").asc, F.col("id").asc)
    val anchors = base
      .withColumn("__r", F.row_number().over(keepOrder))
      .filter(F.col("__r") <= maxAnchors)
      .select(F.col("cluster_id"), F.col("id").as("__aid"),
        F.col("__v").as("__av"), F.col("centroid_sim").as("__acs"))
    // member × cluster-anchors; the cosine is evaluated last so the
    // cheap keepability guard prunes most pairs before the O(dim) work
    val moreKeepable =
      F.col("__acs") < F.col("centroid_sim") ||
        (F.col("__acs") === F.col("centroid_sim") && F.col("__aid") < F.col("id"))
    val dropped = base.join(anchors, Seq("cluster_id"))
      .withColumn("__drop",
        F.col("__aid") =!= F.col("id") && moreKeepable &&
          cosine_similarity(F.col("__v"), F.col("__av")) >= tau)
    dropped.groupBy("id", "cluster_id", "centroid_sim")
      .agg(F.coalesce(F.max(F.col("__drop")), F.lit(false)).as("__anyDrop"))
      .select(F.col("id"), F.col("cluster_id"), F.col("centroid_sim"),
        (!F.col("__anyDrop")).as("keep"))
  }

  /** [[semDeDup]] with `numClusters` derived from the corpus size — the
    * paper's own scale knob, applied by construction instead of by
    * operator discipline: `numClusters = clamp(ceil(n /
    * targetClusterSize), 1, maxClusters)`, so the expected per-cluster
    * member × anchor product stays bounded by `targetClusterSize ×
    * maxAnchors` as n grows (one cheap `count()` pre-pass; the codebook
    * stays a KB-scale driver-side sample regardless of k). Same output
    * and semantics as [[semDeDup]] at the derived k. */
  def semDeDupAuto(
      df: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      tau: Double = 0.9, targetClusterSize: Int = 8192,
      maxClusters: Int = 65536, iters: Int = 2, sampleSize: Int = 4096,
      maxAnchors: Int = 10000): DataFrame = {
    require(targetClusterSize >= 1,
      s"targetClusterSize must be >= 1, got $targetClusterSize")
    require(maxClusters >= 1, s"maxClusters must be >= 1, got $maxClusters")
    val k = autoClusters(df.count(), targetClusterSize, maxClusters)
    semDeDup(df, idCol, vecCol, k, tau, iters, sampleSize, maxAnchors)
  }

  /** The [[semDeDupAuto]] k rule, exposed for tests. */
  private[graft] def autoClusters(n: Long, targetClusterSize: Int,
      maxClusters: Int): Int =
    math.max(1L, math.min(maxClusters.toLong,
      (n + targetClusterSize - 1) / targetClusterSize)).toInt
}
