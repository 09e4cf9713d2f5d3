package graft

import org.apache.spark.sql.{functions => F}

import graft.functions.top_k_agg
import graft.pipeline.{Dedup, Embeddings, Similarity, TextAnalysis}

/** Dedup / similarity pipeline operators. */
class PipelineSpec extends SparkSpec {

  test("top_k_agg equals sort+limit per group, bounded buffer") {
    import spark.implicits._
    val rows = (1 to 2000).map(i => (i % 7, (i * 2654435761L % 1000).toDouble, i.toLong))
    val df = rows.toDF("g", "score", "id").repartition(8)
    val got = df.groupBy("g").agg(top_k_agg(F.col("score"), F.col("id"), 5).as("top"))
      .select(F.col("g"), F.posexplode(F.col("top")).as(Seq("rank0", "p")))
      .select($"g", $"p.score".as("score"), $"p.id".as("id"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    val expected = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.map(r => (r._2, r._3)).sorted.reverse.take(5).map(p => (g, p._1, p._2))
    }.toSet
    assert(got == expected)
  }

  test("top_k_agg smallest-k keeps first-k ascending") {
    import spark.implicits._
    val df = (1 to 100).map(i => (("v%03d".format(i)))).toDF("s").repartition(6)
    val got = df.agg(top_k_agg(F.lit(0.0), F.col("s"), 3, largest = false).as("top"))
      .select(F.explode(F.col("top")).as("p")).select($"p.id")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("v001", "v002", "v003"))
  }

  test("native shingleIds is bit-identical to the HOF formulation") {
    val docs = table("documents")
    for (n <- Seq(1, 2, 3)) {
      val diff = docs.filter(F.col("text").isNotNull).select(
        Dedup.shingleIds(F.col("text"), n).as("nat"),
        Dedup.shingleIdsHof(F.col("text"), n).as("hof"))
        .filter(!(F.col("nat") <=> F.col("hof")))
        .count()
      assert(diff == 0, s"n=$n: native and HOF shingle ids diverge on $diff docs")
    }
    // Edge semantics: short/empty text -> empty array in both variants.
    // NULL text: native -> NULL (null propagation, the TermVector
    // precedent); the HOF chain leaked an EMPTY array because its
    // when(count > 0) guard's otherwise-branch fires on NULL size.
    // Downstream both produce no band rows and no signature.
    import spark.implicits._
    val edge = Seq(Some("one two"), Some(""), None).toDF("text")
      .select(Dedup.shingleIds(F.col("text"), 3).as("nat"),
        Dedup.shingleIdsHof(F.col("text"), 3).as("hof"))
      .collect()
    assert(!edge(0).isNullAt(0) && edge(0).getSeq[Long](0).isEmpty)
    assert(edge(0).getSeq[Long](1).isEmpty)
    assert(!edge(1).isNullAt(0) && edge(1).getSeq[Long](0).isEmpty)
    assert(edge(2).isNullAt(0), "native: NULL text yields NULL ids")
    assert(!edge(2).isNullAt(1), "HOF leaks an empty array on NULL text")
  }

  test("minHashNearDups finds exactly the exact-Jaccard pairs at 0.5") {
    val docs = table("documents")
    // the driver finish (default bound) and the distributed plan (bound 0)
    val Seq(local, dist) = Seq(Dedup.LocalShingleBound.default, 0L).map(bound =>
      Dedup.LocalShingleBound.withBound(bound)(Dedup.minHashNearDups(docs, "text", "doc_id",
        numPerm = 64, bands = 32, threshold = 0.5, maxBucketSize = 1000)))
    assert(local.schema == dist.schema)
    assert(local.collect().map(_.toString).sorted.toSeq ==
      dist.collect().map(_.toString).sorted.toSeq)
    val got = local.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact all-pairs oracle via shingle-id arrays (small corpus)
    val ids = docs.select(F.col("doc_id"), Dedup.shingleIds(F.col("text")).as("ids"))
    val exact = ids.as("x").join(ids.as("y"), F.col("x.doc_id") < F.col("y.doc_id"))
      .select(F.col("x.doc_id").as("a"), F.col("y.doc_id").as("b"),
        Dedup.jaccard(F.col("x.ids"), F.col("y.ids")).as("j"))
      .filter(F.col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-duplicates")
    assert(got == exact)
  }

  test("ivfTopK recall@5 >= 0.9 vs brute force") {
    val emb = table("embeddings")
    val qs = emb.filter(F.col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, qs, k = 5)
      .select("query_id", "neighbor_id")
    val ivf = Similarity.ivfTopK(emb, qs, numCentroids = 8, nprobe = 5, k = 5)
      .select("query_id", "neighbor_id")
    val hits = bf.join(ivf, Seq("query_id", "neighbor_id")).count()
    val total = bf.count()
    assert(total == 100)
    assert(hits.toDouble / total >= 0.9, s"recall ${hits.toDouble / total}")
  }

  test("cosine near-dup: LSH recall >= 0.9 vs exact; verified sims identical") {
    val emb = table("embeddings")
    val exact = Similarity.cosineNearDupExact(emb, tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "corpus should contain pairs above tau")
    val lsh = Similarity.cosineNearDupLsh(emb, tau = 0.4, bitsPerBand = 4, bands = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every LSH pair is a true pair with the identical exact similarity
    lsh.foreach { case (k, sim) => assert(exact.get(k).contains(sim), k) }
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("cosine near-dup LSH: zero and empty vectors form no buckets") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 1e-6f)),
      (3L, Array(0.0f, 0.0f)), (4L, Array[Float]())).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupLsh(df, tau = 0.9, bitsPerBand = 2, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L))) // degenerate vectors never pair
  }

  test("exact dedup keeps NULL-text rows as one duplicate group") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, null), (3L, null), (4L, "a")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out.size == 4)
    assert(out(2) == (2L, true) && out(3) == (2L, false)) // null group, min id kept
    assert(out(1) == (2L, true) && out(4) == (2L, false))
  }

  test("normalizedExact collapses case/punctuation/whitespace variants; exact does not") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello, World!"),
      (2L, "hello   world"),
      (3L, "HELLO-WORLD"),
      (4L, "hello worlds")).toDF("doc_id", "text").repartition(3)
    val norm = Dedup.normalizedExact(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(norm(1L) == ((3L, true)))  // canonical: min doc_id of the trio
    assert(norm(2L) == ((3L, false)))
    assert(norm(3L) == ((3L, false)))
    assert(norm(4L) == ((1L, true))) // different token ⇒ own group
    // plain exact sees four distinct texts
    assert(Dedup.exact(df, "text", "doc_id").collect()
      .forall(_.getLong(2) == 1L))
  }

  test("empty documents produce NULL simhash and minhash signatures") {
    import spark.implicits._
    val df = Seq("", "   ", "real text here").toDF("text")
    val sim = Dedup.withSimHash(df, "text").select("simhash").collect()
    assert(sim(0).isNullAt(0) && sim(1).isNullAt(0) && !sim(2).isNullAt(0))
    val sig = df.select(Dedup.minHashSignature(Dedup.shingleIds(F.col("text"), 1), 8)).collect()
    assert(sig(0).isNullAt(0) && sig(1).isNullAt(0) && !sig(2).isNullAt(0))
  }

  test("pqTopK recall@5 >= 0.9 vs brute force after exact re-rank") {
    val emb = table("embeddings")
    val qs = emb.filter(F.col("vec_id") < 20)
    val bf = graft.pipeline.Similarity.bruteForceTopK(emb, qs, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = graft.pipeline.Similarity.pqTopK(emb, qs, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & pq).size.toDouble / bf.size
    assert(recall >= 0.9, s"PQ recall@5 $recall below gate")
  }

  test("pq ADC score approximates exact cosine on normalized vectors") {
    import spark.implicits._
    import graft.functions.{Pq, PqUtil}
    val emb = table("embeddings")
    val codebook = graft.pipeline.Similarity.trainProductQuantizer(
      emb, "vec_id", "embedding")
    // self-score: ADC(codes(v), lut(v)) must be close to cos(v, v) = 1
    val norm = {
      val v = F.col("embedding").cast("array<double>")
      val n = F.sqrt(F.aggregate(v, F.lit(0.0), (acc, x) => acc + x * x))
      F.when(n === 0.0, v).otherwise(F.transform(v, x => x / n))
    }
    val scores = emb.select(
      Pq.pq_adc_score(Pq.pq_encode(norm, codebook), Pq.pq_lut(norm, codebook), 16)
        .as("s"))
      .collect().map(_.getDouble(0))
    val mean = scores.sum / scores.length
    // near-random high-dim data is PQ's worst case: 16 cells per 4-dim
    // subspace keeps ~0.6-0.7 of the self inner product; what matters is
    // the ORDERING, verified by the recall gate above — here we pin that
    // self-ADC is well above the cross-pair level and never exceeds 1
    assert(mean > 0.5 && scores.forall(_ <= 1.0 + 1e-9),
      s"mean self-ADC $mean: quantization should keep most of the self score")
    val cross = emb.limit(10).select(Pq.pq_encode(norm, codebook).as("c"))
      .crossJoin(emb.filter(F.col("vec_id") >= 10).limit(10)
        .select(Pq.pq_lut(norm, codebook).as("l")))
      .select(Pq.pq_adc_score(F.col("c"), F.col("l"), 16).as("s"))
      .collect().map(_.getDouble(0))
    val crossMean = cross.sum / cross.length
    assert(mean > crossMean + 0.2,
      s"self-ADC $mean should clearly dominate cross-pair ADC $crossMean")
  }

  test("repetition stats: counts, tie-break, and edge semantics") {
    import spark.implicits._
    val df = Seq(
      // "b c" x2 and "a b" x2 tie at 2 -> lexicographically smaller "a b"
      // wins; trigram "a b c" occurs twice (dup3 = 2 * 5 = 10 chars)
      Some("a b c a b c"),
      Some("x y"), // single bigram, no trigram dup
      Some("solo"), // 1 token: no bigrams
      Some(""), // empty: all zero
      None // NULL propagates
    ).toDF("text")
    val got = graft.pipeline.TextAnalysis.withRepetition(df, "text")
      .select("n_words", "word_rep_ratio", "top2_count", "top2_frac", "dup3_frac")
      .collect()
    // doc 0: 6 words, 3 distinct; norm "a b c a b c" = 11 chars
    assert(got(0).getInt(0) == 6)
    assert(math.abs(got(0).getDouble(1) - 0.5) < 1e-15)
    assert(got(0).getLong(2) == 2L)
    assert(math.abs(got(0).getDouble(3) - 2.0 * 3 / 11) < 1e-15, "top pair 'a b' x2")
    assert(math.abs(got(0).getDouble(4) - 2.0 * 5 / 11) < 1e-15, "'a b c' x2 duplicated")
    // doc 1: one bigram "x y" count 1, covers the whole norm text
    assert(got(1).getLong(2) == 1L && math.abs(got(1).getDouble(3) - 1.0) < 1e-15)
    assert(got(1).getDouble(4) == 0.0)
    // doc 2: no bigrams
    assert(got(2).getLong(2) == 0L && got(2).getDouble(3) == 0.0)
    // doc 3: empty
    assert(got(3).getInt(0) == 0 && got(3).getDouble(1) == 0.0 && got(3).getDouble(3) == 0.0)
    // doc 4: NULL text -> NULL stats
    assert(got(4).isNullAt(0) && got(4).isNullAt(2) && got(4).isNullAt(3))
  }

  test("top-k preserves string ids") {
    import spark.implicits._
    val emb = table("embeddings").limit(50)
      .withColumn("sid", F.concat(F.lit("v"), F.col("vec_id")))
    val out = Similarity.bruteForceTopK(emb, emb.filter(F.col("vec_id") < 3),
      idCol = "sid", k = 3).collect()
    assert(out.length == 9)
    assert(out.forall(_.getAs[String]("neighbor_id").startsWith("v")))
  }

  test("hll bounds bracket the true distinct count") {
    import graft.functions.cardinality_agg
    val li = table("lineitem")
    val row = li.agg(cardinality_agg(F.col("l_orderkey")).as("c")).select("c.*").collect()(0)
    val truth = li.select("l_orderkey").distinct().count().toDouble
    val (est, lo, hi) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
    assert(lo <= truth && truth <= hi, s"[$lo,$hi] vs $truth")
    assert(math.abs(est - truth) / truth < 0.05)
  }

  test("minhash signature agreement estimates Jaccard") {
    val docs = table("documents")
    val sigs = docs.select(F.col("doc_id"),
      Dedup.shingleIds(F.col("text")).as("ids"))
      .withColumn("sig", Dedup.minHashSignature(F.col("ids"), 128))
    val a = sigs.select(F.col("doc_id").as("a"), F.col("ids").as("ia"), F.col("sig").as("sa"))
    val b = sigs.select(F.col("doc_id").as("b"), F.col("ids").as("ib"), F.col("sig").as("sb"))
    val pairs = a.join(b, F.col("b") > F.col("a"))
      .withColumn("jac", Dedup.jaccard(F.col("ia"), F.col("ib")))
      .filter(F.col("jac") >= 0.5) // planted near-dup pairs
      .withColumn("est", F.expr(
        "size(filter(zip_with(sa, sb, (x, y) -> x = y), v -> v)) / 128.0").cast("double"))
      .select("jac", "est").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.15,
        s"jac=${r.getDouble(0)} est=${r.getDouble(1)}")
    }
  }

  test("novelty: shared grams counted by holder docs, self-repeats are novel") {
    import spark.implicits._
    // doc 1 and 2 share "a b c"; doc 3 repeats ITS OWN phrase (still
    // novel — one holder); doc 4 is too short for any 3-gram
    val df = Seq(
      (1L, "a b c x y"),
      (2L, "q a b c r"),
      (3L, "p q r p q r"),
      (4L, "只 two")).toDF("doc_id", "text").repartition(3)
    val got = Dedup.novelty(df, "text", "doc_id", n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc 1: grams {abc, bcx, cxy} — 1 shared
    assert(got(1L) == ((3L, 1L, 1.0 - 1.0 / 3.0)))
    assert(got(2L) == ((3L, 1L, 1.0 - 1.0 / 3.0)))
    // doc 3: 4 grams, "p q r" twice but DISTINCT per doc ⇒ 3 distinct? no:
    // tokens p q r p q r → grams pqr,qrp,rpq,pqr → distinct {pqr,qrp,rpq}
    assert(got(3L) == ((3L, 0L, 1.0)))
    assert(got(4L) == ((0L, 0L, 1.0)))
  }

  test("duplicateSpans flags repeated n-grams with positions, within and across docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // grams at pos 1..4 (n=3)
      (2L, "prefix words alpha beta gamma delta tail"), // shares 2 grams with doc 1
      (3L, "one two one two one two"), // intra-doc repeat: "one two one" x2
      (4L, "too short")) // < n tokens -> no grams
      .toDF("doc_id", "text").repartition(3)
    val got = graft.pipeline.Dedup.duplicateSpans(docs, "text", "doc_id", n = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expected = Set(
      (1L, 1, 2L), (2L, 3, 2L),  // "alpha beta gamma"
      (1L, 2, 2L), (2L, 4, 2L),  // "beta gamma delta"
      (3L, 1, 2L), (3L, 3, 2L),  // "one two one"
      (3L, 2, 2L), (3L, 4, 2L))  // "two one two"
    assert(got == expected)
  }

  test("duplicateSpanRanges merges consecutive flagged grams into cut ranges") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "prefix words alpha beta gamma delta tail"),
      (3L, "one two one two one two"),
      (4L, "too short")).toDF("doc_id", "text").repartition(3)
    val got = graft.pipeline.Dedup
      .duplicateSpanRanges(docs, "text", "doc_id", n = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    // doc 1: grams at pos 1,2 merge -> tokens 1..4; doc 2: pos 3,4 -> 3..6;
    // doc 3: pos 1..4 -> 1..6 (whole doc)
    assert(got == Set((1L, 1, 4, 2L), (2L, 3, 6, 2L), (3L, 1, 6, 4L)))
  }

  test("cutDuplicateSpans keeps the canonical occurrence, cuts every other copy") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "prefix words alpha beta gamma delta tail"),
      (3L, "one two one two one two"),
      (4L, "too short")).toDF("doc_id", "text").repartition(3)
    val got = graft.pipeline.Dedup
      .cutDuplicateSpans(docs, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // doc 1 holds the canonical (min doc,pos) copies of both shared
    // grams -> untouched; doc 2 cuts tokens 3..6; doc 3's canonicals
    // ("one two one" at pos 1, "two one two" at pos 2) protect tokens
    // 1..2 while the non-canonical repeats at pos 3/4 cut tokens 3..6;
    // doc 4 has no grams
    assert(got(1L) === (("alpha beta gamma delta epsilon zeta", 0L)))
    assert(got(2L) === (("prefix words tail", 4L)))
    assert(got(3L) === (("one two", 4L)))
    assert(got(4L) === (("too short", 0L)))
  }

  test("labeledReferences: exact per-label centroids, distributed") {
    import spark.implicits._
    val df = Seq(
      ("a", Array(1.0f, 3.0f)), ("a", Array(3.0f, 5.0f)),
      ("b", Array(10.0f, 0.0f)), ("b", Array(14.0f, 2.0f)), ("b", Array(12.0f, 4.0f)),
      (null.asInstanceOf[String], Array(99.0f, 99.0f))) // null label excluded
      .toDF("label", "embedding").repartition(4)
    val refs = graft.pipeline.Embeddings.labeledReferences(df, "embedding", "label")
    assert(refs.map(_._1) == Seq("a", "b"))
    val byL = refs.toMap
    assert(byL("a").zip(Array(2.0, 4.0)).forall { case (g, e) => math.abs(g - e) < 1e-12 })
    assert(byL("b").zip(Array(12.0, 2.0)).forall { case (g, e) => math.abs(g - e) < 1e-12 })
  }

  test("kmeansReferences separate well-separated clusters and drive closestLabel") {
    import spark.implicits._
    val df = (
      (1L to 20L).map(i => (i, Array(1.0f, 0.0f + i * 1e-4f))) ++
      (21L to 40L).map(i => (i, Array(0.0f + i * 1e-4f, 1.0f))))
      .toDF("vec_id", "embedding").repartition(4)
    val refs = graft.pipeline.Embeddings.kmeansReferences(df, "vec_id", "embedding", k = 2)
    assert(refs.map(_._1) == Seq("cluster_0", "cluster_1"))
    // each selected reference points dominantly along one axis
    assert(refs.exists { case (_, v) => v(0) > 10 * math.abs(v(1)) } ||
      refs.exists { case (_, v) => v(0) > v(1) })
    val labeled = df.select(F.col("vec_id"),
      graft.pipeline.Embeddings.closestLabel(F.col("embedding"), refs).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // cluster assignment must split exactly along the two true clusters
    val g1 = (1L to 20L).map(labeled).toSet
    val g2 = (21L to 40L).map(labeled).toSet
    assert(g1.size == 1 && g2.size == 1 && g1 != g2, s"g1=$g1 g2=$g2")
  }

  test("centroidDrift: exact per-dim means across partitions") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f), true), (2L, Seq(3.0f, 2.0f), true),
      (3L, Seq(0.0f, 4.0f), false), (4L, Seq(2.0f, 0.0f), false),
      (5L, Seq(4.0f, 2.0f), false))
    val df = rows.toDF("id", "vec", "t").repartition(3)
    val got = Embeddings.centroidDrift(df, "vec", F.col("t"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got(0) == ((2L, 3L, 2.0, 2.0)))
    assert(got(1) == ((2L, 3L, 1.0, 2.0)))
  }

  test("centroidShift: identical slices give cos 1 / l2 0; hand-computed shift") {
    import spark.implicits._
    val same = Seq((1L, Seq(1.0f, 2.0f), true), (2L, Seq(1.0f, 2.0f), false))
      .toDF("id", "vec", "t")
    val s0 = Embeddings.centroidShift(
      Embeddings.centroidDrift(same, "vec", F.col("t"))).collect()(0)
    assert(math.abs(s0.getAs[Double]("cos_shift") - 1.0) < 1e-15)
    assert(s0.getAs[Double]("l2_shift") == 0.0)
    // orthogonal centroids: target mean (1,0), ref mean (0,2)
    val orth = Seq((1L, Seq(1.0f, 0.0f), true), (2L, Seq(0.0f, 2.0f), false))
      .toDF("id", "vec", "t")
    val s1 = Embeddings.centroidShift(
      Embeddings.centroidDrift(orth, "vec", F.col("t"))).collect()(0)
    assert(s1.getAs[Double]("cos_shift") == 0.0)
    assert(math.abs(s1.getAs[Double]("l2_shift") - math.sqrt(5.0)) < 1e-15)
    assert((s1.getAs[Long]("n_target"), s1.getAs[Long]("n_ref")) == ((1L, 1L)))
  }

  test("classSeparation: orthogonal and identical class centroids, counts, a<b pairs only") {
    import spark.implicits._
    // class 0 centroid (1,0); class 1 centroid (0,2); class 2 ≡ class 0
    val df = Seq(
      (0, Seq(1.0f, 0.0f)), (0, Seq(1.0f, 0.0f)),
      (1, Seq(0.0f, 2.0f)),
      (2, Seq(1.0f, 0.0f)), (2, Seq(1.0f, 0.0f)), (2, Seq(1.0f, 0.0f)))
      .toDF("label", "vec").repartition(3)
    val got = Embeddings.classSeparation(df, "vec", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getAs[Double]("cos_sim"),
          r.getAs[Double]("l2_dist"))).toMap
    assert(got.keySet == Set((0, 1), (0, 2), (1, 2)))
    assert(got((0, 1)) == ((2L, 1L, 0.0, math.sqrt(5.0))))
    assert(got((0, 2))._3 == 1.0 && got((0, 2))._4 == 0.0)
    assert(got((0, 2))._1 == 2L && got((0, 2))._2 == 3L)
  }

  test("winnowFingerprints: shared n+w−1 word run ⇒ shared fingerprint; short docs degrade") {
    import spark.implicits._
    val run = "alpha beta gamma delta epsilon zeta eta" // 7 words = n+w−1 at n=w=4
    val df = Seq(
      (1L, s"prefix words here $run and a tail"),
      (2L, s"$run totally different continuation text now"),
      (3L, "tiny doc"),                       // < n words → no grams
      (4L, "one two three four"))             // exactly one gram → one fp
      .toDF("doc_id", "text").repartition(3)
    val fps = df.select(F.col("doc_id"),
        graft.pipeline.Dedup.winnowFingerprints(F.col("text"), 4, 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // winnowing guarantee: any shared window-covering run shares ≥1 pick
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
    assert(fps(3L).isEmpty)
    assert(fps(4L).size == 1)
    // fingerprints are sorted distinct
    assert(fps(1L) == fps(1L).sorted.distinct)
  }

  test("winnowFingerprints: native selection ≡ HOF formulation (semantics oracle)") {
    import spark.implicits._
    // text shapes that exercise every edge: empty, <n words, exactly n,
    // n..n+w-1 (single global min), long with repeated runs (duplicate
    // window minima → distinct collapse), and mixed whitespace
    val texts = Seq(
      "", "a b c", "a b c d", "a b c d e f",
      "x y z w x y z w x y z w x y z w",
      "the quick brown fox jumps over the lazy dog again and again and again",
      "  padded   with\todd   whitespace between tokens here okay then  ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(2)
    val n = 4; val w = 4
    val words = graft.pipeline.Dedup.tokens(F.col("text"))
    val count = F.size(words) - (n - 1)
    val idx = F.when(count > 0, F.sequence(F.lit(1), count))
      .otherwise(F.array().cast("array<int>"))
    val md5 = (g: org.apache.spark.sql.Column) =>
      F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
    val ghs = F.transform(idx, i => md5(F.concat_ws(" ", F.slice(words, i, F.lit(n)))))
    val nw = F.size(ghs) - (w - 1)
    val mins = F.when(nw >= 1,
        F.transform(F.sequence(F.lit(1), nw),
          j => F.array_min(F.slice(ghs, j, F.lit(w)))))
      .when(F.size(ghs) > 0, F.array(F.array_min(ghs)))
      .otherwise(F.array().cast("array<long>"))
    val hof = F.array_sort(F.array_distinct(mins))
    val rows = df.select(F.col("doc_id"),
        graft.pipeline.Dedup.winnowFingerprints(F.col("text"), n, w).as("nat"),
        hof.as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"doc ${r.getLong(0)}: native ${r.getSeq[Long](1)} != hof ${r.getSeq[Long](2)}")
    }
  }

  test("winnowMatches: df-cap drops boilerplate fingerprints; minShared filters pairs") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val boiler = "common license header words appear everywhere in all docs"
    val df = Seq(
      (1L, s"$boiler $shared one"), (2L, s"$boiler $shared two"),
      (3L, s"$boiler completely different content about other things entirely here"),
      (4L, s"$boiler yet more unrelated words that share nothing else at all"))
      .toDF("doc_id", "text").repartition(3)
    // cap 2: the boilerplate run (in all 4 docs) is dropped; the shared
    // 10-word run (docs 1,2 only) survives and pairs them
    val got = graft.pipeline.Dedup.winnowMatches(df, "text", "doc_id",
      minShared = 2, maxDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == Set((1L, 2L)))
    assert(got((1L, 2L)) >= 2L)
    // without the cap the boilerplate links every pair
    val uncapped = graft.pipeline.Dedup.winnowMatches(df, "text", "doc_id",
      minShared = 1, maxDocFreq = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 6)
  }

  test("bm25Retrieve: per-query top-N, shared dfs, exact single-query agreement") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark join shuffle join"), (2L, "vector index search"),
      (3L, "spark vector join"), (4L, "plain text nothing")).toDF("doc_id", "text")
    val multi = TextAnalysis.bm25Retrieve(docs, "doc_id", "text",
      Seq("qa" -> Seq("join"), "qb" -> Seq("vector", "index")), topN = 2)
      .collect().map(r => (r.getAs[String]("qid"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toMap
    // qa: doc 1 (tf 2) outranks doc 3 (tf 1)
    assert(multi(("qa", 1L))._1 == 1L && multi(("qa", 2L))._1 == 3L)
    // qb: doc 2 hits both terms, doc 3 one
    assert(multi(("qb", 1L))._1 == 2L && multi(("qb", 2L))._1 == 3L)
    // a query run through the single-query path scores identically
    val single = TextAnalysis.bm25TopDocs(docs, "doc_id", "text",
      Seq("vector", "index"), topN = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(single(2L) == multi(("qb", 1L))._2)
    assert(single(3L) == multi(("qb", 2L))._2)
  }

  test("l2Norm folds in array order; null vectors stay null") {
    import spark.implicits._
    val df = Seq((1L, Some(Seq(3.0f, 4.0f))), (2L, None))
      .toDF("id", "vec")
    val got = df.select(F.col("id"), Embeddings.l2Norm(F.col("vec")).as("n"))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[java.lang.Double]("n"))).toMap
    assert(got(1L).contains(5.0))
    assert(got(2L).isEmpty)
  }

  test("tfIdfTopTerms ranks doc-specific terms above corpus-wide ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common zebra zebra zebra"),
      (2L, "common common common quark quark"),
      (3L, "common plain words here")).toDF("doc_id", "text")
    val top = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(5)) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // zebra: tf 3, df 1 → score 3.0 — beats common (tf 2, df 3 → 0.667)
    assert(top((1L, 1L)) == (("zebra", 3L, 1L)))
    assert(top((2L, 1L)) == (("quark", 2L, 1L)))
    assert(top((1L, 2L))._1 == "common")
    // rank never exceeds k and every doc appears
    assert(top.keySet.map(_._1) == Set(1L, 2L, 3L))
    assert(top.keySet.forall(_._2 <= 2))
  }

  test("classTfidf: class-exclusive terms outrank shared; heap cut ≡ window formulation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "wiki", "encyclopedia encyclopedia neutral tone common words"),
      (2L, "wiki", "encyclopedia citations neutral common words"),
      (3L, "web", "clickbait clickbait listicle common words"),
      (4L, "web", "clickbait banner common words here")).toDF("doc_id", "source", "text")
      .repartition(3)
    val got = TextAnalysis.classTfidf(docs, "source", "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(5)) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // class-exclusive, high-tf terms win: encyclopedia (tf 3, cdf 1),
    // clickbait (tf 3, cdf 1); 'common' (cdf 2) never outranks them
    assert(got(("wiki", 1L))._1 == "encyclopedia" && got(("wiki", 1L))._4 == 3.0)
    assert(got(("web", 1L))._1 == "clickbait" && got(("web", 1L))._4 == 3.0)
    // bounded-heap cut ≡ window row_number over (score desc, term desc)
    val win = org.apache.spark.sql.expressions.Window.partitionBy("class")
      .orderBy(F.col("score").desc, F.col("term").desc)
    val toks = docs.select(F.col("source").as("class"),
      F.explode(graft.pipeline.Dedup.tokens(F.col("text"))).as("term"))
    val tf = toks.groupBy("class", "term").agg(F.count(F.lit(1)).as("tf"))
    val ref = tf.join(tf.groupBy("term").agg(F.count(F.lit(1)).as("class_df")), Seq("term"))
      .withColumn("score", F.col("tf").cast("double") / F.col("class_df").cast("double"))
      .withColumn("rank", F.row_number().over(win).cast("long"))
      .filter(F.col("rank") <= 3)
      .collect().map(r => (r.getString(1), r.getLong(5)) ->
        ((r.getString(0), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == ref)
  }

  test("gopherQualityFilter verdicts, signals and first-fail reasons") {
    import spark.implicits._
    val good = ("alpha words flowing nicely onward " * 10).trim // 50 words
    val docs = Seq(
      (1L, good),
      (2L, "too short"),                       // fails word_count
      (3L, ("ab " * 60).trim),                 // mean len 2 → mean_word_len
      (4L, ("1234 5678 " * 30).trim),          // no alpha → alpha_frac
      (5L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.gopherQualityFilter(docs, "doc_id", "text", minWords = 20)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(6), r.getString(7))).toMap
    assert(out(2) == ((false, "word_count")))
    assert(out(3) == ((false, "mean_word_len")))
    assert(out(4) == ((false, "alpha_frac")))
    assert(out(5) == ((false, "word_count"))) // empty doc: 0 words
    val sig = TextAnalysis.gopherQualityFilter(docs, "doc_id", "text", minWords = 20)
      .filter(F.col("doc_id") === 1).collect()(0)
    assert(sig.getLong(1) == 50)
    assert(sig.getDouble(2) >= 3.0 && sig.getDouble(2) <= 10.0)
    assert(sig.getDouble(3) == 1.0)
    // the repeated phrase trips a repetition gate rather than passing
    val r1 = out(1)
    assert(!r1._1 && (r1._2 == "top2_frac" || r1._2 == "dup3_frac"))
  }

  test("vocabStats counts vocabulary, tokens and hapax terms exactly") {
    import spark.implicits._
    val docs = Seq("a a b c", "b d", "").toDF("text")
    val r = TextAnalysis.vocabStats(docs, "text").collect()(0)
    // vocab {a,b,c,d}; tokens 6; hapax {c,d}
    assert(r.getLong(0) == 4 && r.getLong(1) == 6 && r.getLong(2) == 2)
    assert(r.getDouble(3) == 0.5)
  }

  test("rolling_min_hash: equal prefixes beyond window share no forced prefix bias") {
    // position-bias regression: fingerprint of s must equal fingerprint of
    // any string whose minimal window coincides; in particular reversing a
    // string with distinct bytes must (almost surely) change it, and a
    // repeated document must keep it.
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog" * 3
    val df = Seq(base, base, base.reverse).toDF("text")
    val fps = df.select(graft.functions.Fingerprints.rolling_min_hash(F.col("text"), 16))
      .collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("paragraphDedup: canonical first occurrence, cross-doc counts, empties dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, "intro\nSHARED BOILERPLATE\nbody one"),
      (2L, "SHARED BOILERPLATE\nbody two\n\nSHARED BOILERPLATE"),
      (3L, "body three")).toDF("doc_id", "text").repartition(3)
    val full = graft.pipeline.Dedup.paragraphDedup(df, "text", "doc_id")
    val got = full
      .select("id", "para_idx", "occurrences", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getBoolean(3)))
      .toMap
    // doc 2's empty paragraph (the \n\n) is dropped: positions 0,1,3 only
    assert(got.keySet == Set((1L, 0L), (1L, 1L), (1L, 2L),
      (2L, 0L), (2L, 1L), (2L, 3L), (3L, 0L)))
    // the boilerplate occurs 3 times; only its first (doc 1, idx 1) keeps
    assert(got((1L, 1L)) == (3L, true))
    assert(got((2L, 0L)) == (3L, false))
    assert(got((2L, 3L)) == (3L, false))
    // unique paragraphs keep
    assert(Seq((1L, 0L), (1L, 2L), (2L, 1L), (3L, 0L))
      .forall(k => got(k) == (1L, true)))
    // the paragraph string rides along for masking pipelines
    assert(full.filter(F.col("id") === 1L && F.col("para_idx") === 1L)
      .select("para").collect().head.getString(0) === "SHARED BOILERPLATE")
    // the count-only variant is the same verdict table minus the string
    val counts = graft.pipeline.Dedup.paragraphDedupCounts(df, "text", "doc_id")
    assert(counts.columns.toSeq ===
      Seq("id", "para_idx", "para_hash", "occurrences", "keep"))
    val fullRows = full.drop("para").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getBoolean(4)))
      .toSet
    val countRows = counts.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getBoolean(4)))
      .toSet
    assert(countRows === fullRows)
  }

  test("zipfFit matches a hand-rolled least-squares fit bit-for-bit") {
    import spark.implicits._
    // term counts by construction: a=8, b=4, c=2, d=1
    val text = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++ Seq("d"))
      .mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val row = TextAnalysis.zipfFit(docs, "text").collect().head
    assert(row.getLong(0) === 4L)
    // same-JVM reference fold in rank order
    // Spark's Log codegen calls StrictMath.log (cross-platform pin);
    // Math.log's intrinsic can differ by an ulp per point
    val pts = Seq((1L, 8L), (2L, 4L), (3L, 2L), (4L, 1L))
      .map { case (r, c) =>
        (StrictMath.log(r.toDouble), StrictMath.log(c.toDouble)) }
    val (sx, sy, sxx, sxy) = pts.foldLeft((0.0, 0.0, 0.0, 0.0)) {
      case ((a, b, cc, d), (x, y)) => (a + x, b + y, cc + x * x, d + x * y)
    }
    val n = 4.0
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    assert(row.getDouble(1) === slope)
    assert(row.getDouble(2) === intercept)
    // counts halving per rank STEP fall faster than Zipf s=1 (which
    // halves per rank DOUBLING): the fit lands around -1.46
    assert(slope < -1.2 && slope > -1.8)
    // topK truncation keeps the most frequent terms only
    val trunc = TextAnalysis.zipfFit(docs, "text", topK = 2).collect().head
    assert(trunc.getLong(0) === 2L)
  }

  test("unigramEntropy: hand-computed values, invariances, quantization") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a a"),            // single token → 0 (sign-insensitive)
      (2L, "a b a b"),            // uniform 2 → ln 2
      (3L, "w x y z"),            // uniform 4 → ln 4
      (4L, "a a a b"),            // 3/4, 1/4 mix
      (5L, ""),                   // empty → 0
      (6L, "  B b A a "))         // case-folded → uniform 2 → ln 2
      .toDF("doc_id", "text")
    val got = docs.select(F.col("doc_id"),
      TextAnalysis.unigramEntropy(F.col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(1L)) === 0.0)
    assert(math.abs(got(2L) - math.log(2.0)) < 1e-12)
    assert(math.abs(got(3L) - math.log(4.0)) < 1e-12)
    val expected4 = -(0.25 * math.log(0.25) + 0.75 * math.log(0.75))
    assert(math.abs(got(4L) - expected4) < 1e-12)
    assert(got(5L) === 0.0)
    assert(math.abs(got(6L) - math.log(2.0)) < 1e-12)
    // quantized variant perturbs by < 2e-9 and keeps the ordering
    val q = docs.select(F.col("doc_id"),
      TextAnalysis.unigramEntropy(F.col("text"), Some(1e9)).as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, h) => assert(math.abs(q(id) - h) < 2e-9, s"doc $id") }
  }

  test("corpusReport: hand-computed one-row summary") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b", "en"), (2L, "a b", "en"), (3L, "c", "fr"))
      .toDF("doc_id", "text", "lang")
    val r = TextAnalysis.corpusReport(docs, "text", "doc_id").collect()
    assert(r.length === 1)
    val row = r(0)
    assert(row.getAs[Long]("n_docs") === 3L)
    assert(row.getAs[Long]("n_dup_docs") === 2L)
    assert(row.getAs[Double]("dup_frac") === 2.0 / 3.0)
    assert(row.getAs[Long]("vocab_size") === 3L)
    assert(row.getAs[Long]("total_tokens") === 5L)
    assert(row.getAs[Long]("hapax_count") === 1L)
    assert(row.getAs[Double]("hapax_frac") === 1.0 / 3.0)
    assert(row.getAs[Double]("mean_doc_tokens") === 5.0 / 3.0)
    assert(row.getAs[String]("top_lang") === "en")
    assert(row.getAs[Double]("top_lang_frac") === 2.0 / 3.0)
    // all-unique corpus: zero dups, coalesce keeps the row
    val uniq = Seq((1L, "x", "en"), (2L, "y", "en")).toDF("doc_id", "text", "lang")
    val u = TextAnalysis.corpusReport(uniq, "text", "doc_id").collect()(0)
    assert(u.getAs[Long]("n_dup_docs") === 0L)
    assert(u.getAs[Double]("dup_frac") === 0.0)
  }

  test("dropRepeatedLines keeps first occurrences in order, exact-match only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "nav\nbody one\nnav\nbody two\nnav"),   // repeated nav bar
      (2L, "a\nA\na "),                             // case/space differ: all kept
      (3L, "solo"),                                 // single line
      (4L, ""),                                     // empty: one empty line
      (5L, "x\n\ny\n\nx"))                          // empty lines dedupe too
      .toDF("doc_id", "text")
    val got = TextAnalysis.dropRepeatedLines(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got(1L) === ((5L, 3L, "nav\nbody one\nbody two")))
    assert(got(2L) === ((3L, 3L, "a\nA\na ")))
    assert(got(3L) === ((1L, 1L, "solo")))
    assert(got(4L) === ((1L, 1L, "")))
    assert(got(5L) === ((5L, 3L, "x\n\ny")))
    // map-only plan: no exchange, no join
    val plan = TextAnalysis.dropRepeatedLines(docs, "text", "doc_id")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"))
  }

  test("classChi2Keywords: hand 2x2 tables, zero-signal and everywhere-terms") {
    import spark.implicits._
    // A docs: "x y z", "x z"; B docs: "y z", "z w"
    val docs = Seq(
      ("A", "x y z"), ("A", "x z"), ("B", "y z"), ("B", "z w"))
      .toDF("cls", "text")
    val got = TextAnalysis.classChi2Keywords(docs, "cls", "text", 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // x: only in A (a=2,b=0,c=0,d=2) -> chi2 = 4*(4-0)^2/(2*2*2*2) = 4
    assert(got(("A", "x")) == ((2L, 2L, 4.0)))
    // y: one in each (a=1,b=1,c=1,d=1) -> chi2 = 0
    assert(got(("A", "y")) == ((1L, 2L, 0.0)))
    assert(got(("B", "y")) == ((1L, 2L, 0.0)))
    // z: in every doc -> guarded to 0
    assert(got(("A", "z")) == ((2L, 4L, 0.0)))
    // w: only in one B doc (a=1, b=1, c=0, d=2)
    // chi2 = 4*(1*2 - 1*0)^2 / ((1+1)*(0+2)*(1+0)*(1+2)) = 16/12
    assert(got(("B", "w")) == ((1L, 1L, 4.0 * 4.0 / 12.0)))
    // rank ties (chi2 desc, term desc) are deterministic
    val ranks = TextAnalysis.classChi2Keywords(docs, "cls", "text", 10)
      .filter(F.col("class") === "A").orderBy("rank")
      .collect().map(_.getString(1)).toSeq
    assert(ranks.head == "x")
  }

  test("classChi2Keywords refuses a single-class corpus; NULL classes are excluded") {
    import spark.implicits._
    val docs = Seq(("A", "x y"), ("A", "y z")).toDF("cls", "text")
    assertThrows[IllegalArgumentException] {
      TextAnalysis.classChi2Keywords(docs, "cls", "text", 5)
    }
    // a NULL class neither forms a class nor inflates n
    val withNull = Seq((Some("A"), "x z"), (Some("A"), "x z"), (Some("B"), "y z"),
      (Some("B"), "z w"), (Option.empty[String], "x y z w"))
      .toDF("cls", "text")
    val clean = Seq(("A", "x z"), ("A", "x z"), ("B", "y z"), ("B", "z w"))
      .toDF("cls", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.classChi2Keywords(df, "cls", "text", 10)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getLong(5))).toSet
    assert(rows(withNull) == rows(clean))
  }

  test("bpeTrainMerges: greedy rounds, frequency weighting, early stop, alnum gate") {
    import spark.implicits._
    // vocab after the [a-z0-9]+ gate: aa:1, ab:2 ("AB?" lowers to "ab?", dropped)
    val docs = Seq((1L, "aa ab"), (2L, "ab AB?")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrainMerges(docs, "text", rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    // r1: (a,b) x2 beats (a,a) x1; r2: only (a,a) remains; r3: exhausted
    assert(got.toSeq == Seq((1, "a", "b", "ab", 2L), (2, "a", "a", "aa", 1L)))
  }

  test("bpeTrainMerges: one round merges greedily left-to-right, non-overlapping") {
    import spark.implicits._
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrainMerges(docs, "text", rounds = 3)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    // "aaaa": 3 adjacent (a,a); ONE merge pass yields [aa, aa] (greedy,
    // non-overlapping), so round 2 sees exactly one (aa, aa) pair
    assert(got.toSeq == Seq((1, "aa", 3L), (2, "aaaa", 1L)))
  }

  test("bpeTrainMerges: merges never cross symbol boundaries") {
    import spark.implicits._
    // (a,b) and (x,a) tie at 1; tie-break (s1 asc) picks (a,b); applying
    // it must NOT touch "xa" even though "a" ends one symbol of it
    val docs = Seq((1L, "xa ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrainMerges(docs, "text", rounds = 2)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(got.head == ((1, "a", "b", 1L)))
    // round 2: "xa" still splits as (x, a)
    assert(got(1) == ((2, "x", "a", 1L)))
  }

  test("termCooccurrence: windowed pairs, exact counts, quantized PMI, alnum gate") {
    import spark.implicits._
    val docs = Seq((1L, "a b c X!")).toDF("doc_id", "text")
    val got = TextAnalysis.termCooccurrence(docs, "text", window = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // pairs: d1 (a,b),(b,c); d2 (a,c); "X!" fails the [a-z0-9]+ gate
    // ("x!" after lowering). total=3, ca: a->2 b->1, cb: b->1 c->2
    // pmi(a,b) = ln(1*3/(2*1)) = ln(1.5); pmi(a,c) = ln(3/4); pmi(b,c) = ln(3/2)
    def q(x: Double) = math.floor(1e6 * math.log(x)).toLong
    assert(got == Seq(
      ("a", "b", 1L, q(1.5)), ("a", "c", 1L, q(0.75)), ("b", "c", 1L, q(1.5))))
    // window 1 drops the distance-2 pair
    val w1 = TextAnalysis.termCooccurrence(docs, "text", window = 1, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(w1 == Seq(("a", "b"), ("b", "c")))
  }

  test("bpeTrainMergesFast: identical merge sequence to the distributed trainer") {
    import spark.implicits._
    // corpus equivalence at 8 rounds, plus the three adversarial
    // fixtures the distributed trainer's own tests pin (freq weighting +
    // early stop, greedy non-overlapping runs, symbol-boundary safety)
    val fixtures = Seq(
      table("documents"),
      Seq((1L, "aa ab"), (2L, "ab AB?")).toDF("doc_id", "text"),
      Seq((1L, "aaaa")).toDF("doc_id", "text"),
      Seq((1L, "xa ab")).toDF("doc_id", "text"))
    for (docs <- fixtures) {
      val slow = TextAnalysis.bpeTrainMerges(docs, "text", rounds = 8)
        .orderBy("round").collect().toSeq
      val fast = TextAnalysis.bpeTrainMergesFast(docs, "text", rounds = 8)
        .orderBy("round").collect().toSeq
      assert(fast == slow)
    }
  }

  test("bpeTrainMergesFast: hundreds of rounds in one distributed pass; counts non-increasing") {
    // the production-vocab path: 300 merges over the corpus histogram —
    // the per-round trainer would need 300 Spark jobs for this
    val got = TextAnalysis.bpeTrainMergesFast(table("documents"), "text", rounds = 300)
      .orderBy("round").collect()
    assert(got.length > 50) // corpus supports a real vocabulary
    val cnts = got.map(_.getLong(4))
    cnts.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a, "greedy picked counts must be non-increasing") }
    // the learned table drives the native encoder end to end: symbol
    // lengths still sum to original token chars (merges only join)
    val ms = got.map(r => (r.getString(1), r.getString(2))).toSeq
    val bad = table("documents").select(
        TextAnalysis.bpeSegmentNative(F.col("text"), ms).as("syms"), F.col("text"))
      .select(F.aggregate(F.col("syms"), F.lit(0),
          (acc, s) => acc + F.length(s)).as("symlen"),
        F.aggregate(F.filter(TextAnalysis.tokens(F.col("text")),
          w => w.rlike("^[a-z0-9]+$")), F.lit(0),
          (acc, t) => acc + F.length(t)).as("toklen"))
      .filter(F.col("symlen") =!= F.col("toklen")).count()
    assert(bad == 0)
  }

  test("bpeSegment: applies merges in order; non-alnum tokens are dropped") {
    import spark.implicits._
    val merges = Seq(("a", "b"), ("ab", "c"))
    val docs = Seq((1L, "abc ab x! ba")).toDF("doc_id", "text")
    val got = docs.select(TextAnalysis.bpeSegment(F.col("text"), merges))
      .collect().head.getSeq[String](0)
    // abc -> [ab, c] -> [abc]; ab -> [ab]; "x!" dropped; ba stays split
    assert(got == Seq("abc", "ab", "b", "a"))
    // train-then-encode agreement on the corpus: segment lengths sum to
    // original char count (merges only join, never drop characters)
    val docs2 = table("documents")
    val ms = TextAnalysis.bpeTrainMerges(docs2, "text", 3).orderBy("round")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val bad = docs2.select(
        TextAnalysis.bpeSegment(F.col("text"), ms).as("syms"), F.col("text"))
      .select(F.aggregate(F.col("syms"), F.lit(0),
          (acc, s) => acc + F.length(s)).as("symlen"),
        F.aggregate(F.filter(TextAnalysis.tokens(F.col("text")),
          w => w.rlike("^[a-z0-9]+$")), F.lit(0),
          (acc, t) => acc + F.length(t)).as("toklen"))
      .filter(F.col("symlen") =!= F.col("toklen")).count()
    assert(bad == 0)
  }

  test("bpePairCounts: occurrence-weighted within-token character pairs, tie order") {
    import spark.implicits._
    // "aaab": aa, aa, ab; "bc": bc; "x" too short; case folds (Ab -> ab)
    val docs = Seq((1L, "aaab bc x"), (2L, "Ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairCounts(docs, "text", 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("aa", 2L), ("ab", 2L), ("bc", 1L)))
    // topK cuts after ordering (cnt desc, pair asc)
    val top1 = TextAnalysis.bpePairCounts(docs, "text", 1)
      .collect().map(_.getString(0)).toSeq
    assert(top1 == Seq("aa"))
    // blank corpus yields no rows
    assert(TextAnalysis.bpePairCounts(
      Seq((1L, "   "), (2L, "")).toDF("doc_id", "text"), "text", 5).count() == 0)
  }
}
