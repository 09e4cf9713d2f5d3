package graft

import org.apache.spark.sql.{functions => F}

import graft.pipeline.{ConnectedComponents, Dedup}

/** Connected components (alternating large-star/small-star) vs a
  * driver-side union-find oracle. */
class ConnectedComponentsSpec extends SparkSpec {

  /** Driver-side union-find: (node -> min reachable node). */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val df = edges.toDF("a", "b").repartition(5)
    ConnectedComponents.components(df, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain graph collapses to its minimum (worst-case diameter)") {
    val chain = (0L until 63L).map(i => (i, i + 1))
    val got = run(chain)
    assert(got == (0L to 63L).map(_ -> 0L).toMap)
  }

  test("clique, duplicate and reversed edges, self-loops") {
    val clique = for (i <- 10L to 14L; j <- 10L to 14L; if i != j) yield (i, j)
    val got = run(clique ++ Seq((12L, 12L), (10L, 11L), (11L, 10L)))
    assert(got == (10L to 14L).map(_ -> 10L).toMap)
  }

  test("multiple components stay separate") {
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 9L), (20L, 25L), (25L, 21L))
    val got = run(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 9L -> 7L, 20L -> 20L, 21L -> 20L, 25L -> 20L))
  }

  test("random graph matches union-find oracle") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(400)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter { case (a, b) => a != b }
    assert(run(edges) == unionFind(edges))
  }

  test("distributed star rounds and the local fast path agree") {
    // LocalEdgeBound set to 0 forces the alternating-star path on a graph
    // the default bound would close on the driver — both must produce the
    // identical (id, min-reachable) table, including schema.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(500)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val df = edges.toDF("a", "b").repartition(5)
    val loc = ConnectedComponents.components(df, "a", "b")
    val dist = ConnectedComponents.LocalEdgeBound.withBound(0L)(
      ConnectedComponents.components(df, "a", "b"))
    assert(loc.schema.map(f => (f.name, f.dataType)) ==
      dist.schema.map(f => (f.name, f.dataType)))
    val lm = loc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dm = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lm == dm)
    assert(lm == unionFind(edges))
  }

  test("empty edge list yields empty result") {
    import spark.implicits._
    val df = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(ConnectedComponents.components(df, "a", "b").count() == 0L)
  }

  test("incremental dedup via a parquet-stored index matches cross-set exact Jaccard") {
    val docs = table("documents")
    val batch = docs.filter(F.col("source") === "src1")
    val rest = docs.filter(F.col("source") =!= "src1")
    // store the index like an ingestion pipeline would, read it back
    val dir = targetTempDir("lsh_index")
    Dedup.minHashIndex(rest, "text", "doc_id").write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val got = Dedup.nearDupsAgainstIndex(batch, index, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // oracle: exact Jaccard over string shingles across the boundary
    val sh = docs.select(F.col("doc_id"), F.col("source"),
      Dedup.shingles(F.col("text")).as("g"))
    val a = sh.filter(F.col("source") === "src1")
      .select(F.col("doc_id").as("a"), F.col("g").as("ga"))
    val b = sh.filter(F.col("source") =!= "src1")
      .select(F.col("doc_id").as("b"), F.col("g").as("gb"))
    val expected = a.crossJoin(b)
      .withColumn("j", Dedup.jaccard(F.col("ga"), F.col("gb")))
      .filter(F.col("j") >= 0.5)
      .select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
  }

  test("nearDupClusters: components are consistent with the pair list") {
    val docs = table("documents")
      .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    val pairs = Dedup.minHashNearDups(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = unionFind(pairs)
    val got = Dedup.nearDupClusters(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got.keySet == expected.keySet)
    val sizes = expected.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    expected.foreach { case (id, comp) =>
      assert(got(id) == ((comp, sizes(comp), id == comp)))
    }
  }
}
