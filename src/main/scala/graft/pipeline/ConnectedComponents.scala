package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

import graft.core.{Checkpoint, Gate}

/** Distributed connected components over an edge list — the clustering
  * stage of near-duplicate removal (LSH emits PAIRS; dropping all-but-one
  * document per duplicate GROUP needs the transitive closure).
  *
  * Algorithm: the alternating large-star / small-star method of Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
  * MapReduce and Beyond" (ACM SoCC 2014) — the shape used by every
  * large-scale dedup pipeline because each round is plain group-by /
  * join (no graph runtime needed) and it provably converges in
  * O(log² n) rounds (observed: 2-4 on real dedup graphs, whose clusters
  * are shallow). Per round the edge set only ever shrinks toward the
  * star fixpoint, so the shuffled volume is bounded by the candidate-pair
  * count, not the corpus.
  *
  * Scale shape per round: two groupBy(min) aggregations (map-side partial
  * min collapses high-degree nodes before the exchange) and two
  * join-backs (AQE splits skewed hubs — a 10⁶-copy near-dup clique is
  * exactly the skewed case). Lineage is truncated every round with a
  * localCheckpoint: iterative DataFrame algorithms otherwise double
  * their plan depth per round and re-execute the whole history.
  */
object ConnectedComponents {

  /** Edge-count ceiling for the driver-side union-find fast path, by
    * [[Gate]]'s driver-memory rule: the collected edge array and the
    * parent map (≤ ~2·bound boxed entries). */
  private[graft] val LocalEdgeBound = new Gate("ConnectedComponents.LocalEdgeBound", 200000L)

  /** Connected components of the undirected graph given by `edges`
    * (`aCol`, `bCol`: long-castable node ids). Returns one row per
    * distinct node: (id, component) where component is the MINIMUM node
    * id reachable from id — the canonical cluster representative.
    * Isolated nodes never appear in an edge list, so they are absent
    * (callers union singletons back if they need total coverage).
    *
    * Throws after `maxIter` rounds without convergence — the O(log² n)
    * bound makes 25 unreachable for any physical graph; hitting it means
    * the input violates the contract (e.g. NULL ids).
    *
    * Not lazy: the call itself runs Spark jobs. It always counts the
    * canonical edge set; at or below [[LocalEdgeBound]] edges it collects
    * them to the driver and returns a driver-built DataFrame; above it,
    * every star round runs before the call returns. A caller that embeds
    * the result in a larger plan pays those jobs (and up to
    * [[LocalEdgeBound]] collected edges of driver memory) at construction
    * time, not at the plan's action. */
  def components(
      edges: DataFrame, aCol: String, bCol: String, maxIter: Int = 25): DataFrame = {
    // canonical undirected edges (hi > lo), self-loops dropped
    var e = edges
      .select(F.col(aCol).cast("long").as("x"), F.col(bCol).cast("long").as("y"))
      .filter(F.col("x") =!= F.col("y") && F.col("x").isNotNull && F.col("y").isNotNull)
      .select(F.greatest(F.col("x"), F.col("y")).as("hi"),
        F.least(F.col("x"), F.col("y")).as("lo"))
      .distinct()
      .localCheckpoint(false)
    var sigPrev = signature(e)
    // Small-graph fast path: the signature's COUNT comes for free, and a
    // bounded edge list is cheaper to close on the driver than through
    // 2-4 alternating-star rounds of ~4 shuffle stages each (measured
    // sf0.1: every CC consumer pays ~1 s of round-trip jobs to cluster a
    // few hundred pairs). Union-find with union-by-min-root yields the
    // IDENTICAL (id, component = min reachable id) table — exact integer
    // output, no float, no tie-break ambiguity. A corpus-scale pair list
    // exceeds the bound and takes the distributed path unchanged.
    if (LocalEdgeBound.admits(sigPrev._1)) {
      val rows = e.select("hi", "lo").collect()
      Checkpoint.release(e)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      rows.foreach { row =>
        val hi = row.getLong(0); val lo = row.getLong(1)
        parent.putIfAbsent(hi, hi); parent.putIfAbsent(lo, lo)
        val rh = find(hi); val rl = find(lo)
        if (rh != rl) {
          if (rh < rl) parent.put(rl, rh) else parent.put(rh, rl)
        }
      }
      val spark = edges.sparkSession
      val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
      val it = parent.keySet().iterator()
      while (it.hasNext) { val id = it.next(); out.add(org.apache.spark.sql.Row(id, find(id))) }
      // nullable longs, matching the distributed fixpoint's schema exactly
      // (cast-derived columns are nullable; a schema flip here would leak
      // into consumers' written output schemas)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType, nullable = true)))
      return spark.createDataFrame(out, schema)
    }
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // Large-star: every node u attaches its STRICTLY LARGER neighbors to
      // m = min(N(u) ∪ {u}). Processed from both endpoints, so the
      // neighbor list is the bidirectional expansion of the edge set.
      val nbr = e.select(F.col("hi").as("u"), F.col("lo").as("v"))
        .union(e.select(F.col("lo").as("u"), F.col("hi").as("v")))
      val mins = nbr.groupBy("u").agg(F.min("v").as("mn"))
        .select(F.col("u").as("mu"), F.least(F.col("u"), F.col("mn")).as("m"))
      val ls = nbr.join(mins, F.col("u") === F.col("mu"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").as("hi"), F.col("m").as("lo"))
        .filter(F.col("hi") =!= F.col("lo"))
        .distinct()
      // Small-star: every node attaches its smaller neighbors S (and
      // itself) to m = min(S); emitted edges are (member, m) — already
      // canonical because m is the group minimum.
      val mins2 = ls.groupBy("hi").agg(F.min("lo").as("m"))
        .withColumnRenamed("hi", "h2")
      val ss = ls.join(mins2, F.col("hi") === F.col("h2"))
        .select(F.col("hi"), F.col("lo"), F.col("m"))
      // lazy checkpoint: the signature action below materializes it, so
      // each round runs ONE job, not a checkpoint job plus an agg job
      val next = ss.filter(F.col("lo") =!= F.col("m"))
        .select(F.col("lo").as("hi"), F.col("m").as("lo"))
        .union(ss.select(F.col("hi"), F.col("m").as("lo")))
        .distinct()
        .transform(Checkpoint.pin(_, eager = false))
      val sig = signature(next)
      // next is now materialized (the signature action forced the lazy
      // checkpoint); release the superseded round's checkpointed blocks —
      // otherwise up to maxIter copies of the edge list stay pinned in
      // executor storage for the life of the session.
      Checkpoint.release(e)
      converged = sig == sigPrev
      sigPrev = sig
      e = next
      iter += 1
    }
    require(converged || sigPrev == (0L, 0L),
      s"connected components did not converge in $maxIter rounds")
    // Fixpoint = union of stars (member → component-min root): hi rows
    // are the members, lo values are exactly the roots.
    e.select(F.col("hi").as("id"), F.col("lo").as("component"))
      .union(e.select(F.col("lo").as("id"), F.col("lo").as("component")))
      .distinct()
  }

  /** Cheap fixpoint detector: (count, Σ xxhash64 mod 2³⁰) of the edge
    * set. Equal signatures on consecutive rounds ⇒ converged — a false
    * positive needs a 2⁻³⁰-scale hash-sum collision AND an identical
    * count on a set the algorithm only ever contracts; the star fixpoint
    * also makes any such stall self-correct on the next round. The mod
    * keeps the sum inside a long under ANSI arithmetic for < 2³³ edges. */
  private def signature(e: DataFrame): (Long, Long) = {
    val r = e.agg(F.count(F.lit(1)),
      F.coalesce(F.sum(F.pmod(F.xxhash64(F.col("hi"), F.col("lo")),
        F.lit(1L << 30))), F.lit(0L))).head
    (r.getLong(0), r.getLong(1))
  }
}
