package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

import graft.core.Checkpoint

/** Graph centrality over an edge list — the source-ranking /
  * keeper-election tool of a corpus-curation pipeline (rank crawl
  * domains by their link graph; elect the most central member of a
  * near-duplicate cluster instead of the arbitrary min-id).
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic end to end: ranks
  * live in units of `1/scale` (default 1e-12) as BIGINTs, every
  * per-edge contribution is one integer division (`rank div outdeg`)
  * and the damping step is `(85 * Σ contribs) div 100` — so the result
  * is bit-identical across engines, partitionings and fold orders,
  * and an unrolled-CTE SQL oracle replays it exactly. The classic
  * float formulation is NOT reproducible distributed (per-vertex sums
  * reorder), which is why production systems publish "approximately
  * equal" ranks; integer fixed-point removes the caveat at zero extra
  * cost — the division truncation loses at most `outdeg/scale` mass
  * per vertex per round.
  *
  * Scale shape per iteration: ONE exchange (groupBy(dst) with map-side
  * partial sums — a mega-hub's in-edges collapse per partition before
  * the shuffle) plus a vertex-keyed left join that AQE plans as a
  * broadcast when the vertex table is small and as a co-partitioned
  * shuffle join otherwise; iterations are a small constant, so the
  * whole plan is `iters` shuffles over the EDGE list, never the
  * corpus. The edge list and vertex set are checkpointed for the call
  * (the degree pass and every iteration re-read them); each round is an
  * eager [[graft.core.Checkpoint.pin]] that frees the one before it, and
  * the result reads the last.
  *
  * (Reference analog: none — whylogs profiles tables; this exists for
  * the curation pipelines (Common Crawl-style domain ranking, cluster
  * keeper election) that the dedup operators here feed. Formulation:
  * Page, Brin, Motwani, Winograd 1999; damping 0.85.)
  */
object Graph {

  /** Fixed-point PageRank on the graph `edges` (`srcCol` → `dstCol`,
    * long-castable ids). `undirected = true` (the near-dup-pair case)
    * symmetrizes the edge list first. Self-loops are dropped; parallel
    * edges collapse (`distinct`) so out-degrees are simple-graph
    * degrees. Returns one row per vertex:
    * `(id, rank, rank_frac = rank / scale)` — `rank` in fixed-point
    * units of `1/scale`, `rank_frac` one IEEE division.
    *
    * Per iteration: `rank' (v) = base + (dampingPct * Σ_{u→v}
    * (rank(u) div outdeg(u))) div 100` with
    * `base = (scale * (100 − dampingPct) div 100) div n` — all BIGINT.
    * Vertices with no out-edges (possible only when `undirected =
    * false`) leak their mass: ranks then sum to < scale, the standard
    * "dangling mass dropped" variant. Truncation keeps every rank ≤
    * scale, so `dampingPct * Σ` stays far from Long overflow. */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, dampingPct: Int = 85, scale: Long = 1000000000000L,
      undirected: Boolean = true): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampingPct >= 0 && dampingPct <= 100, s"bad dampingPct $dampingPct")
    require(scale >= 100, s"scale too small: $scale")
    val raw = edges.select(
        F.col(srcCol).cast("long").as("src"), F.col(dstCol).cast("long").as("dst"))
      .filter(F.col("src").isNotNull && F.col("dst").isNotNull &&
        F.col("src") =!= F.col("dst"))
    Checkpoint.scoped((if (undirected)
        raw.union(raw.select(F.col("dst").as("src"), F.col("src").as("dst")))
      else raw).distinct()) { e =>
      Checkpoint.scoped(e.select(F.col("src").as("id"))
          .union(e.select(F.col("dst").as("id"))).distinct()) { verts =>
        val n = verts.count()
        require(n > 0, "pageRank: empty graph")
        val base = (scale * (100L - dampingPct) / 100L) / n
        val deg = e.groupBy(F.col("src").as("id"))
          .agg(F.count(F.lit(1)).as("outdeg"))
        var ranks = verts.select(F.col("id"), F.lit(scale / n).as("rank"))
        for (round <- 0 until iters) {
          // per-vertex share once (not per edge), then one exchange on dst
          val share = ranks.join(deg, Seq("id"))
            .select(F.col("id").as("u"),
              F.expr("rank div outdeg").as("contrib"))
          val in = e.join(share, F.col("src") === F.col("u"))
            .groupBy(F.col("dst").as("id"))
            .agg(F.sum("contrib").as("s"))
          val next = verts.join(in, Seq("id"), "left")
            .select(F.col("id"),
              (F.lit(base) +
                F.expr(s"($dampingPct * coalesce(s, 0L)) div 100")).as("rank"))
            .transform(Checkpoint.pin(_, eager = true))
          if (round > 0) Checkpoint.release(ranks) // round 0 reads `verts`
          ranks = next
        }
        ranks.withColumn("rank_frac",
          F.col("rank").cast("double") / F.lit(scale.toDouble))
      }
    }
  }
}
