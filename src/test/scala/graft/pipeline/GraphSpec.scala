package graft.pipeline

import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.core.Owner

/** Fixed-point PageRank semantics: hand-computed integer fixed-point
  * values (the whole point is bit-reproducibility, so the assertions
  * are exact equalities, not tolerances). */
class GraphSpec extends SparkSpec {

  private def ranksOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("triangle: symmetric graph reaches its uniform fixed point exactly") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val got = ranksOf(Graph.pageRank(edges, "a", "b", iters = 3))
    // init 1e12/3 = 333333333333; one step: contrib = r div 2 summed from
    // both neighbors, damped 85//100, base 50e9 -> 333333333332, then stable
    assert(got == Map(1L -> 333333333332L, 2L -> 333333333332L, 3L -> 333333333332L))
  }

  test("star: center outranks leaves; hand-computed 3-iteration values; mass conserved") {
    import spark.implicits._
    val edges = (1L to 4L).map(l => (0L, l)).toDF("a", "b")
    val got = ranksOf(Graph.pageRank(edges, "a", "b", iters = 3))
    assert(got(0L) == 644975000000L)
    (1L to 4L).foreach(l => assert(got(l) == 88756250000L))
    // undirected graph has no dangling mass: floor losses only
    val total = got.values.sum
    assert(total <= 1000000000000L && total > 999999999000L)
  }

  test("directed edge with a dangling sink drops the sink's mass") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("a", "b")
    val got = ranksOf(Graph.pageRank(edges, "a", "b", iters = 1, undirected = false))
    // base = (1e12*15//100)//2 = 75e9; node2 gets 85% of node1's full rank
    assert(got == Map(1L -> 75000000000L, 2L -> 500000000000L))
  }

  test("result is partitioning-invariant (integer arithmetic, no float folds)") {
    import spark.implicits._
    val edges = ((1L to 4L).map(l => (0L, l)) ++ Seq((1L, 2L), (3L, 4L))).toDF("a", "b")
    val one = ranksOf(Graph.pageRank(edges.coalesce(1), "a", "b", iters = 3))
    val many = ranksOf(Graph.pageRank(edges.repartition(7), "a", "b", iters = 3))
    assert(one == many)
  }

  test("rank_frac is the single-divide rendering of rank") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("a", "b")
    val rows = Graph.pageRank(edges, "a", "b", iters = 1).collect()
    rows.foreach { r =>
      assert(r.getDouble(2) == r.getLong(1).toDouble / 1000000000000L.toDouble)
    }
  }

  test("pageRank frees all but its last round, which runs after return; iters = 0 throws") {
    import spark.implicits._
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    def newlyPinned(before: Set[Int]) = sc.getPersistentRDDs.keySet.toSet -- before
    val before = sc.getPersistentRDDs.keySet.toSet
    Owner.scope {
      val ranks = Graph.pageRank(edges, "a", "b", iters = 3)
      // the edge list, the vertex set and the two superseded rounds are freed
      assert(newlyPinned(before).size === 1)
      val once = ranksOf(ranks)
      assert(ranksOf(ranks) === once)
      assert(once === Map(1L -> 333333333332L, 2L -> 333333333332L, 3L -> 333333333332L))
    }
    // the last round is released with the scope that read it
    assert(newlyPinned(before).isEmpty)
    // zero rounds would return a frame over the released vertex set
    intercept[IllegalArgumentException](Graph.pageRank(edges, "a", "b", iters = 0))
    assert(newlyPinned(before).isEmpty)
  }
}
