package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types._

import graft.{SparkEntry, SparkSpec}
import graft.analysis.DriftExact
import graft.api.Profiler
import graft.pipeline.{ConnectedComponents, Dedup}
import graft.streaming.ProfileStream

/** [[Gate.withBound]] scopes, and both sides of every counted driver
  * finish reached through the registry with one scope: every gate at 0
  * (every distributed side) and at `Long.MaxValue` (every driver side),
  * nested gates included. */
class GateSpec extends SparkSpec {

  private val gates = Seq(ConnectedComponents.LocalEdgeBound, DriftExact.LocalPairBound,
    Dedup.LocalShingleBound, Dedup.LocalCandidateBound, Profiler.LocalCellBound)

  /** Each gate's name and the bound in force. */
  private def bounds: Map[String, Long] = gates.map(g => g.name -> g.bound).toMap

  private def all(bound: Long): Map[String, Long] = gates.map(_.name -> bound).toMap

  test("scopes nest, innermost first, and restore the bounds on a throw") {
    val defaults = gates.map(g => g.name -> g.default).toMap
    assert(defaults.size === gates.size)
    assert(bounds === defaults)
    val pairs = DriftExact.LocalPairBound
    Gate.withBound(0L) {
      assert(bounds === all(0L))
      pairs.withBound(7L) {
        assert(bounds === all(0L).updated(pairs.name, 7L))
        Gate.withBound(Long.MaxValue)(assert(bounds === all(Long.MaxValue)))
        assert(bounds === all(0L).updated(pairs.name, 7L))
      }
      val e = intercept[IllegalStateException](pairs.withBound(9L) {
        Gate.withBound(Long.MaxValue)(throw new IllegalStateException("body failed"))
      })
      assert(e.getMessage === "body failed")
      assert(bounds === all(0L))
    }
    assert(bounds === defaults)
    assert(pairs.admits(pairs.default) && !pairs.admits(pairs.default + 1))
  }

  test("a toStore stream reads its bound at start: forced to 0 it shuffles in every batch") {
    val schema = StructType(Seq(StructField("t", TimestampType), StructField("seg", StringType),
      StructField("v", DoubleType)))
    val src = targetTempDir("gate-src-")
    for (b <- 0 until 2)
      spark.createDataFrame((0 until 200).map(i => Row(
          new java.sql.Timestamp(1700000000000L + (b * 200 + i) * 60000L),
          Seq("x", "y")(i % 2), i / 7.0)).asJava, schema)
        .coalesce(1).write.parquet(s"$src/b$b")
    def run(forceTo: Option[Long]): Map[Long, Long] = {
      val sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
      val store = targetTempDir("gate-store-")
      def start() = ProfileStream.toStore(sdf, "t", "1 hour", "1 hour", store, "ds",
        segmentColumns = Seq("seg"))
      val q = forceTo.fold(start())(b => Gate.withBound(b)(start()))
      // the batches run after the scope has exited; -1 holds the jobs
      // outside a batch (the stream's start, the listener flush)
      shuffleBytes(q.awaitTermination()) - -1L
    }
    val forced = run(Some(0L))
    assert(forced.keySet === Set(0L, 1L), forced)
    assert(forced.values.forall(_ > 0L), forced)
    val default = run(None)
    assert(default.keySet === Set(0L, 1L), default)
    assert(default.values.forall(_ == 0L), default)
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  for (name <- Seq("profile_summary_exact", "why1_segmented_roundtrip", "drift_ks_segmented",
      "dedup_clusters", "cluster_safe_split"))
    test(s"$name: every gate at 0 and at Long.MaxValue give the same rows and schema") {
      val Seq(distributed, driver) = Seq(0L, Long.MaxValue).map { bound =>
        Gate.withBound(bound) {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val readsCheckpoint =
            df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r }.nonEmpty
          (df.schema, sortedRows(df), readsCheckpoint)
        }
      }
      assert(distributed._1 === driver._1)
      assert(distributed._2.nonEmpty)
      assert(distributed._2 === driver._2)
      // the clusters come from CC's star rounds on one side, union-find on the other
      if (name.contains("clust")) assert(distributed._3 && !driver._3)
    }
}
