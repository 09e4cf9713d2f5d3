package graft.core

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.{functions => F}

class ParSpec extends SparkSpec {
  import spark.implicits._

  test("widen raises a below-core-count input to defaultParallelism") {
    val n = spark.sparkContext.defaultParallelism
    val one = Seq(1, 2, 3).toDF("x").coalesce(1)
    assert(one.rdd.getNumPartitions === 1)
    val w = Par.widen(one)
    assert(w.rdd.getNumPartitions === n)
    // round-robin repartition: same rows, any order
    assert(w.collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3))
  }

  test("widen is a no-op (no exchange) when partitioning is already wide") {
    val n = spark.sparkContext.defaultParallelism
    val wide = spark.range(100).toDF("x").repartition(n + 3)
    val w = Par.widen(wide)
    // same object — no extra repartition node planned
    assert(w eq wide)
    assert(w.rdd.getNumPartitions === n + 3)
  }

  test("widen does not change aggregation results over a one-file scan") {
    val li = table("lineitem").select("l_quantity", "l_orderkey")
    val a = li.agg(F.sum("l_quantity"), F.count(F.lit(1))).head
    val b = Par.widen(li).agg(F.sum("l_quantity"), F.count(F.lit(1))).head
    assert(a === b)
  }

  test("widen skips a LARGE input that is already reasonably split " +
    "(100 TB full-reshuffle edge)") {
    val n = spark.sparkContext.defaultParallelism
    // Range stats: 8 bytes/row with no data materialized — 600M rows
    // estimates ~4.8 GB, over Par.largeInputBytes. Split it to just
    // max(2, n/4) partitions: below the core count, but "enough" for a
    // payload this size — widen must NOT plan a full round-robin
    // reshuffle of it.
    val parts = math.max(2, n / 4)
    assume(parts < n, "needs defaultParallelism > 2")
    val big = spark.range(600000000L).toDF("x").repartition(parts)
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes
      >= BigInt(Par.largeInputBytes))
    // the probe is plan-only: executing this input would shuffle all
    // 600M rows
    val (w, jobs) = withJobCount(Par.widen(big))
    assert(jobs === 0)
    assert(w eq big)
    assert(w.queryExecution.optimizedPlan.collect {
      case r: Repartition => r.numPartitions } === Seq(parts))
  }

  test("widen still raises a SMALL under-split input even at >= 2 partitions") {
    val n = spark.sparkContext.defaultParallelism
    val parts = math.max(2, n / 4)
    assume(parts < n, "needs defaultParallelism > 2")
    val small = spark.range(100L).toDF("x").repartition(parts)
    val w = Par.widen(small)
    assert(w.rdd.getNumPartitions === n)
  }

  test("widenIfAtLeast gates on the optimizer size estimate") {
    val tiny = Seq(1, 2, 3).toDF("x").coalesce(1)
    // below the floor: unchanged (heavy partial state must not multiply)
    val kept = Par.widenIfAtLeast(tiny, minInputBytes = 1L << 30)
    assert(kept eq tiny)
    assert(kept.rdd.getNumPartitions === 1)
    // at/above the floor: widens like widen
    val widened = Par.widenIfAtLeast(tiny, minInputBytes = 1L)
    assert(widened.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
  }

  test("widen itself is stream-safe (no .rdd-on-streaming crash)") {
    val dir = targetTempDir("parstream2")
    spark.range(7).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val sdf = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val w = Par.widen(sdf) // must not throw at plan time
    assert(w.isStreaming)
    val qn = "parw_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = w.groupBy().count()
      .writeStream.format("memory").queryName(qn).outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table(qn).head.getLong(0) === 7L)
  }

  test("widen repartitions a streaming frame without touching .rdd") {
    val dir = targetTempDir("parstream")
    spark.range(10).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val sdf = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val w = Par.widen(sdf)
    assert(w.isStreaming)
    // streaming frames repartition unconditionally, to defaultParallelism
    val parts = w.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r.numPartitions
    }
    assert(parts === Seq(spark.sparkContext.defaultParallelism))
    val qn = "par_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = w.groupBy().count()
      .writeStream.format("memory").queryName(qn).outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table(qn).head.getLong(0) === 10L)
  }
}
