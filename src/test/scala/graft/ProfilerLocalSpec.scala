package graft

import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.datasketches.kll.KllSketch
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}

import graft.api.{MetricPlugin, Profiler}
import graft.core.{LocalAggregate, LogicalKind, MetricConfig}
import graft.profile.{DatasetProfileView, ProfileSerde}
import graft.streaming.ProfileStream

/** Both branches of the driver-side profile finish: every case runs with
  * the default [[Profiler.LocalCellBound]] (driver) and with the gate's
  * bound set to 0 (distributed). On one partition with at most `kllK`
  * rows per group the two give byte-identical profiles and store rows;
  * above that, or across partitions, every exact metric agrees and KLL
  * quantiles agree within the sketch's rank error. */
class ProfilerLocalSpec extends SparkSpec {

  private val Local = Profiler.LocalCellBound.default
  private val Distributed = 0L

  /** `body` with the profile gate's bound set to `bound`. */
  private def at[T](bound: Long)(body: => T): T = Profiler.LocalCellBound.withBound(bound)(body)

  private val schema = StructType(Seq(
    StructField("seg", StringType), StructField("d", DoubleType),
    StructField("l", LongType), StructField("s", StringType),
    StructField("b", BooleanType), StructField("t", TimestampType),
    StructField("dt", DateType), StructField("none", DoubleType)))

  /** `n` rows covering NULL, NaN and ±Inf doubles, strings that parse as
    * numbers and booleans, a NULL segment, and an all-NULL column. */
  private def rows(n: Int, from: Int = 0): Seq[Row] = (from until from + n).map { i =>
    val d: Any =
      if (i % 17 == 0) null else if (i % 19 == 0) Double.NaN
      else if (i % 23 == 0) Double.PositiveInfinity else if (i % 29 == 0) Double.NegativeInfinity
      else (i * 7919 % 1000) / 10.0 - 3
    Row(Seq("x", "y", null)(i % 3), d, if (i % 13 == 0) null else (i * 31L % 97) - 40,
      if (i % 11 == 0) null else Seq("a", "b", "12", "3.5", "true", "ü€", "-7")(i % 7),
      if (i % 5 == 0) null else i % 3 == 0,
      new Timestamp(1700000000000L + i * 60000L), new Date(1700000000000L - i * 86400000L),
      null)
  }

  /** `rs` in one parquet file: a one-partition input read from files. */
  private def onePartition(rs: Seq[Row]): DataFrame = {
    val dir = targetTempDir("profile-local-")
    spark.createDataFrame(rs.asJava, schema).coalesce(1).write.mode("overwrite").parquet(dir)
    spark.read.schema(schema).parquet(dir)
  }

  private def bytes(v: DatasetProfileView): Seq[Byte] = ProfileSerde.toBytes(v).toSeq

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, before)
  }

  private val profilers = Seq(
    "default" -> new Profiler(),
    "stringIngestTypes" -> new Profiler(MetricConfig(stringIngestTypes = true)),
    "trackUnicodeRanges" -> new Profiler(MetricConfig(trackUnicodeRanges = true)),
    "columnBatchSize = 1" -> new Profiler(MetricConfig(columnBatchSize = 1)))

  for (ansi <- Seq(false, true); (name, p) <- profilers)
    test(s"profile and profileSegmented are byte-identical on both branches: $name, ansi=$ansi") {
      withAnsi(ansi) {
        val df = onePartition(rows(600))
        val (local, localJobs) = withJobCount(at(Local)(p.profile(df)))
        val (dist, distJobs) = withJobCount(at(Distributed)(p.profile(df)))
        assert(localJobs === 1)
        assert(distJobs > localJobs)
        assert(bytes(local) === bytes(dist))
        assert(local.columns("none").counts.get.nulls === 600L)
        assert(local.columns("d").counts.get.nan ===
          (0 until 600).count(i => i % 17 != 0 && i % 19 == 0))

        val filter = Some(F.col("l") =!= 0)
        val (segLocal, segJobs) =
          withJobCount(at(Local)(p.profileSegmented(df, Seq("seg"), filter)))
        val segDist = at(Distributed)(p.profileSegmented(df, Seq("seg"), filter))
        assert(segJobs === 1)
        assert(segLocal.keySet === Set(Seq("x"), Seq("y"), Seq("null")))
        assert(segLocal.keySet === segDist.keySet)
        segLocal.keys.foreach(k => assert(bytes(segLocal(k)) === bytes(segDist(k)), k))
      }
    }

  test("empty input and a metric plugin give the same profile on both branches") {
    val p = new Profiler(plugins = Seq(new MetricPlugin {
      val namespace = "sum"
      def appliesTo(column: String, kind: LogicalKind) = kind == LogicalKind.Fractional
      def aggColumn(c: Column) = F.struct(F.sum(c).as("sum"))
    }))
    val empty = onePartition(Nil)
    assert(bytes(at(Local)(p.profile(empty))) === bytes(at(Distributed)(p.profile(empty))))
    assert(at(Local)(p.profile(empty)).columns("d").counts.get.n === 0L)
    assert(at(Local)(p.profileSegmented(empty, Seq("seg"))).isEmpty)

    val df = onePartition(rows(300))
    assert(bytes(at(Local)(p.profile(df))) === bytes(at(Distributed)(p.profile(df))))
    val local = LocalAggregate.collect(p.profileDF(LocalAggregate.local(df, Local).get))
    assert(local.get.toSeq === p.profileDF(df).collect().toSeq)
  }

  test("a plan the evaluator does not recognise runs distributed") {
    val p = new Profiler(plugins = Seq(new MetricPlugin {
      val namespace = "distinct"
      def appliesTo(column: String, kind: LogicalKind) = kind == LogicalKind.Integral
      def aggColumn(c: Column) = F.struct(F.countDistinct(c).as("n"))
    }))
    val df = onePartition(rows(200))
    val small = LocalAggregate.local(df, Local).get
    assert(LocalAggregate.collect(p.profileDF(small)).isEmpty)
    val (view, jobs) = withJobCount(at(Local)(p.profile(df)))
    assert(jobs > 1)
    assert(bytes(view) === bytes(at(Distributed)(p.profile(df))))
  }

  test("above the bound, or past the file-size estimate, the distributed aggregate runs") {
    val p = new Profiler()
    val df = onePartition(rows(400))
    // 400 rows × 8 columns = 3,200 cells: counted, over a 1,000-cell bound
    val (over, jobs) = withJobCount(at(1000L)(p.profile(df)))
    assert(jobs > 1)
    assert(bytes(over) === bytes(at(Distributed)(p.profile(df))))
    val (_, segJobs) = withJobCount(at(1000L)(p.profileSegmented(df, Seq("seg"))))
    assert(segJobs > 1)
    // a file scan larger than 8 bytes a cell of the bound is never counted
    val big = table("lineitem")
    val (skipped, countJobs) = withJobCount(LocalAggregate.local(big, 8L))
    assert(skipped.isEmpty && countJobs === 0)
    assert(LocalAggregate.local(df, 0L).isEmpty)
  }

  test("above kllK rows per group and across partitions, exact metrics agree and " +
      "quantiles stay in the rank error") {
    val p = new Profiler()
    val one = onePartition(rows(2500))
    val many = spark.createDataFrame(rows(2500).asJava, schema).repartition(4)
    val eps = KllSketch.getNormalizedRankError(p.config.kllK, false)
    for (df <- Seq(one, many)) {
      val local = at(Local)(p.profile(df))
      val dist = at(Distributed)(p.profile(df))
      assert(local.columns.keySet === dist.columns.keySet)
      local.columns.keys.foreach { c =>
        val (a, b) = (local.columns(c), dist.columns(c))
        assert(a.counts === b.counts, c)
        assert(a.types === b.types, c)
        assert(a.ints === b.ints, c)
        if (df eq one) assert(a.cardinality.map(_.estimate) === b.cardinality.map(_.estimate), c)
        else (a.cardinality, b.cardinality) match {
          // across partitions the distributed union estimates from merged
          // registers: both stay within 3 RSE (lgK = 12) of the exact count
          case (Some(x), Some(y)) =>
            val exact = df.select(F.countDistinct(F.col(c))).head().getLong(0).toDouble
            for (e <- Seq(x.estimate, y.estimate))
              assert(math.abs(e - exact) <= 3 * 1.04 / 64 * exact, s"$c $e vs $exact")
          case (x, y) => assert(x === y, c)
        }
        (a.distribution, b.distribution) match {
          case (Some(x), Some(y)) =>
            assert((x.n, x.min, x.max) === ((y.n, y.min, y.max)), c)
            assert(math.abs(x.mean - y.mean) <= 1e-12 * math.max(1.0, math.abs(y.mean)), c)
            assert(math.abs(x.m2 - y.m2) <= 1e-9 * math.max(1.0, y.m2), c)
            val asDouble = df.schema(c).dataType match {
              case DateType => F.unix_date(F.col(c)).cast(DoubleType)
              case _ => F.col(c).cast(LongType).cast(DoubleType)
            }
            val sorted = df.select(if (df.schema(c).dataType == DoubleType) F.col(c) else asDouble)
              .collect().flatMap(r =>
              Option(r.get(0)).map(_.asInstanceOf[Double]))
              .filter(v => !v.isNaN && !v.isInfinite).sorted
            for (dv <- Seq(x, y); (q, v) <- dv.quantileRanks.zip(dv.quantiles)) {
              val below = sorted.count(_ < v).toDouble / sorted.length
              val atOrBelow = sorted.count(_ <= v).toDouble / sorted.length
              assert(q >= below - eps && q <= atOrBelow + eps, s"$c q=$q v=$v")
            }
          case (x, y) => assert(x === y, c)
        }
      }
    }
  }

  test("toStore writes byte-identical store rows on both branches") {
    val src = targetTempDir("profile-local-src-")
    spark.createDataFrame(rows(500).asJava, schema).coalesce(1).write.parquet(src + "/b0")
    spark.createDataFrame(rows(400, from = 500).asJava, schema).coalesce(1)
      .write.parquet(src + "/b1")
    val stores = Seq(Local, Distributed).map { bound =>
      val store = targetTempDir("profile-local-store-")
      val sdf = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
      val shuffled = shuffleBytes {
        val q = at(bound)(ProfileStream.toStore(sdf, "t", "1 hour", "1 hour", store, "ds",
          segmentColumns = Seq("seg")))
        q.awaitTermination()
      }
      assert((shuffled.values.sum == 0) === (bound == Local))
      spark.read.parquet(store).select("dataset_ts", "segment", "profile").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2).toSeq))
        .sortBy(r => (r._1, r._2, r._3.mkString(",")))
        .toSeq
    }
    assert(stores.head.nonEmpty)
    assert(stores.head.map(_._2).toSet.size === 3)
    assert(stores.head === stores.last)
  }

  test("a NULL segment and the string \"null\" are rejected, not merged") {
    val df = spark.createDataFrame(Seq(Row("a", 1L), Row("null", 2L), Row(null, 3L),
      Row(null, 4L)).asJava,
      StructType(Seq(StructField("seg", StringType), StructField("v", LongType))))
    for (bound <- Seq(Local, Distributed)) {
      val e = intercept[IllegalArgumentException](
        at(bound)(new Profiler().profileSegmented(df, Seq("seg"))))
      assert(e.getMessage.contains("segment column seg") && e.getMessage.contains("\"null\""))
      val ok = at(bound)(new Profiler().profileSegmented(
        df.filter(F.col("seg") =!= "null" || F.col("seg").isNull), Seq("seg")))
      assert(ok.map { case (k, v) => k -> v.columns("v").counts.get.n } ===
        Map(Seq("a") -> 1L, Seq("null") -> 2L))
    }
  }

  test("neither branch leaves a checkpoint or cached block pinned") {
    val df = onePartition(rows(300))
    val p = new Profiler()
    for (bound <- Seq(Local, Distributed)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      at(bound) {
        p.profile(df)
        p.profileSegmented(df, Seq("seg"))
      }
      assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty)
    }
  }
}
