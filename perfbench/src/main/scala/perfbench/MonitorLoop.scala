package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}

import graft.analysis.{ComparisonConstraints, Constraints, Drift, DriftExact}
import graft.api.{ProfileStore, Profiler}
import graft.profile.{DatasetProfileView, Why1}
import graft.streaming.ProfileStream

/** A scheduled rolling logger: each cycle lands one day of events in its
  * own directory, profiles it into a growing [[ProfileStore]] with an
  * AvailableNow stream (hourly windows, one segment column), reads the
  * last three days back, merges the newest day, round-trips it through
  * WHY1 and runs drift and constraints against a reference profile. It
  * then reconciles the landed batch directly: a batch profile, a
  * segmented profile and exact KS drift against the reference rows. */
final class MonitorLoop(input: String, work: String) extends Workload(input, work) {
  private val profiler = new Profiler()
  private val store = s"$work/store"
  private val landing = s"$work/landing"
  private val batches = expected.get("batches").asInt
  private val dayMs = expected.get("day_ms").asLong
  private val day0 = expected.get("day0_ms").asLong
  private val numeric = expected.get("numeric_columns").elements.asScala.map(_.asText).toSeq
  private val monitored = numeric :+ "status"
  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("platform", StringType)) ++
    (0 until 6).map(i => StructField(s"x$i", DoubleType)) ++ Seq(
    StructField("latency_ms", LongType), StructField("status", StringType)))
  private var next = 0
  private var reference: DatasetProfileView = _
  private var referenceRows: DataFrame = _
  private val rangeHi = expected.get("range_hi")
  private val checks = Constraints(numeric.filter(_.startsWith("x")).map(c =>
    Constraints.isInRange(c, 0.0, rangeHi.get(c).asDouble)): _*)
  private val comparisons = ComparisonConstraints(ComparisonConstraints.schemaMatches)

  val warmupOps = 3
  def itemsPerOp: Long = expected.get("rows_per_batch").asLong
  override def exhausted: Boolean = next >= batches

  override def prepare(spark: SparkSession): Unit = {
    referenceRows = spark.read.parquet(s"$input/reference")
    reference = profiler.profile(referenceRows, Some(monitored))
  }

  def op(ctx: OpContext): AnyRef = {
    val spark = ctx.spark
    val b = next
    next += 1
    val dir = ctx.span("land") {
      val to = new File(f"$landing/b$b%03d")
      to.mkdirs()
      val from = new File(f"$input/batches/b$b%03d/part-00.parquet")
      Files.copy(from.toPath, new File(to, from.getName).toPath, StandardCopyOption.REPLACE_EXISTING)
      to.getPath
    }
    ctx.span("to_store") {
      val q = ctx.span("streaming.start") {
        ProfileStream.toStore(spark.readStream.schema(schema).parquet(dir), "ts", "1 hour",
          "1 hour", store, "events", profiler, Some(monitored), Seq("platform"))
      }
      ctx.progress.foreach(_.bind(q.runId, ctx.trace.current))
      ctx.span("streaming.query")(q.awaitTermination())
      q.exception.foreach(e => throw e)
    }
    val from = day0 + (b - 2) * dayMs
    val to = day0 + (b + 1) * dayMs - 1
    val read = ctx.span("store_read")(new ProfileStore(spark, store).read("events", from, to))
    val newest = read.filter(_._1 >= day0 + b * dayMs).map(_._2)
    val merged = ctx.span("merge")(newest.foldLeft(DatasetProfileView.empty)(_ merge _))
    val bytes = ctx.span("why1_encode")(Why1.toBytes(merged))
    val decoded = ctx.span("why1_decode")(Why1.fromBytes(bytes))
    val drift = ctx.span("drift_scores")(Drift.scores(decoded, reference))
    val report = ctx.span("constraints") {
      checks.report(decoded) ++ comparisons.report(decoded, reference)
    }
    ctx.gauges("profile.why1_bytes") = bytes.length.toDouble
    if (ctx.traced) {
      val files = Files.walk(new File(store).toPath).iterator.asScala
        .filter(p => p.toString.endsWith(".parquet")).toSeq
      ctx.gauges("api.store.files") = files.size.toDouble
      ctx.gauges("api.store.bytes_per_profile") =
        files.map(Files.size).sum.toDouble / math.max(1, read.size)
    }
    val windowCounts = read.groupBy(_._1).map { case (ts, vs) =>
      ts -> vs.map(_._2.columns("x0").counts.get.n).sum
    }
    // reconcile the landed batch itself: batch and segmented profiles,
    // exact KS against the reference rows
    val batch = spark.read.schema(schema).parquet(dir)
    val direct = ctx.profile(profiler, batch, monitored)
    val segments = ctx.span("segmented")(profiler.profileSegmented(batch, Seq("platform")))
    val ks = ctx.span("ks_stats") {
      DriftExact.ksStats(batch.select(numeric.map(F.col): _*).withColumn("__t", F.lit(true))
        .unionByName(referenceRows.select(numeric.map(F.col): _*).withColumn("__t", F.lit(false))),
        numeric, F.col("__t"))
    }
    (Int.box(b), windowCounts, drift, report, (direct, segments, ks))
  }

  def check(spark: SparkSession, outputs: Seq[(Int, AnyRef)]) = {
    val windows = expected.get("window_counts")
    val shiftAt = expected.get("shift_at").asInt
    val shifted = expected.get("shifted_columns").elements.asScala.map(_.asText).toSet
    val failures = outputs.map { case (i, out) =>
      val (bBox, counts, drift, report, (direct, segments, ks)) = out.asInstanceOf[(Integer,
        Map[Long, Long], Seq[Drift.DriftScore], Seq[graft.analysis.ConstraintReport],
        (DatasetProfileView, Map[Seq[String], DatasetProfileView], Map[String, (Double, Long, Long)]))]
      val b: Int = bBox
      val bad = Seq.newBuilder[String]
      val stats = expected.get("batch_stats").get(b)
      // the batch profile and the segmented one agree with the generator
      numeric.foreach { c =>
        val d = direct.columns(c)
        val n = d.counts.map(_.n)
        if (!n.contains(itemsPerOp)) bad += s"batch $b: profile $c n=$n"
        val (lo, hi) =
          if (c.startsWith("x")) (d.distribution.flatMap(_.min), d.distribution.flatMap(_.max))
          else (d.ints.flatMap(_.min).map(_.toDouble), d.ints.flatMap(_.max).map(_.toDouble))
        if (!lo.contains(stats.get("min").get(c).asDouble) || !hi.contains(stats.get("max").get(c).asDouble))
          bad += s"batch $b: profile $c min/max $lo/$hi"
        val want = stats.get("ks").get(c).asDouble
        if (!ks.get(c).exists(k => math.abs(k._1 - want) <= 1e-12)) bad += s"batch $b: exact KS $c ${ks.get(c)} != $want"
      }
      val segWant = stats.get("segments").fields.asScala.map(e => Seq(e.getKey) -> e.getValue.asLong).toMap
      val segGot = segments.map { case (k, v) => k -> v.columns("x0").counts.get.n }
      if (segGot != segWant) bad += s"batch $b: segment rows $segGot != $segWant"
      // every window of the last three landed days holds exactly its rows
      val want = (math.max(0, b - 2) to b).flatMap { d =>
        windows.get(d).fields.asScala.map(e => e.getKey.toLong -> e.getValue.asLong)
      }.toMap
      if (counts != want) bad += s"batch $b: stored window counts differ from landed rows " +
        s"(${counts.values.sum} vs ${want.values.sum} rows, ${counts.size} vs ${want.size} windows)"
      // drift on the shifted columns, and only after the planted shift
      // (Hellinger category: its noise floor is far below the threshold)
      numeric.foreach { c =>
        val flagged = drift.exists(s => s.column == c && s.algorithm == "hellinger" &&
          s.category == Drift.DriftDetected)
        val want = b >= shiftAt && shifted(c)
        if (flagged != want) bad += s"batch $b: drift on $c flagged=$flagged, expected $want"
      }
      report.foreach { r =>
        val want = !(b >= shiftAt && r.column.exists(shifted))
        if (r.passed != want) bad += s"batch $b: constraint ${r.name} passed=${r.passed}"
      }
      i -> bad.result()
    }.toMap
    // the drift and constraint checks above must have seen both sides of
    // the planted shift, or a detector that never flags would pass
    val checked = outputs.map(_._2.asInstanceOf[Product].productElement(0).asInstanceOf[Integer].intValue)
    val unshifted = if (checked.exists(_ < shiftAt) && checked.exists(_ >= shiftAt)) Nil
      else Seq(s"checked batches ${checked.mkString(",")} do not straddle the shift at batch $shiftAt")
    (outputs.lastOption.fold(failures) { case (i, _) => failures.updated(i, failures(i) ++ unshifted) },
      Map.empty[String, Double])
  }
}
