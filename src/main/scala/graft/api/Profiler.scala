package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}

import graft.core.{Gate, LocalAggregate, LogicalKind, MetricConfig, Namespace, ResolverSpec}
import graft.functions._
import graft.profile._

/** Builds one wide declarative aggregation from a DataFrame schema. On a
  * large input a profiling run is a single `df.agg(...)`: Catalyst plans
  * map-side partial aggregation per partition, one exchange of KB-sized
  * sketch buffers, and a final merge (the map-reduce the reference
  * hand-codes in `api/pyspark/experimental/profiler.py:29-77`). Scales
  * with #columns, not #rows. Batch, segmented and windowed profiles are
  * one keyed aggregate ([[keyedAggregate]]) with no key, the segment keys,
  * or the window and the segment keys. The collecting calls ([[profile]],
  * [[profileSegmented]]) first count up to [[Profiler.LocalCellBound]]
  * cells, and an input that fits runs the same aggregate on the driver
  * ([[graft.core.LocalAggregate.finish]]), the reference's single-process
  * `DatasetProfile.track`; a larger one runs distributed. The lazy `*DF`
  * calls always stay distributed; only [[profile]] splits the columns
  * into `columnBatchSize` passes.
  */
class Profiler(
    val config: MetricConfig = MetricConfig(),
    val resolver: ResolverSpec = ResolverSpec.default,
    val plugins: Seq[MetricPlugin] = Nil) {

  /** This profiler plus every registry-registered plugin. */
  def withRegisteredPlugins: Profiler =
    new Profiler(config, resolver, plugins ++ MetricRegistry.all)

  import LogicalKind._

  /** The aggregate Column (a struct of metric structs) for one input column. */
  def aggColumnFor(field: StructField): Option[Column] = {
    val kind = LogicalKind.of(field.dataType)
    val metrics = resolver.metricsFor(field.name, kind)
      .filterNot(m => config.fiDisabled && m == Namespace.FrequentItems) ++
      (if (config.trackUnicodeRanges && kind == Str) Seq(Namespace.UnicodeRange) else Nil)
    if (metrics.isEmpty) return None
    val c = F.col(field.name)
    val isFloating = field.dataType == DoubleType || field.dataType == FloatType
    // ordinal time as a long: seconds for timestamps, days for dates (a
    // DATE → BIGINT cast is null without ANSI mode and rejected with it)
    def asLong =
      if (field.dataType == DateType) F.unix_date(c).cast(LongType) else c.cast(LongType)

    val parts: Seq[Column] = metrics.flatMap {
      case Namespace.Counts =>
        Some(F.struct(
          F.count(F.lit(1)).as("n"),
          count_where(c.isNull).as("nulls"),
          (if (isFloating) count_where(F.isnan(c)) else F.lit(0L)).as("nan"),
          (if (isFloating) count_where(c === Double.PositiveInfinity || c === Double.NegativeInfinity)
           else F.lit(0L)).as("inf"),
          (if (field.dataType == BooleanType) count_where(c === true) else F.lit(0L)).as("trueCount")
        ).as(Namespace.Counts))

      case Namespace.Types if kind == Str && config.stringIngestTypes =>
        // Per-value cascade for string-ingested data, reference precedence
        // bool → int → float → string (`core/preprocessing.py:167-175`).
        // Regex-classified so the semantics are engine-portable (ANSI
        // try_cast differs between engines on edge literals).
        val isBool = F.lower(c).isin("true", "false")
        val isInt = !isBool && c.rlike("^[+-]?[0-9]+$")
        val isFrac = !isBool && !isInt &&
          c.rlike("^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$")
        val isStr = c.isNotNull && !isBool && !isInt && !isFrac
        Some(F.struct(
          count_where(isInt).as("integral"), count_where(isFrac).as("fractional"),
          count_where(isBool).as("boolean"), count_where(isStr).as("string"),
          F.lit(0L).as("obj"), F.lit(0L).as("tensor")).as(Namespace.Types))

      case Namespace.Types =>
        // Static schema ⇒ every non-null value lands in one bucket
        // (SURVEY §1.2: resolution is exact under Spark's type system).
        val nonNull = F.count(c)
        def zero = F.lit(0L)
        val (i, fr, bo, st, ob, te) = kind match {
          case Integral   => (nonNull, zero, zero, zero, zero, zero)
          case Bool       => (zero, zero, nonNull, zero, zero, zero)
          case Fractional =>
            (zero, if (isFloating) nonNull - count_where(F.isnan(c)) else nonNull,
             zero, zero, zero, zero)
          case Str        => (zero, zero, zero, nonNull, zero, zero)
          case Tensor     => (zero, zero, zero, zero, zero, nonNull)
          case AnyKind    => (zero, zero, zero, zero, nonNull, zero)
        }
        Some(F.struct(i.as("integral"), fr.as("fractional"), bo.as("boolean"),
          st.as("string"), ob.as("obj"), te.as("tensor")).as(Namespace.Types))

      case Namespace.Ints if kind == Integral || kind == Bool =>
        Some(F.struct(F.min(asLong).as("min"), F.max(asLong).as("max")).as(Namespace.Ints))
      case Namespace.Ints => None

      case Namespace.Distribution if kind != Str && kind != AnyKind && kind != Tensor =>
        val child = field.dataType match {
          case TimestampType | DateType => asLong
          case BooleanType              => c.cast(IntegerType)
          case _                        => c
        }
        Some(distribution_agg(child, config.kllK, config.quantiles).as(Namespace.Distribution))
      case Namespace.Distribution => None

      case Namespace.Cardinality =>
        val child = field.dataType match {
          case TimestampType | DateType => asLong
          case _                        => c
        }
        Some(cardinality_agg(child, config.hllLgK, config.numStdDev).as(Namespace.Cardinality))

      case Namespace.FrequentItems =>
        val child = field.dataType match {
          case StringType  => c
          // reference stringifies booleans as "True"/"False"
          // (`metrics.py:472-485`); Spark's cast would give lowercase
          case BooleanType => F.when(c, "True").when(!c, "False")
          case _           => c.cast(StringType)
        }
        Some(frequent_items_agg(child, config.fiLgMaxK, config.fiLimit).as(Namespace.FrequentItems))

      case Namespace.UnicodeRange if kind == Str =>
        // MultiMetric (reference unicode_range.py:22-131): per named range
        // a full submetric bundle over the per-string character counts,
        // plus string_length. The per-row count vector is one expression;
        // agg-input subexpression elimination keeps it evaluated once per
        // row even though every submetric references it.
        val arr = unicode_range_counts(c, config.unicodeRanges.map(_._2))
        val slotNames = config.unicodeRanges.map(_._1) :+ "UNKNOWN"
        val slots = slotNames.zipWithIndex.map { case (nm, i) =>
          nm -> arr.getItem(i)
        } :+ ("string_length" -> F.length(c))
        val subs = slots.map { case (nm, cnt) =>
          F.struct(
            F.struct(F.count(cnt).as("n"), count_where(c.isNull).as("nulls"),
              F.lit(0L).as("nan"), F.lit(0L).as("inf"), F.lit(0L).as("trueCount"))
              .as(Namespace.Counts),
            F.struct(F.min(cnt.cast(LongType)).as("min"),
              F.max(cnt.cast(LongType)).as("max")).as(Namespace.Ints),
            distribution_agg(cnt, config.kllK, config.quantiles).as(Namespace.Distribution),
            cardinality_agg(cnt, config.hllLgK, config.numStdDev).as(Namespace.Cardinality)
          ).as(nm)
        }
        Some(F.struct(subs: _*).as(Namespace.UnicodeRange))

      case _ => None
    }
    val pluginParts = plugins.filter(_.appliesTo(field.name, kind))
      .map(p => p.aggColumn(c).as(p.namespace))
    val allParts = parts ++ pluginParts
    if (allParts.isEmpty) None else Some(F.struct(allParts: _*).as(field.name))
  }

  def aggColumns(schema: StructType, columns: Option[Seq[String]] = None): Seq[Column] = {
    val fields = columns match {
      case Some(cs) => cs.map(n => schema(n))
      case None     => schema.fields.toSeq
    }
    fields.flatMap(aggColumnFor)
  }

  /** Distributed profile: a one-row DataFrame of nested metric structs.
    * Stays lazy — compose, write, or collect via [[profile]]. */
  def profileDF(df: DataFrame, columns: Option[Seq[String]] = None): DataFrame = {
    val fields = Profiler.profiledColumns(df.schema, columns, Nil)
    keyedAggregate(widenIfHeavy(df.select(fields.map(F.col): _*), fields), fields)
  }

  /** Collected profile view. Wide tables are profiled in column batches to
    * bound the aggregation-buffer row size; batches are disjoint column
    * sets so the union of views is exact. An input of at most
    * [[Profiler.LocalCellBound]] cells is collected once and every batch
    * is aggregated on the driver ([[graft.core.LocalAggregate.finish]]); a
    * larger one runs [[profileDF]] per batch. */
  def profile(df: DataFrame, columns: Option[Seq[String]] = None): DatasetProfileView = {
    val names = Profiler.profiledColumns(df.schema, columns, Nil)
      .filter(n => aggColumnFor(df.schema(n)).nonEmpty)
    val batches = names.grouped(math.max(1, config.columnBatchSize)).toSeq
    val input = df.select(names.map(F.col): _*)
    val rows = LocalAggregate.finish(input, Profiler.LocalCellBound.bound)(
        l => batches.map(keyedAggregate(l, _)))
      .getOrElse(batches.flatMap(batch => profileDF(df, Some(batch)).collect()))
    rows.map(Profiler.parseRow(_, 0, config.quantiles))
      .foldLeft(DatasetProfileView.empty)((acc, v) => DatasetProfileView(acc.columns ++ v.columns))
  }

  /** The one profile aggregate behind the batch, segmented and windowed
    * profiles: the metric structs of `profiled` over `in`, one row per key.
    * The keys are `leading` (the window of a rolling profile), then each
    * segment column's string form as `segment_<name>`; with no key it is
    * the single-row global aggregate (`Dataset.agg` is `groupBy().agg`). */
  private[graft] def keyedAggregate(
      in: DataFrame, profiled: Seq[String], segmentColumns: Seq[String] = Nil,
      leading: Seq[Column] = Nil): DataFrame = {
    val aggs = aggColumns(in.schema, Some(profiled))
    require(aggs.nonEmpty, "no profilable columns")
    val keys = leading ++ segmentColumns.map(n => F.col(n).cast(StringType).as(s"segment_$n"))
    in.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** `in` widened to every core when the resolver plans an HLL,
    * frequent-items or unicode-range update for one of `profiled` and `in`
    * is at least `HeavyWidenMinBytes`. Callers: [[profileDF]] and the
    * distributed branch of [[profileSegmented]]; never the lazy segmented
    * or windowed frames. */
  private def widenIfHeavy(in: DataFrame, profiled: Seq[String]): DataFrame = {
    // Widen only when the PER-ROW update work is heavy AND the input
    // is not tiny (r21; r20's ungated widen NET-REGRESSED the family,
    // 27.2→29.4 s in the driver's ground truth). Two measured regimes
    // (back-to-back sf0.1 A/B, bench_prof_gate64 vs gate0):
    //  - full-metric profiles over a one-split multi-MB table: the
    //    HLL/FI/type-cascade updates dominate per row, and widening to
    //    all cores wins big (full_profile_summary 2.22→1.40,
    //    profile_summary_exact 2.20→1.45, constraints_report
    //    2.28→1.49; the five full-width segmented roundtrips each
    //    ~2 s → ~1.2-1.4 s);
    //  - light resolvers (histogram-only KLL) or KB-scale inputs: the
    //    widened partial stage multiplies per-column sketch buffers by
    //    the partition count and the merges cost more than the lost
    //    map parallelism (kll_quantiles 0.67→1.07 widened; tiny
    //    profile_counts/ints/types each ~2× slower) — the same
    //    per-(partition×group) state multiplication the ANN top-k
    //    paths measured and reverted (Similarity.scala).
    // The 4 MB floor keeps small fixtures and daily chunks narrow. Real
    // multi-split tables take Par's no-exchange branch regardless.
    // The LAZY segmented path is NOT widened (r21 revert of r20):
    // consumers of the returned frame typically select a few exact struct
    // fields, and Catalyst prunes the unused sketch aggregates down to
    // counts/min/max — KB of real work where the widened partial state
    // (per-column sketch buffers × SEGMENTS × partitions) multiplied 32×
    // and the driver measured segmented_profile 0.27→0.92 s (3.4× slower).
    // A COLLECTED profile materializes every metric for every key, so
    // nothing prunes and the gate above applies.
    // Order-safety: every oracle-exact profile field is an integer
    // count, a min/max, or an HLL register max — set functions; float
    // moment and sketch-quantile fields surface only through rows-only
    // queries and specs with tolerances.
    val heavyPerRow = profiled.exists { n =>
      resolver.metricsFor(n, LogicalKind.of(in.schema(n).dataType)).exists(m =>
        m == Namespace.Cardinality || m == Namespace.FrequentItems ||
          m == Namespace.UnicodeRange)
    }
    if (heavyPerRow) graft.core.Par.widenIfAtLeast(in, Profiler.HeavyWidenMinBytes) else in
  }

  /** Segmented profiling = one hash-partitioned groupBy on the stringified
    * segment key (reference `api/logger/segment_processing.py:24-212`);
    * one shuffle total, sketch buffers merged by Catalyst per segment.
    * Never widened ([[widenIfHeavy]] says why). */
  def profileSegmentedDF(
      df: DataFrame,
      segmentColumns: Seq[String],
      filter: Option[Column] = None,
      columns: Option[Seq[String]] = None): DataFrame = {
    val profiled = Profiler.profiledColumns(df.schema, columns, segmentColumns)
    keyedAggregate(segmentInput(df, segmentColumns, filter, profiled), profiled, segmentColumns)
  }

  /** The filtered rows of the segment and profiled columns. */
  private def segmentInput(
      df: DataFrame, segmentColumns: Seq[String], filter: Option[Column],
      profiled: Seq[String]): DataFrame =
    filter.map(df.filter).getOrElse(df)
      .select((segmentColumns ++ profiled).distinct.map(F.col): _*)

  /** Collect segmented profiles: segment key values → profile view. A
    * key holds each segment value's string form, so a NULL segment value
    * has the key "null"; a segment column holding both NULL and the string
    * "null" is rejected rather than merged. An input of at most
    * [[Profiler.LocalCellBound]] cells is aggregated on the driver; a
    * larger one runs [[profileSegmentedDF]]'s aggregate, widened as
    * [[profileDF]] is. */
  def profileSegmented(
      df: DataFrame,
      segmentColumns: Seq[String],
      filter: Option[Column] = None): Map[Seq[String], DatasetProfileView] = {
    val profiled = Profiler.profiledColumns(df.schema, None, segmentColumns)
    val input = segmentInput(df, segmentColumns, filter, profiled)
    val rows = LocalAggregate.finish(input, Profiler.LocalCellBound.bound)(
        l => Seq(keyedAggregate(l, profiled, segmentColumns)))
      .getOrElse(
        keyedAggregate(widenIfHeavy(input, profiled), profiled, segmentColumns).collect().toSeq)
    val keyed = scala.collection.mutable.LinkedHashMap.empty[Seq[String], Row]
    rows.foreach { row =>
      val key = segmentColumns.indices.map(i => String.valueOf(row.get(i)))
      keyed.get(key).foreach { other =>
        val i = segmentColumns.indices.indexWhere(i => other.isNullAt(i) != row.isNullAt(i))
        throw new IllegalArgumentException(s"segment column ${segmentColumns(i)} holds both " +
          "NULL and the string \"null\", which share the segment key \"null\"")
      }
      keyed(key) = row
    }
    keyed.map { case (key, row) =>
      key -> Profiler.parseRow(row, segmentColumns.length, config.quantiles)
    }.toMap
  }

  /** Long-format summary DataFrame: (column, metric, value, svalue). */
  def summaryDF(df: DataFrame): DataFrame = {
    val view = profile(df)
    val spark = df.sparkSession
    import spark.implicits._
    view.summaryRows.toDF("column", "metric", "value", "svalue")
  }
}

object Profiler {

  /** Cell ceiling (rows × collected columns) for the driver-side finish
    * of [[Profiler.profile]], [[Profiler.profileSegmented]] and the
    * streaming store sink. Measured on 4 vCPU (`local[4]`) with eight
    * monitor-shaped columns, steady state: the driver branch took 0.15 s
    * against the distributed 0.31 s at 8 k cells and 0.24 s against
    * 0.30 s at 32 k, then lost at 64 k (0.41 s against 0.32 s), where its
    * interpreted per-cell updates outgrow Spark's fixed per-job cost
    * (ROADMAP item 6 holds the table). */
  private[graft] val LocalCellBound = new Gate("Profiler.LocalCellBound", 1L << 15)

  /** Optimizer-size floor for widening a heavy-per-row profile input
    * ([[Profiler.profileDF]] and the segmented collect path): a smaller
    * input stays narrow, for the r21 reasons given in `widenIfHeavy`. */
  private val HeavyWidenMinBytes: Long = 4L << 20

  /** `columns`, or by default every column of `schema` but the profile's
    * `keyColumns` (segment columns, a rolling profile's timestamp). */
  private[graft] def profiledColumns(
      schema: StructType, columns: Option[Seq[String]], keyColumns: Seq[String]): Seq[String] =
    columns.getOrElse(schema.fieldNames.toSeq.filterNot(keyColumns.contains))

  /** Parse one aggregated row (possibly offset past segment-key columns)
    * into a profile view, using the row's schema for metric discovery.
    * `ranks` must be the quantile grid the aggregate was built with —
    * a mismatched grid silently mislabels quantile values. */
  def parseRow(row: Row, offset: Int = 0,
      ranks: Seq[Double] = graft.metrics.DistributionAgg.DefaultQuantiles): DatasetProfileView = {
    val schema = row.schema
    val cols = schema.fields.drop(offset).map { f =>
      val colRow = row.getAs[Row](f.name)
      f.name -> parseColumn(colRow, ranks)
    }.toMap
    DatasetProfileView(cols)
  }

  /** Parse a standard metric bundle struct (any subset of the known
    * namespaces) — also used for MultiMetric submetric bundles. */
  def parseBundle(r: Row, ranks: Seq[Double] = graft.metrics.DistributionAgg.DefaultQuantiles): ColumnProfileView =
    parseColumn(r, ranks)

  private def parseColumn(r: Row, ranks: Seq[Double]): ColumnProfileView = {
    val schema = r.schema
    def has(n: String) = schema.fieldNames.contains(n)
    var view = ColumnProfileView()
    if (has(Namespace.Counts)) {
      val c = r.getAs[Row](Namespace.Counts)
      view = view.copy(counts = Some(CountsSummary(
        c.getAs[Long]("n"), c.getAs[Long]("nulls"), c.getAs[Long]("nan"),
        c.getAs[Long]("inf"), c.getAs[Long]("trueCount"))))
    }
    if (has(Namespace.Types)) {
      val t = r.getAs[Row](Namespace.Types)
      view = view.copy(types = Some(TypeCountsSummary(
        t.getAs[Long]("integral"), t.getAs[Long]("fractional"), t.getAs[Long]("boolean"),
        t.getAs[Long]("string"), t.getAs[Long]("obj"), t.getAs[Long]("tensor"))))
    }
    if (has(Namespace.Ints)) {
      val i = r.getAs[Row](Namespace.Ints)
      view = view.copy(ints = Some(IntsSummary(
        Option(i.getAs[java.lang.Long]("min")).map(_.longValue),
        Option(i.getAs[java.lang.Long]("max")).map(_.longValue))))
    }
    if (has(Namespace.Distribution)) {
      val d = r.getAs[Row](Namespace.Distribution)
      val qs = Option(d.getAs[scala.collection.Seq[Double]]("quantiles"))
        .map(_.toSeq).getOrElse(Seq.empty)
      view = view.copy(distribution = Some(DistributionSummary(
        d.getAs[Long]("n"),
        Option(d.getAs[java.lang.Double]("mean")).map(_.doubleValue).getOrElse(0.0),
        Option(d.getAs[java.lang.Double]("m2")).map(_.doubleValue).getOrElse(0.0),
        Option(d.getAs[java.lang.Double]("min")).map(_.doubleValue),
        Option(d.getAs[java.lang.Double]("max")).map(_.doubleValue),
        ranks.take(qs.length), qs, d.getAs[Array[Byte]]("kll"))))
    }
    if (has(Namespace.Cardinality)) {
      val c = r.getAs[Row](Namespace.Cardinality)
      view = view.copy(cardinality = Some(CardinalitySummary(
        c.getAs[Double]("estimate"), c.getAs[Double]("lower"), c.getAs[Double]("upper"),
        c.getAs[Array[Byte]]("hll"))))
    }
    if (has(Namespace.UnicodeRange)) {
      val ur = r.getAs[Row](Namespace.UnicodeRange)
      val subs = ur.schema.fieldNames.map(n => n -> parseColumn(ur.getAs[Row](n), ranks)).toMap
      view = view.copy(subMetrics = view.subMetrics + (Namespace.UnicodeRange -> subs))
    }
    if (has(Namespace.FrequentItems)) {
      val f = r.getAs[Row](Namespace.FrequentItems)
      val items = f.getAs[scala.collection.Seq[Row]]("items").toSeq.map { ir =>
        FrequentItem(ir.getAs[String]("value"), ir.getAs[Long]("estimate"),
          ir.getAs[Long]("lower"), ir.getAs[Long]("upper"))
      }
      view = view.copy(frequentItems =
        Some(FrequentItemsSummary(items, f.getAs[Array[Byte]]("sketch"))))
    }
    view
  }
}
