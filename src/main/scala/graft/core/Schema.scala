package graft.core

import org.apache.spark.sql.types._

/** The reference's five logical types (whylogs
  * `python/whylogs/core/datatypes.py:45-148`), mapped from Spark's static
  * `DataType` — which makes resolution exact instead of per-value sniffing
  * (SURVEY §1.2). Booleans count as Integral for metric resolution, as in
  * the reference.
  */
sealed trait LogicalKind
object LogicalKind {
  case object Integral extends LogicalKind
  case object Fractional extends LogicalKind
  case object Str extends LogicalKind
  case object Bool extends LogicalKind
  case object Tensor extends LogicalKind
  case object AnyKind extends LogicalKind

  def of(dt: DataType): LogicalKind = dt match {
    case ByteType | ShortType | IntegerType | LongType => Integral
    case BooleanType                                   => Bool
    case FloatType | DoubleType | _: DecimalType       => Fractional
    case StringType                                    => Str
    case ArrayType(et, _) if et.isInstanceOf[NumericType] => Tensor
    case DateType | TimestampType                      => Integral // ordinal time
    case _                                             => AnyKind
  }
}

/** Metric namespaces (the per-column "operators" of SURVEY §2.A). */
object Namespace {
  val Counts = "counts"
  val Types = "types"
  val Ints = "ints"
  val Distribution = "distribution"
  val Cardinality = "cardinality"
  val FrequentItems = "frequent_items"
  val UnicodeRange = "unicode_range"
  val ConditionCount = "condition_count"
  val All: Seq[String] =
    Seq(Counts, Types, Ints, Distribution, Cardinality, FrequentItems)
}

/** Sketch/metric configuration, mirroring the reference's MetricConfig
  * (whylogs `python/whylogs/core/metrics/metrics.py:41-54`). */
case class MetricConfig(
    kllK: Int = 1024,
    hllLgK: Int = 12,
    fiLgMaxK: Int = 7,
    fiLimit: Int = 32,
    numStdDev: Int = 1,
    quantiles: Seq[Double] = Seq(0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99),
    fiDisabled: Boolean = false,
    trackUnicodeRanges: Boolean = false,
    /** Named codepoint ranges for the unicode_range MultiMetric
      * (reference defaults, `core/configs.py:16-24`). */
    unicodeRanges: Seq[(String, (Int, Int))] = graft.functions.UnicodeRangeUtil.DefaultRanges,
    /** Per-value type counting for string-ingested columns (CSV-style
      * sources where everything arrives as strings): classify each value
      * by a try-cast cascade with the reference's precedence — bool
      * before int before float (`core/preprocessing.py:167-175`). Off by
      * default: typed columns resolve exactly from the schema. */
    stringIngestTypes: Boolean = false,
    /** `Profiler.profile` aggregates at most this many columns per pass;
      * bounds the per-row aggregation-buffer footprint on very wide tables
      * (reference precedent: `api/pyspark/experimental/profiler.py:80-112`).
      * `profileDF`, `profileSegmented*`, `windowedProfileDF` and `toStore`
      * aggregate every column in one pass. */
    columnBatchSize: Int = 100)

/** Which metric namespaces attach to a column — the reference's
  * StandardResolver (`python/whylogs/core/resolvers.py:38-64`), expressed
  * declaratively. `byName` overrides win over `byKind`. */
case class ResolverSpec(
    byKind: LogicalKind => Seq[String] = ResolverSpec.standard,
    byName: Map[String, Seq[String]] = Map.empty,
    exclude: Set[String] = Set.empty) {
  def metricsFor(name: String, kind: LogicalKind): Seq[String] =
    byName.getOrElse(name, byKind(kind)).filterNot(exclude)
}

object ResolverSpec {
  import LogicalKind._
  import Namespace._

  /** StandardResolver mapping (`resolvers.py:38-64`). */
  val standard: LogicalKind => Seq[String] = {
    case Integral   => Seq(Counts, Types, Distribution, Ints, Cardinality, FrequentItems)
    case Bool       => Seq(Counts, Types, Distribution, Ints, Cardinality, FrequentItems)
    case Fractional => Seq(Counts, Types, Cardinality, Distribution)
    case Str        => Seq(Counts, Types, Cardinality, FrequentItems)
    case Tensor     => Seq(Counts, Types)
    case AnyKind    => Seq(Counts, Types)
  }

  /** NO_FI_RESOLVER (`resolvers.py:219-247`). */
  val noFrequentItems: ResolverSpec = ResolverSpec(exclude = Set(FrequentItems))

  /** LIMITED_TRACKING_RESOLVER (`resolvers.py:249-267`): counts + types +
    * distribution only. */
  val limitedTracking: ResolverSpec = ResolverSpec(byKind = {
    case Fractional | Integral | Bool => Seq(Counts, Types, Distribution)
    case _                            => Seq(Counts, Types)
  })

  /** HISTOGRAM_COUNTING_TRACKING_RESOLVER (`resolvers.py:270-275`). */
  val histogramOnly: ResolverSpec = ResolverSpec(byKind = _ => Seq(Distribution))

  val default: ResolverSpec = ResolverSpec()
}
