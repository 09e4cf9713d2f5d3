package graft.metrics

import java.nio.ByteBuffer

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mutable aggregation state for [[DistributionAgg]]: a KLL quantile sketch
  * plus streaming mean / M2 (sum of squared deviations).
  *
  * Mirrors the reference's DistributionMetric state
  * (whylogs `python/whylogs/core/metrics/metrics.py:217-433`): KLL(k) for
  * quantiles/min/max, Welford for single-value updates, Chan's parallel
  * formula for merges (`python/whylogs/core/metrics/maths.py:11-41`).
  */
final class DistributionBuffer(
    var kll: KllDoublesSketch,
    var n: Long,
    var mean: Double,
    var m2: Double) {

  def updateValue(d: Double): Unit = {
    // null/NaN/Inf are tracked by the counts metric, not the distribution
    // (reference splits them out in `core/preprocessing.py:110-200`).
    if (!java.lang.Double.isNaN(d) && !java.lang.Double.isInfinite(d)) {
      kll.update(d)
      n += 1
      val delta = d - mean
      mean += delta / n
      m2 += delta * (d - mean)
    }
  }

  /** Chan et al. parallel variance merge — exact port of the reference's
    * `parallel_variance_m2` (`core/metrics/maths.py:11-41`). */
  def mergeIn(o: DistributionBuffer): Unit = {
    if (o.n > 0) {
      if (n == 0) { n = o.n; mean = o.mean; m2 = o.m2 }
      else {
        val total = n + o.n
        val delta = o.mean - mean
        val newMean = (n * mean + o.n * o.mean) / total
        m2 = m2 + o.m2 + delta * delta * n.toDouble * o.n.toDouble / total
        mean = newMean
        n = total
      }
      kll.merge(o.kll)
    }
  }

  def variance: Double = if (n > 1) m2 / (n - 1) else 0.0
  def stddev: Double = math.sqrt(variance)
}

object DistributionAgg {
  /** Reference quantile grid (`core/metrics/metrics.py:380-392`). */
  val DefaultQuantiles: Seq[Double] =
    Seq(0.01, 0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)

  val dataTypeFor: Seq[Double] => StructType = qs => StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("mean", DoubleType, nullable = true),
    StructField("m2", DoubleType, nullable = true),
    StructField("stddev", DoubleType, nullable = true),
    StructField("min", DoubleType, nullable = true),
    StructField("max", DoubleType, nullable = true),
    StructField("quantiles", ArrayType(DoubleType, containsNull = false), nullable = true),
    StructField("kll", BinaryType, nullable = false)))
}

/** Distribution metric aggregate: KLL(k) quantile sketch + exact streaming
  * moments, as a native `TypedImperativeAggregate` so Catalyst plans
  * map-side partial aggregation + exchange + final merge (the map-reduce
  * the reference hand-writes in `api/pyspark/experimental/profiler.py:29-77`).
  *
  * Scale: the buffer is O(k) bytes regardless of row count, so a 100 TB
  * scan carries KB-scale state per (column × partition) through the
  * single final exchange.
  */
case class DistributionAgg(
    child: Expression,
    k: Int,
    quantiles: Seq[Double],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DistributionBuffer] with UnaryLike[Expression] {

  def this(child: Expression) = this(child, 1024, DistributionAgg.DefaultQuantiles)

  override def prettyName: String = "graft_distribution"
  override def nullable: Boolean = false
  override val dataType: DataType = DistributionAgg.dataTypeFor(quantiles)

  override def createAggregationBuffer(): DistributionBuffer =
    new DistributionBuffer(KllDoublesSketch.newHeapInstance(k), 0L, 0.0, 0.0)

  override def update(buf: DistributionBuffer, input: InternalRow): DistributionBuffer = {
    val v = child.eval(input)
    if (v != null) buf.updateValue(NumericCoercion.toDouble(v))
    buf
  }

  override def merge(a: DistributionBuffer, b: DistributionBuffer): DistributionBuffer = {
    a.mergeIn(b)
    a
  }

  override def eval(buf: DistributionBuffer): Any = {
    val kllBytes = buf.kll.toByteArray
    if (buf.n == 0) {
      InternalRow(0L, null, null, null, null, null, null, kllBytes)
    } else {
      val qs: Array[Double] =
        buf.kll.getQuantiles(quantiles.toArray, QuantileSearchCriteria.INCLUSIVE)
      InternalRow(buf.n, buf.mean, buf.m2, buf.stddev,
        buf.kll.getMinItem, buf.kll.getMaxItem,
        new GenericArrayData(qs.map(_.asInstanceOf[Any])), kllBytes)
    }
  }

  override def serialize(buf: DistributionBuffer): Array[Byte] = {
    val kllBytes = buf.kll.toByteArray
    val bb = ByteBuffer.allocate(8 + 8 + 8 + 4 + kllBytes.length)
    bb.putLong(buf.n).putDouble(buf.mean).putDouble(buf.m2)
    bb.putInt(kllBytes.length).put(kllBytes)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): DistributionBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getLong; val mean = bb.getDouble; val m2 = bb.getDouble
    val len = bb.getInt
    val kllBytes = new Array[Byte](len)
    bb.get(kllBytes)
    new DistributionBuffer(KllDoublesSketch.heapify(Memory.wrap(kllBytes)), n, mean, m2)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): DistributionAgg =
    copy(child = newChild)
}

/** Numeric widening shared by the sketch aggregates. */
private[metrics] object NumericCoercion {
  def toDouble(v: Any): Double = v match {
    case d: java.lang.Double  => d
    case f: java.lang.Float   => f.toDouble
    case l: java.lang.Long    => l.toDouble
    case i: java.lang.Integer => i.toDouble
    case s: java.lang.Short   => s.toDouble
    case b: java.lang.Byte    => b.toDouble
    case b: java.lang.Boolean => if (b) 1.0 else 0.0
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case other => throw new IllegalArgumentException(
      s"graft_distribution: unsupported input ${other.getClass}")
  }
}
