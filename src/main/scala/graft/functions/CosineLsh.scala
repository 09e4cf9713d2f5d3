package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Random-hyperplane LSH band buckets for an embedding column (the
  * sign-LSH family for cosine similarity — Charikar's SimHash for
  * vectors). One pass over the vector computes all `bands × bitsPerBand`
  * signature bits (bit h = sign(v · plane_h)) and packs each band's bits
  * into a long bucket key: O(dim × numBits) multiply-adds per row,
  * codegen via a static call — no HOF re-evaluation (same rationale as
  * [[MinHashSignature]]).
  *
  * Planes are deterministic gaussians seeded by (seed, dim), identical
  * on every executor, so signatures are reproducible across runs.
  * NULL input or an empty/zero vector yields NULL (explode drops it, so
  * degenerate vectors never form a quadratic bucket).
  */
case class HyperplaneBands(child: Expression, bitsPerBand: Int, bands: Int, seed: Long)
    extends UnaryExpression {
  require(bitsPerBand >= 1 && bitsPerBand <= 62, "bitsPerBand out of range")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "hyperplane_bands"

  override def nullSafeEval(input: Any): Any =
    CosineLshUtil.bandBuckets(input.asInstanceOf[ArrayData], bitsPerBand, bands, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val util = "graft.functions.CosineLshUtil"
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $util.bandBuckets($c, $bitsPerBand, $bands, ${seed}L);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBands =
    copy(child = newChild)
}

object CosineLshUtil {

  /** Plane cache per (seed, dim, numBits): generated once per JVM from a
    * seeded java.util.Random's gaussians — deterministic everywhere. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Array[Double]]]()

  private def planes(seed: Long, dim: Int, numBits: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((seed, dim, numBits), { _ =>
      val rnd = new java.util.Random(seed ^ (dim.toLong << 32) ^ numBits)
      Array.fill(numBits)(Array.fill(dim)(rnd.nextGaussian()))
    })

  /** Band bucket keys, or null for empty/zero vectors. */
  def bandBuckets(vec: ArrayData, bitsPerBand: Int, bands: Int, seed: Long): GenericArrayData = {
    val dim = vec.numElements()
    if (dim == 0) return null
    val v = new Array[Double](dim)
    var nonZero = false
    var d = 0
    while (d < dim) {
      v(d) = vec.getDouble(d)
      if (v(d) != 0.0) nonZero = true
      d += 1
    }
    if (!nonZero) return null
    val numBits = bitsPerBand * bands
    val ps = planes(seed, dim, numBits)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var j = 0
      while (j < bitsPerBand) {
        val p = ps(b * bitsPerBand + j)
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += v(i) * p(i); i += 1 }
        if (dot > 0.0) bucket |= (1L << j)
        j += 1
      }
      out(b) = bucket
      b += 1
    }
    new GenericArrayData(out)
  }
}
