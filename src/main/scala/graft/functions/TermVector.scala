package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftx.{columnExpr, exprColumn}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Hashing-trick term vector: slot i counts tokens whose
  * `xxhash64(token) mod dim` is i — the NLP SVD's input representation
  * (reference `experimental/extras/nlp_metric.py:46-76` builds term
  * vectors externally; we build them in-engine).
  *
  * Native one-pass expression for the same load-bearing reason as
  * [[MinHashSignature]]: the HOF formulation
  * `transform(sequence(0, D-1), i -> size(filter(toks, pmod(xxhash64(t), D) = i)))`
  * re-walks the token array once PER SLOT — O(dim × tokens) with a fresh
  * hash of every token each walk — and projection collapse can inline the
  * tokenizer into the lambda on top. Here every token is hashed exactly
  * once and bumps its slot: O(tokens + dim), codegen'd via a static call.
  *
  * Semantics (matches the HOF version bit-for-bit, verified in
  * NlpSvdSpec): hash is Spark's `xxhash64` (XXH64, seed 42); slot index is
  * `pmod`. Empty token array → zero vector. NULL input → NULL vector (the
  * HOF version leaked an array of per-slot NULLs for NULL text, which
  * null-unboxed to a zero vector downstream — this expression is the fix).
  */
case class TermVector(child: Expression, dim: Int) extends UnaryExpression {
  require(dim > 0, "dim must be positive")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "term_vector"

  override def nullSafeEval(input: Any): Any =
    TermVectorUtil.termVector(input.asInstanceOf[ArrayData], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val util = "graft.functions.TermVectorUtil"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $util.termVector($c, $dim);")
  }

  override protected def withNewChildInternal(newChild: Expression): TermVector =
    copy(child = newChild)
}

object TermVectorUtil {
  /** Seed used by Spark's `xxhash64` function. */
  private final val XxSeed = 42L

  def termVector(toks: ArrayData, dim: Int): ArrayData = {
    val out = new Array[Double](dim)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val h = XXH64.hashUTF8String(toks.getUTF8String(i), XxSeed)
        val slot = ((h % dim) + dim) % dim // pmod
        out(slot.toInt) += 1.0
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

object TermVectorF {
  /** Term-vector column over an array<string> token column. */
  def term_vector(tokens: Column, dim: Int): Column =
    exprColumn(TermVector(columnExpr(tokens), dim))
}
