package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftx.{columnExpr, exprColumn}
import org.apache.spark.sql.types._

/** Per-document n-gram repetition statistics — the Gopher-style
  * repetition quality filters (Rae et al., "Scaling Language Models:
  * Methods, Analysis & Insights from Training Gopher",
  * arXiv:2112.11446, Table A1: fraction of characters in the most
  * common n-gram / in duplicated n-grams), word-level over a token
  * array.
  *
  * Native one-pass expression for the usual load-bearing reason: the
  * HOF formulation needs per-row gram counting, which is O(grams²)
  * interpreted lambda evaluation after projection collapse, and a
  * groupBy alternative would shuffle every bigram of a 100 TB corpus.
  * Here each row builds two small hash maps (bigrams, trigrams) in one
  * pass over its tokens: map-only, no shuffle, no UDF boundary.
  *
  * Returns a struct:
  *  - `top2_count`: multiplicity of the most frequent adjacent word
  *    pair (ties: lexicographically smallest pair — deterministic),
  *  - `top2_chars`: characters covered by it = count · len(w1 ⊔ w2),
  *  - `dup3_chars`: characters in duplicated word trigrams =
  *    Σ_{count>1} count · len(gram),
  *  - `norm_chars`: length of the space-joined token text (the
  *    denominator for both fractions).
  * NULL input → NULL; fewer than n tokens → zero stats.
  */
case class RepetitionStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("top2_count", LongType, nullable = false),
    StructField("top2_chars", LongType, nullable = false),
    StructField("dup3_chars", LongType, nullable = false),
    StructField("norm_chars", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "repetition_stats"

  override def nullSafeEval(input: Any): Any =
    RepetitionUtil.stats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val util = "graft.functions.RepetitionUtil"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $util.stats($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionUtil {

  /** One pass over the tokens: gram multiplicities via string-keyed maps
    * (grams are short; the map is bounded by the document's gram count). */
  def stats(toks: ArrayData): InternalRow = {
    val n = toks.numElements()
    val words = new Array[String](n)
    var normChars = 0L
    var i = 0
    while (i < n) {
      words(i) = toks.getUTF8String(i).toString
      normChars += words(i).length
      i += 1
    }
    if (n > 1) normChars += n - 1 // single-space joins

    var top2Count = 0L
    var top2Chars = 0L
    if (n >= 2) {
      val counts = new java.util.HashMap[String, Integer]()
      var bestPair: String = null
      i = 0
      while (i < n - 1) {
        val pair = words(i) + " " + words(i + 1)
        val c = counts.merge(pair, 1, (a, b) => a + b)
        // strictly-greater, or equal-count with smaller pair: ties are
        // deterministic regardless of encounter order
        if (c > top2Count || (c == top2Count && (bestPair == null || pair < bestPair))) {
          top2Count = c.longValue()
          bestPair = pair
        }
        i += 1
      }
      // a pair that reached the max later may be lexicographically
      // smaller than the recorded one at the same final count
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.longValue() == top2Count && e.getKey < bestPair)
          bestPair = e.getKey
      }
      if (bestPair != null) top2Chars = top2Count * bestPair.length.toLong
    }

    var dup3Chars = 0L
    if (n >= 3) {
      val counts = new java.util.HashMap[String, Integer]()
      i = 0
      while (i < n - 2) {
        val gram = words(i) + " " + words(i + 1) + " " + words(i + 2)
        counts.merge(gram, 1, (a, b) => a + b)
        i += 1
      }
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue > 1) dup3Chars += e.getValue.longValue() * e.getKey.length
      }
    }
    new GenericInternalRow(Array[Any](top2Count, top2Chars, dup3Chars, normChars))
  }
}

object Repetition {
  /** Repetition-stats struct over an array<string> token column. */
  def repetition_stats(tokens: Column): Column =
    exprColumn(RepetitionStats(columnExpr(tokens)))
}
