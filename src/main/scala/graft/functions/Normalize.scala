package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftx.{columnExpr, exprColumn}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization as a native codegen'd expression — the first
  * step of text canonicalization in a corpus pipeline (dedup keys,
  * tokenizer input, PII matching all break on `é` vs `e`+U+0301).
  * Spark has no builtin for this; a Scala UDF would desugar every row
  * through ScalaUDF boxing, so this is the custom-Expression tier of
  * the extension ladder. Forms: NFC/NFD/NFKC/NFKD (java.text.Normalizer,
  * which implements UAX #15 — the same algorithm ICU-based engines
  * run, so NFC output is engine-portable for any assigned codepoint).
  */
case class UnicodeNormalize(child: Expression, form: String)
  extends UnaryExpression {

  require(Seq("NFC", "NFD", "NFKC", "NFKD").contains(form),
    s"unknown normalization form $form")

  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"

  override def nullSafeEval(input: Any): Any =
    NormalizeUtil.normalize(input.asInstanceOf[UTF8String], form)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""graft.functions.NormalizeUtil.normalize($c, "$form")""")

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

object NormalizeUtil {
  def normalize(s: UTF8String, form: String): UTF8String = {
    val str = s.toString
    // already-normalized fast path: isNormalized is a cheap quick-check
    // scan and the common case for clean corpora — avoids allocating
    val f = Normalizer.Form.valueOf(form)
    if (Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(Normalizer.normalize(str, f))
  }
}

object Normalize {
  /** `unicode_normalize(col, "NFC")` — see [[UnicodeNormalize]]. */
  def unicode_normalize(c: Column, form: String = "NFC"): Column =
    exprColumn(UnicodeNormalize(columnExpr(c), form))
}
