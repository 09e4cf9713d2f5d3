package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** PII detection / redaction over text columns — the scrubbing pass every
  * training-data pipeline runs before anything else touches the corpus
  * (C4 and RefinedWeb both ship one; no whylogs counterpart — this is a
  * pipeline extension, though its counts feed the same condition_count /
  * validator machinery as the reference's built-in `contains_email` /
  * `contains_credit_card` relevance conditions,
  * `python/whylogs/core/relations.py` territory).
  *
  * All patterns are map-only `regexp_count` / `regexp_replace` native
  * expressions (codegen'd, no UDFs, nothing leaves the row), so the scan
  * is embarrassingly parallel at any scale and the patterns are written
  * in the common Java-regex/RE2 dialect subset (no backrefs, no
  * lookaround) so the DuckDB oracle runs them verbatim.
  */
object Pii {

  /** local-part@domain.tld — deliberately permissive (training-data
    * scrubbing optimizes recall; a stray FP redaction is harmless). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Grouped digit runs: international-ish phone shapes 12-345-678-9012 /
    * 123.456.7890 / 123-456-7890 (TPC-H `c_phone` is the first form). At
    * least three groups so plain hyphenated numbers don't trip it. */
  val PhonePattern = "\\b\\d{2,3}[-.]\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b|\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"

  /** Dotted-quad IPv4 (no octet-range check — recall over precision). */
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** 13-16 digit runs with optional single spaces/hyphens between
    * 4-digit groups — card-shaped numbers. */
  val CardPattern = "\\b\\d{4}[- ]?\\d{4}[- ]?\\d{4}[- ]?\\d{1,4}\\b"

  val Patterns: Seq[(String, String)] = Seq(
    "email" -> EmailPattern,
    "phone" -> PhonePattern,
    "ipv4" -> Ipv4Pattern,
    "card" -> CardPattern)

  /** Per-row occurrence counts of every PII class: input columns +
    * `pii_<class>` counts + `pii_total`. */
  def scan(df: DataFrame, textCol: String): DataFrame = {
    val t = F.col(textCol)
    val withCounts = Patterns.foldLeft(df) { case (acc, (name, pat)) =>
      acc.withColumn(s"pii_$name", F.regexp_count(t, F.lit(pat)))
    }
    withCounts.withColumn("pii_total",
      Patterns.map { case (n, _) => F.col(s"pii_$n") }.reduce(_ + _))
  }

  /** Replace every PII occurrence with its `[CLASS]` token. Classes apply
    * in [[Patterns]] order — email before phone/card, so the digits of a
    * phone-bearing email stay covered by one `[EMAIL]` token rather than
    * being double-redacted. */
  def redact(df: DataFrame, textCol: String, out: String = "redacted"): DataFrame =
    df.withColumn(out, Patterns.foldLeft(F.col(textCol)) {
      case (acc, (name, pat)) =>
        F.regexp_replace(acc, F.lit(pat), F.lit(s"[${name.toUpperCase}]"))
    })

  /** Corpus-level PII incidence: docs scanned, docs with any PII, and per
    * class the doc count + total occurrences — the numbers a pipeline
    * reports before/after a scrub pass. One map-side-combined aggregation,
    * no shuffle of text. */
  def summary(df: DataFrame, textCol: String): DataFrame = {
    val scanned = scan(df, textCol)
    val aggs = Seq(
      F.sum(F.when(F.col("pii_total") > 0, 1L).otherwise(0L)).as("docs_with_pii")) ++
      Patterns.flatMap { case (n, _) =>
        Seq(
          F.sum(F.when(F.col(s"pii_$n") > 0, 1L).otherwise(0L)).as(s"docs_$n"),
          F.sum(F.col(s"pii_$n").cast("long")).as(s"hits_$n"))
      }
    scanned.agg(F.count(F.lit(1)).as("docs"), aggs: _*)
  }
}
