package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** HTML → training-text extraction: the block-classification pass every
  * web-corpus pipeline runs BEFORE the text-quality family
  * (`c4Clean` / Gopher rules assume already-extracted text). A
  * deterministic simplification of jusText (Pomikálek 2011) /
  * Boilerpipe (Kohlschütter et al., WSDM 2010): segment the page into
  * text blocks at block-level tag boundaries, score each block with
  * exact features (length, word count, link density, stopword count),
  * and classify content vs boilerplate with fixed thresholds — no
  * fitted model, so the whole pass is SQL-replayable and hash-matched
  * like `c4_clean`.
  *
  * Everything is map-only over the page string (split + regex + HOFs,
  * all codegen'd builtins) except the one per-document block-index
  * window (partitioned by document — thousands of rows per partition
  * key at most, never a global window) and `extractText`'s one
  * groupBy(doc). At 100 TB this is a single scan shape: no joins, no
  * broadcast state, filters push down to the parquet scan.
  *
  * (Reference analog: none — whylogs profiles text it is given; this
  * is part of the beyond-reference LLM-pipeline surface, upstream of
  * [[TextAnalysis]] / [[Decontaminate]] / [[Dedup]].)
  */
object HtmlExtract {

  /** Block-level tags: a boundary ends the enclosing text block (both
    * open and close forms, attributes allowed). Inline tags (`<a>`,
    * `<b>`, `<span>`, …) do NOT split — their text belongs to the
    * block, which is exactly what link density measures. */
  val blockTagPattern: String =
    "(?i)</?(?:p|div|h[1-6]|li|ul|ol|nav|header|footer|aside|article|section|table|tr|td|blockquote|br|body|html|head|title)\\b[^>]*>"

  /** Fixed English stopword list for the stopword-count feature (the
    * jusText signal; kept tiny and frozen so the feature is a stable
    * cross-engine constant, not a config). */
  val stopwords: Seq[String] = Seq("the", "a", "an", "and", "of", "to",
    "in", "is", "on", "for", "with", "as", "by", "at", "it")

  /** Content rule: a block is `content` iff it has ≥ `minWords` words
    * AND link density ≤ `maxLinkDensity`. Navigation, share bars, ads
    * and footers are short and/or link-dominated; body paragraphs are
    * neither. */
  val minWords = 10
  val maxLinkDensity = 0.25

  /** The frozen named-entity chain (&amp; LAST: never double-decode).
    * Shared with [[graft.functions.CrawlTextFields]]'s one-pass twin
    * so the two spellings cannot drift. */
  private[graft] val entities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&nbsp;" -> " ", "&amp;" -> "&")

  /** The meta-robots / meta-charset / directive-split spellings,
    * shared with [[graft.functions.CrawlTextFields]] BY CONSTRUCTION
    * (a future grammar widening cannot desynchronize the native fast
    * path from this composable API). */
  private[graft] val metaRobotsPatterns: Seq[String] = Seq(
    "(?i)<meta\\s[^>]*name\\s*=\\s*[\"']robots[\"'][^>]*content\\s*=\\s*[\"']([^\"']*)[\"']",
    "(?i)<meta\\s[^>]*content\\s*=\\s*[\"']([^\"']*)[\"'][^>]*name\\s*=\\s*[\"']robots[\"']")
  private[graft] val metaCharsetPatterns: Seq[String] = Seq(
    "(?i)<meta\\s+charset\\s*=\\s*[\"']?([A-Za-z0-9_-]+)",
    "(?i)<meta\\s[^>]*http-equiv\\s*=\\s*[\"']content-type[\"'][^>]*charset=([A-Za-z0-9_-]+)",
    // attribute order varies in the wild: content before http-equiv
    // (mirrors metaRobots' both-orders rule)
    "(?i)<meta\\s[^>]*content\\s*=\\s*[\"'][^\"']*charset=([A-Za-z0-9_-]+)[^\"']*[\"'][^>]*http-equiv\\s*=\\s*[\"']content-type[\"']")
  private[graft] val directiveSplitPattern: String = "\\s*,\\s*"
  private[graft] val tagPattern: String = "<[^>]*>"
  private[graft] val wsPattern: String = "\\s+"

  /** regexp_extract yields "" (not NULL) on no match, so each branch
    * must nullif before the fallback chain. */
  private def firstMatch(html: Column, patterns: String*): Column =
    F.coalesce(patterns.map(p =>
      F.nullif(F.regexp_extract(html, p, 1), F.lit(""))): _*)

  /** The `<meta name="robots" content="...">` directive list,
    * lowercased (directive grammar is case-insensitive; attribute
    * order varies in the wild, so both orders match). NULL when the
    * page declares none — a crawl-compliance pipeline DROPS pages
    * whose directives contain `noindex` ([[robotsNoindex]]). Pure
    * regexp, map-only. */
  def metaRobots(html: Column): Column =
    F.lower(firstMatch(html, metaRobotsPatterns: _*))

  /** TRUE when the page opts out of indexing (`noindex` or the `none`
    * shorthand among its robots directives) — the compliance filter a
    * crawl pipeline applies before any content use. */
  def robotsNoindex(html: Column): Column = {
    val dirs = F.split(metaRobots(html), directiveSplitPattern)
    F.coalesce(
      F.array_contains(dirs, "noindex") || F.array_contains(dirs, "none"),
      F.lit(false))
  }

  /** The page's DECLARED charset, lowercased: `<meta charset=...>`
    * (HTML5) or the `http-equiv` content-type's charset param, NULL
    * when neither is declared. The document-side half of charset
    * resolution (the header side is
    * [[graft.functions.Http.charsetOf]]); a real decoder prefers the
    * HTTP header, then this, then a sniff. */
  def metaCharset(html: Column): Column =
    F.lower(firstMatch(html, metaCharsetPatterns: _*))

  /** Visible text of an HTML fragment: strip tags to spaces, decode
    * numeric character references (`&#NN;`/`&#xNN;` — one native pass,
    * [[graft.functions.DecodeNumericEntities]]), decode the frozen
    * named-entity set, collapse whitespace, trim. Numeric decode runs
    * FIRST so `&amp;#39;` yields the literal `&#39;` (the `&amp;`
    * replace cannot manufacture a decodable numeric form afterwards —
    * named entities decode to single non-`&#` characters except
    * `&amp;`→`&`, which runs last and is never rescanned). The named
    * chain deliberately carries NO `&#39;` entry: any literal `&#39;`
    * is consumed by the numeric pass, so a named entry could only ever
    * fire on numeric-pass OUTPUT recombined around a decoded `&#38;`
    * (`&#38;#39;` → `&` + `#39;`) — i.e. it could only double-decode,
    * never single-decode. `&#38;#39;` therefore yields the literal
    * `&#39;`, symmetric with the `&amp;#39;` guarantee. */
  def visibleText(html: Column): Column = {
    val stripped = F.regexp_replace(html, tagPattern, " ")
    val numeric = graft.functions.HtmlEntities.decodeNumericEntities(stripped)
    val decoded = entities.foldLeft(numeric) { case (c, (e, ch)) =>
      F.replace(c, F.lit(e), F.lit(ch))
    }
    F.trim(F.regexp_replace(decoded, wsPattern, " "))
  }

  /** Per-block classification table: one row per non-empty text block,
    * `keyCols ++ (block_idx, text, n_chars, n_words, stop_words,
    * link_chars, link_density, label)`. `block_idx` is the 1-based
    * rank among the document's non-empty blocks in page order. */
  def blocks(df: DataFrame, htmlCol: String, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one document key column")
    // block split + per-block regex/entity work fuses with the scan —
    // widen a one-file input first (guide §2.5, graft.core.Par)
    val segs = graft.core.Par.widen(df).select(
      keyCols.map(F.col) :+
        F.posexplode(F.split(F.col(htmlCol), blockTagPattern)).as(Seq("__pos", "__seg")): _*)
    val vis = visibleText(F.col("__seg"))
    val links = F.regexp_extract_all(F.col("__seg"),
      F.lit("(?i)<a\\b[^>]*>(.*?)</a>"), F.lit(1))
    val feat = segs
      .withColumn("text", vis)
      .filter(F.length(F.col("text")) > 0)
      .withColumn("__words",
        F.filter(F.split(F.col("text"), " "), w => F.length(w) > 0))
      .withColumn("__links", links)
    val nChars = F.length(F.col("text")).cast("long")
    val nWords = F.size(F.col("__words")).cast("long")
    val stopW = F.size(F.filter(F.col("__words"),
      w => F.array_contains(F.typedlit(stopwords), w))).cast("long")
    // link text is tag-stripped and trimmed only (no entity decode /
    // whitespace collapse — density is a ratio, the simpler exact
    // definition keeps the SQL mirror one regex deep)
    val linkChars = F.aggregate(F.col("__links"), F.lit(0L),
      (acc, x) =>
        acc + F.length(F.trim(F.regexp_replace(x, "<[^>]*>", " "))).cast("long"))
    val linkDensity = linkChars.cast("double") / nChars.cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(F.col): _*).orderBy(F.col("__pos"))
    feat
      .withColumn("block_idx", F.row_number().over(w).cast("long"))
      .withColumn("n_chars", nChars)
      .withColumn("n_words", nWords)
      .withColumn("stop_words", stopW)
      .withColumn("link_chars", linkChars)
      .withColumn("link_density", linkDensity)
      .withColumn("label",
        F.when(F.col("n_words") >= minWords &&
          F.col("link_density") <= maxLinkDensity, "content")
          .otherwise("boilerplate"))
      .select(keyCols.map(F.col) ++ Seq(F.col("block_idx"), F.col("text"),
        F.col("n_chars"), F.col("n_words"), F.col("stop_words"),
        F.col("link_chars"), F.col("link_density"), F.col("label")): _*)
  }

  /** INLINE page extraction: the same content rule evaluated entirely
    * WITHIN the row via array HOFs — a page's blocks live in its own
    * html string, so nothing needs an explode/regroup. Returns
    * `struct(text, n_blocks, n_chars)`. ZERO exchanges (no window, no
    * groupBy), which makes it the at-scale shape — one codegen'd scan
    * whatever the corpus size — and stateless, so the same column runs
    * on a Structured Streaming frame at ingestion (crawl → extract →
    * quality-filter in one append-mode pipeline). Pages with no
    * content block return `(\"\", 0, 0)`; filter `n_blocks > 0` for
    * parity with [[extractText]]. */
  def extractTextColumn(html: Column): Column = {
    val segs = F.split(html, blockTagPattern)
    val isContent = (seg: Column) => {
      val vis = visibleText(seg)
      val words = F.filter(F.split(vis, " "), w => F.length(w) > 0)
      val linkChars = F.aggregate(
        F.regexp_extract_all(seg, F.lit("(?i)<a\\b[^>]*>(.*?)</a>"), F.lit(1)),
        F.lit(0L),
        (acc, x) => acc + F.length(F.trim(F.regexp_replace(x, "<[^>]*>", " "))).cast("long"))
      val density = linkChars.cast("double") / F.length(vis).cast("double")
      F.length(vis) > 0 && F.size(words) >= minWords && density <= maxLinkDensity
    }
    val kept = F.filter(segs, isContent)
    val text = F.concat_ws(" ", F.transform(kept, visibleText(_)))
    F.struct(text.as("text"),
      F.size(kept).cast("long").as("n_blocks"),
      F.length(text).cast("long").as("n_chars"))
  }

  /** The extracted training text: content blocks concatenated in page
    * order. One row per document that has ≥ 1 content block:
    * `keyCols ++ (text, n_blocks, n_chars)`. */
  def extractText(df: DataFrame, htmlCol: String, keyCols: Seq[String]): DataFrame = {
    val b = blocks(df, htmlCol, keyCols).filter(F.col("label") === "content")
    b.groupBy(keyCols.map(F.col): _*)
      .agg(F.array_sort(F.collect_list(
        F.struct(F.col("block_idx"), F.col("text").as("t")))).as("__bs"))
      .select(keyCols.map(F.col) ++ Seq(
        F.concat_ws(" ", F.transform(F.col("__bs"), s => s.getField("t"))).as("text"),
        F.size(F.col("__bs")).cast("long").as("n_blocks")): _*)
      .withColumn("n_chars", F.length(F.col("text")).cast("long"))
  }
}
