package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftx.{columnExpr, exprColumn}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Checkpoint

/** URL canonicalization — the key-normalization step of web-corpus
  * dedup (CommonCrawl-style pipelines dedup by canonical URL before
  * ever touching content): scheme/host lowercased, default ports
  * dropped (https:443, http:80), fragments stripped, empty path
  * normalized to `/`, tracking parameters (`utm_*`) removed, and the
  * remaining query parameters SORTED — so `?b=2&a=1` and `?a=1&b=2`
  * collide, which is the point.
  *
  * Pure codegen'd string expressions (split_part/filter/sort_array) —
  * map-only, no UDF, one scan at any corpus size — and every step has
  * an identical DuckDB spelling, so canonicalization is oracle-checked
  * end to end (`url_canonicalize`). Single-`?` URLs assumed (split_part
  * semantics, same in both engines). */
object Urls {

  def normalizeUrl(url: Column): Column = {
    val scheme = F.lower(F.split_part(url, F.lit("://"), F.lit(1)))
    val rest = F.split_part(F.split_part(url, F.lit("://"), F.lit(2)),
      F.lit("#"), F.lit(1))
    val pre = F.split_part(rest, F.lit("?"), F.lit(1))
    val query = F.split_part(rest, F.lit("?"), F.lit(2))
    val hostport = F.split_part(pre, F.lit("/"), F.lit(1))
    val path = F.when(F.length(pre) === F.length(hostport), F.lit("/"))
      .otherwise(pre.substr(F.length(hostport) + 1, F.length(pre)))
    val host = F.lower(F.split_part(hostport, F.lit(":"), F.lit(1)))
    val port = F.split_part(hostport, F.lit(":"), F.lit(2))
    val keepPort = (port =!= "") &&
      !((scheme === "https" && port === "443") ||
        (scheme === "http" && port === "80"))
    val params = F.filter(F.split(query, "&"),
      p => F.length(p) > 0 && !p.rlike("^utm_"))
    val q2 = F.array_join(F.sort_array(params), "&")
    F.concat(scheme, F.lit("://"), host,
      F.when(keepPort, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
      path,
      F.when(q2 === "", F.lit("")).otherwise(F.concat(F.lit("?"), q2)))
  }

  /** The canonical host alone — the per-site rollup key. */
  def urlHost(url: Column): Column = {
    val rest = F.split_part(F.split_part(url, F.lit("://"), F.lit(2)),
      F.lit("#"), F.lit(1))
    val pre = F.split_part(rest, F.lit("?"), F.lit(1))
    F.lower(F.split_part(F.split_part(pre, F.lit("/"), F.lit(1)),
      F.lit(":"), F.lit(1)))
  }

  /** The URL's path (leading `/`, query/fragment stripped, empty path
    * normalized to `/`). */
  def urlPath(url: Column): Column = {
    val rest = F.split_part(F.split_part(url, F.lit("://"), F.lit(2)),
      F.lit("#"), F.lit(1))
    val pre = F.split_part(rest, F.lit("?"), F.lit(1))
    val hostport = F.split_part(pre, F.lit("/"), F.lit(1))
    F.when(F.length(pre) === F.length(hostport), F.lit("/"))
      .otherwise(pre.substr(F.length(hostport) + 1, F.length(pre)))
  }

  /** Path PLUS query (`/p?a=1`) — the robots.txt matching key: RFC
    * 9309 rules match the path-with-query, so `Disallow: /search?q=`
    * must be able to fire (a path-only key could never match it).
    * The query is EVERYTHING after the first `?` (an embedded second
    * `?` belongs to the query — split_part's between-the-?s field
    * would drop the tail and a rule matching it could never fire). */
  def urlPathQuery(url: Column): Column = {
    val rest = F.split_part(F.split_part(url, F.lit("://"), F.lit(2)),
      F.lit("#"), F.lit(1))
    val qpos = F.locate("?", rest)
    F.concat(urlPath(url),
      F.when(qpos === 0, F.lit(""))
        .otherwise(rest.substr(qpos, F.length(rest))))
  }

  /** The `Allow:`/`Disallow:` rules that apply to `User-agent: *` in a
    * robots.txt body, in file order, each encoded as a one-char kind
    * marker (`A`/`D`) + the path pattern (RFC 9309 grouping:
    * consecutive `User-agent` lines form a group header and the
    * group's rules apply if any of them is `*`; comments stripped).
    * Real robots files routinely carve out `Allow: /public/` under
    * `Disallow: /` — a Disallow-only subset over-drops those pages, so
    * BOTH kinds are collected and [[robots_matches]] applies the
    * standard longest-match precedence. Empty-valued rules (allow-all
    * `Disallow:`) contribute nothing. Map-only native expression; NULL
    * body → NULL. */
  def robots_disallow(robotsTxt: Column): Column =
    exprColumn(RobotsDisallow(columnExpr(robotsTxt)))

  /** TRUE when the path-with-query is DISALLOWED under RFC 9309 §2.2.2
    * precedence: among all matching rules the LONGEST pattern wins
    * (octet length of the pattern; `Allow` wins ties), and no match at
    * all means allowed. Each rule is a PREFIX pattern where `*`
    * matches any character run and a trailing `$` anchors the end
    * (§2.2.3 — plain `startsWith` would silently never fire the
    * extremely common wildcard shapes). Native expression: bounded
    * rules per host, backtracking glob walk per rule, no per-rule
    * regex compilation. */
  def robots_matches(pathQuery: Column, rules: Column): Column =
    exprColumn(RobotsMatch(columnExpr(pathQuery), columnExpr(rules)))

  /** Drop rows whose URL's path(+query) is disallowed for
    * `User-agent: *` by the host's robots.txt under the standard RFC
    * 9309 longest-match precedence (`Allow` carve-outs win over
    * shorter `Disallow` rules; ties go to `Allow`) — the compliance
    * filter beside [[graft.pipeline.HtmlExtract.robotsNoindex]] (that
    * one is page-level; this is crawl-level). `robots` carries `(host,
    * robots.txt body)` rows; REPEATED hosts are fine (real robots
    * captures carry refetches — their rule lists union); hosts with no
    * row (or an unparseable/empty body) are fully allowed. Rules parse
    * MAP-ONLY on the (small) robots side and aggregate per host; the
    * join is host-equality with the same broadcast-budget-or-shuffle
    * degrade as [[filterBlockedDomains]] (the parsed per-host frame is
    * computed ONCE through a local checkpoint that is released before
    * this returns — see `localizeIfSmall`); the per-row check is
    * [[robots_matches]] over that host's bounded rule array. */
  def filterRobotsDisallowed(df: DataFrame, urlCol: String,
      robots: DataFrame, hostCol: String, txtCol: String,
      broadcastMaxEntries: Long = 4000000L): DataFrame = {
    val rules = robots.select(
      F.lower(F.col(hostCol)).as("__rhost"),
      robots_disallow(F.col(txtCol)).as("__rules"))
      .filter(F.col("__rhost").isNotNull && F.size(F.col("__rules")) > 0)
      .groupBy("__rhost")
      .agg(F.flatten(F.collect_list(F.col("__rules"))).as("__rules"))
    val rulesSide = localizeIfSmall(rules, broadcastMaxEntries)
    val keyed = df
      .withColumn("__host", urlHost(F.col(urlCol)))
      .withColumn("__pq", urlPathQuery(F.col(urlCol)))
    keyed.join(rulesSide, F.col("__host") === F.col("__rhost"), "left")
      .filter(F.col("__rules").isNull ||
        !robots_matches(F.col("__pq"), F.col("__rules")))
      .drop("__host", "__pq", "__rhost", "__rules")
  }

  /** The sitemap URLs declared in a robots.txt body — `Sitemap:` lines
    * are GLOBAL directives (sitemaps.org protocol; RFC 9309 carries
    * them as other-records), valid anywhere in the file regardless of
    * user-agent groups, name case-insensitive. The crawl-side seed
    * discovery step beside the compliance filters. Pure codegen'd
    * regexp (identical DuckDB spelling), map-only; NULL body → NULL. */
  def robots_sitemaps(robotsTxt: Column): Column =
    F.regexp_extract_all(robotsTxt,
      F.lit("(?im)^\\s*sitemap\\s*:\\s*(\\S+)"), F.lit(1))

  /** The broadcast-budget-or-shuffle degrade both crawl filters share:
    * checkpoint, count, and when within budget COLLECT the derived small
    * side into a LocalRelation (no heavier than the broadcast join
    * itself, which gathers the same rows on the driver) — the
    * within-budget side is computed ONCE. Past budget, return the plan
    * for a shuffle hash join: that side is recomputed once more when
    * the join runs (parse + dedup of the list side — bounded, and a
    * side that large is exactly what you do NOT want pinned in executor
    * storage for an unknowable caller lifetime). Either way the
    * checkpoint is released before this returns, so nothing stays
    * pinned. */
  private def localizeIfSmall(small: DataFrame,
      broadcastMaxEntries: Long): DataFrame =
    Checkpoint.scoped(small) { pinned =>
      if (pinned.count() > broadcastMaxEntries) None
      else Some(F.broadcast(small.sparkSession.createDataFrame(
        java.util.Arrays.asList(pinned.collect(): _*), small.schema)))
    }.getOrElse(small)

  /** A host's dot-suffixes (`a.b.c` → `[a.b.c, b.c, c]`) — the bounded
    * equality-join key set for domain-blocklist matching (a host has at
    * most its label count of suffixes, ~≤10 in the wild). */
  def hostSuffixes(host: Column): Column = {
    val labels = F.split(host, "\\.")
    F.transform(F.sequence(F.lit(0), F.size(labels) - 1),
      i => F.array_join(F.slice(labels, i + 1, F.size(labels) - i), "."))
  }

  /** Drop rows whose URL's host IS a blocked domain or is a SUBDOMAIN
    * of one (`example.com` in the blocklist blocks `ads.example.com`) —
    * the crawl-filter stage that follows canonicalization in every
    * web-corpus pipeline.
    *
    * Scale shape: each host explodes into its ≤ label-count
    * dot-suffixes and EQUALITY-semi-joins the blocklist — a hash join
    * over short keys, never one LIKE/regex per blocklist entry (a real
    * blocklist is ~10⁶ domains; pattern-per-entry is a 10⁶-way scan
    * per row). The anti-join back is keyed on the same host column.
    * Blocklist entries are lowercased and deduped; rows with NULL urls
    * are kept (no host to block on).
    *
    * Broadcast budget: the blocklist broadcasts only while its
    * (deduped) entry count fits `broadcastMaxEntries` — a ~10⁶-domain
    * list is ~30-60 MB broadcast, fine; past the budget the suffix
    * join falls back to a SHUFFLE hash join on the same equality keys
    * instead of silently OOMing the driver (the Bloom-family cap
    * pattern: bounded-or-degrade, never unbounded). The count is one
    * cheap aggregate over the (small relative to the corpus) list. */
  def filterBlockedDomains(df: DataFrame, urlCol: String,
      blocklist: DataFrame, domainCol: String,
      broadcastMaxEntries: Long = 4000000L): DataFrame = {
    val keyed = df.withColumn("__host", urlHost(F.col(urlCol)))
    val bl = blocklist
      .select(F.lower(F.col(domainCol)).as("__bdom"))
      .filter(F.col("__bdom").isNotNull).distinct()
    val blSide = localizeIfSmall(bl, broadcastMaxEntries)
    val blockedHosts = keyed
      .select(F.col("__host"), F.explode(hostSuffixes(F.col("__host"))).as("__suf"))
      .join(blSide, F.col("__suf") === F.col("__bdom"))
      .select("__host").distinct()
    keyed.join(blockedHosts, Seq("__host"), "left_anti").drop("__host")
  }
}

/** `array<string>` of `User-agent: *` Disallow prefixes — see
  * [[Urls.robots_disallow]]. */
case class RobotsDisallow(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "robots_disallow"

  override def nullSafeEval(input: Any): Any =
    RobotsDisallow.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.pipeline.RobotsDisallow.parse($c);")

  override protected def withNewChildInternal(newChild: Expression): RobotsDisallow =
    copy(child = newChild)
}

/** `path-with-query matches any rule` — see [[Urls.robots_matches]]. */
case class RobotsMatch(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "robots_matches"

  override def nullSafeEval(path: Any, rules: Any): Any =
    RobotsMatch.anyMatch(path.asInstanceOf[UTF8String],
      rules.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, r) =>
      s"${ev.value} = graft.pipeline.RobotsMatch.anyMatch($p, $r);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RobotsMatch =
    copy(left = newLeft, right = newRight)
}

object RobotsMatch {

  /** RFC 9309 §2.2.2 precedence walk: each rule carries its kind
    * marker (`A`/`D`) first; among matching rules the longest PATTERN
    * wins — measured in OCTETS (UTF-8 bytes), the RFC's unit, not
    * UTF-16 chars — `Allow` wins ties, no match → allowed (false). */
  def anyMatch(path: UTF8String, rules: ArrayData): Boolean = {
    val p = path.toString
    var bestLen = -1
    var bestAllow = false
    var i = 0
    while (i < rules.numElements()) {
      if (!rules.isNullAt(i)) {
        val ru = rules.getUTF8String(i)
        val r = ru.toString
        // Marker contract: byte 0 is 'A' (Allow) or 'D' (Disallow).
        // Lenient never-throw: an EMPTY rule string is skipped (not a
        // charAt crash), and an unmarked legacy string (first char
        // neither 'A' nor 'D' — e.g. a persisted pre-marker rule array
        // starting "/path") is treated as a Disallow over the WHOLE
        // string, the pre-marker semantics, instead of silently losing
        // its first character.
        if (r.nonEmpty) {
          val marked = r.charAt(0) == 'A' || r.charAt(0) == 'D'
          val allow = marked && r.charAt(0) == 'A'
          val pat = if (marked) r.substring(1) else r
          // UTF8String stores UTF-8: its byte count minus the one-byte
          // ASCII marker IS the pattern's octet length — no re-encode
          val octets = ru.numBytes() - (if (marked) 1 else 0)
          if (ruleMatches(p, pat) &&
            (octets > bestLen || (octets == bestLen && allow))) {
            bestLen = octets
            bestAllow = allow
          }
        }
      }
      i += 1
    }
    bestLen >= 0 && !bestAllow
  }

  /** RFC 9309 §2.2.3 rule match: the rule is a PREFIX pattern of the
    * path-with-query where `*` matches any character run (including
    * empty) and a trailing `$` anchors the end. Backtracking glob
    * walk — no regex compilation per rule. */
  def ruleMatches(path: String, rule: String): Boolean = {
    val anchored = rule.nonEmpty && rule.charAt(rule.length - 1) == '$'
    val pat = if (anchored) rule.substring(0, rule.length - 1) else rule
    var p = 0
    var r = 0
    var starR = -1
    var starP = -1
    while (true) {
      if (r == pat.length && (!anchored || p == path.length))
        return true // pattern consumed: a prefix (or, anchored, all) matched
      if (r < pat.length && pat.charAt(r) == '*') {
        starR = r; starP = p; r += 1
      } else if (r < pat.length && p < path.length &&
        path.charAt(p) == pat.charAt(r)) {
        p += 1; r += 1
      } else if (starR >= 0 && starP < path.length) {
        starP += 1; p = starP; r = starR + 1 // grow the last '*'
      } else return false
    }
    false // unreachable
  }
}

object RobotsDisallow {

  /** RFC 9309 group walk, `*` groups only, `A`/`D`-marked rules in
    * file order. Lenient: junk lines are skipped, never thrown. */
  def parse(txt: UTF8String): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var applies = false  // current group has a `*` user-agent
    var inHeader = false // still reading the group's User-agent lines
    txt.toString.split("\n").foreach { raw =>
      val hash = raw.indexOf('#')
      val line = (if (hash >= 0) raw.substring(0, hash) else raw).trim
      if (line.nonEmpty) {
        val c = line.indexOf(':')
        if (c > 0) {
          val key = line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
          val v = line.substring(c + 1).trim
          key match {
            case "user-agent" =>
              // a User-agent line after rules starts a NEW group
              if (!inHeader) { applies = false; inHeader = true }
              if (v == "*") applies = true
            case "disallow" =>
              inHeader = false
              if (applies && v.nonEmpty) out += UTF8String.fromString("D" + v)
            case "allow" =>
              inHeader = false
              if (applies && v.nonEmpty) out += UTF8String.fromString("A" + v)
            case _ => // sitemap / crawl-delay / unknown: ends the header
              inHeader = false
          }
        }
      }
    }
    new GenericArrayData(out.toArray)
  }
}
