package graft.api

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.analysis._
import graft.core.{Checkpoint, MetricConfig, Namespace, Owner, ResolverSpec}
import graft.functions._
import graft.functions.Fingerprints.rolling_min_hash
import graft.pipeline.{Audio, Decontaminate, Dedup, Embeddings, Exif, HtmlExtract, Multimodal, NaiveBayes, Packing, Pii, QualityClassifier, Sampling, Similarity, TextAnalysis, Video}
import graft.profile.Why1
import graft.streaming.Streams

/** The driver-facing query registry: one entry per implemented operator
  * (SURVEY §2 + the training-data pipeline extensions), each built on the
  * library API, plus DuckDB-exact oracle SQL where the semantics are
  * ANSI-expressible.
  *
  * Exactness strategy: every oracle-checked value is either integral,
  * string, boolean, a raw input double (min/max), or a double derived from
  * exact decimal accumulation / integer arithmetic through an expression
  * tree mirrored verbatim in the SQL — so results are bit-identical across
  * engines and partitionings. Sketch-based outputs are only oracle-checked
  * where the sketch is provably exact (HLL coupon mode, unpurged FI map).
  */
object StandardQueries {

  final case class Q(build: (SparkSession, String) => DataFrame, oracle: Option[String])

  /** The file streaming source requires a DIRECTORY; expose a single
    * parquet file as one via a symlinked temp dir (copy fallback). */
  def streamableDir(file: String): String = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(file).toAbsolutePath
    // a directory-shaped table (multi-split parquet) is already a valid
    // file-source path — and MUST be returned as-is: the file source
    // does not descend into a symlinked subdirectory, so the symlink
    // indirection below would make the stream silently read zero files
    if (Files.isDirectory(src)) return src.toString
    // dir name from a strong digest of the absolute path — a 32-bit hash
    // could collide two sources into the same temp dir
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(src.toString.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val dir = Paths.get("target", "tmp", "stream_src_" + digest)
    Files.createDirectories(dir)
    val link = dir.resolve(src.getFileName)
    // a stale link must point at THIS source, not a same-named other file
    if (Files.isSymbolicLink(link) && Files.readSymbolicLink(link) != src)
      Files.delete(link)
    if (!Files.exists(link)) {
      try Files.createSymbolicLink(link, src)
      catch { case _: Throwable => Files.copy(src, link) }
    }
    dir.toAbsolutePath.toString
  }

  /** A fresh absolute path `target/tmp/<prefix><uuid>`, not created,
    * deleted when the enclosing [[Owner.scope]] closes (kept outside one). */
  private[graft] def scratch(prefix: String): String =
    Owner.adopt(new java.io.File("target/tmp",
      prefix + java.util.UUID.randomUUID().toString.replace("-", "")).getAbsoluteFile)(
      org.apache.commons.io.FileUtils.deleteQuietly).getPath

  // Fixture-table schemas, inferred from the parquet footer ONCE per
  // file version per process and then passed explicitly. Schema inference on a
  // path-based read costs ~80 ms warm (footer job + file index), paid at
  // EVERY query construction — ~450 t() calls per bench pass re-derived
  // the same dozen schemas (guide §6: repeated listing/metadata work
  // belongs in a catalog; production tables declare their schema in a
  // metastore and never re-infer per query). This memoizes METADATA
  // only — every action still scans the parquet inputs; no data, plan,
  // or result is cached. Keyed on (path, length, mtime), so a fixture
  // rewritten in place is read afresh.
  private val tableSchemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.StructType]()

  private[graft] def tableSchema(s: SparkSession, dir: String, name: String)
      : org.apache.spark.sql.types.StructType = {
    // Older fixtures store events.ts as INT64 TIMESTAMP(NANOS), which
    // Spark's parquet reader rejects unless nanos are surfaced as raw
    // longs. Harmless for the current timestamp[us] fixtures; keeping it
    // lets rebuildTs dispatch on whichever dtype the file actually has.
    if (name == "events") s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val f = new java.io.File(s"$dir/$name.parquet")
    tableSchemas.computeIfAbsent((f.getPath, f.length, f.lastModified), k => s.read.parquet(k._1).schema)
  }

  // NOTE: the local test files are single-row-group parquet, so scans
  // arrive as one partition. A blanket repartition was measured SLOWER
  // (the row exchange outweighs local parallelism for sketch updates at
  // these sizes); only compute-heavy map stages (dedup_near's minhash)
  // repartition explicitly. Real multi-split tables parallelize at the
  // source.
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.schema(tableSchema(s, dir, name)).parquet(s"$dir/$name.parquet")

  /** Fixture table `name` as a file-source stream, read with [[t]]'s schema. */
  private def st(s: SparkSession, dir: String, name: String): DataFrame =
    s.readStream.schema(tableSchema(s, dir, name))
      .parquet(streamableDir(s"$dir/$name.parquet"))

  /** Rebuild `ts` as a session-tz timestamp whatever dtype the fixture
    * stores: legacy raw-nanos BIGINT → micros (truncation irrelevant at
    * the hour windows we aggregate); any timestamp dtype (the current
    * fixtures are timestamp[us], read as TIMESTAMP_NTZ) → plain cast.
    * The NTZ→LTZ cast is instant-exact because every harness entry point
    * pins spark.sql.session.timeZone=UTC, and the DuckDB oracles already
    * normalize both dtypes via epoch_us(CAST(ts AS TIMESTAMP)). */
  private[graft] def rebuildTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
      case _ => df.withColumn("ts", F.col("ts").cast("timestamp"))
    }

  private def events(s: SparkSession, dir: String): DataFrame =
    rebuildTs(t(s, dir, "events"))

  private val liNumeric = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val liDouble = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val liInts = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
  private val liAll = liNumeric ++ Seq("l_returnflag", "l_linestatus", "l_shipdate")

  /** The exact fields (n, nulls, present, vmin, vmax) of every
    * `liNumeric` column of a merged lineitem profile, one row per column
    * — the result of the profile round-trip queries. */
  private def liNumericFields(s: SparkSession, merged: graft.profile.DatasetProfileView): DataFrame = {
    import s.implicits._
    liNumeric.sorted.map { c =>
      val v = merged.columns(c)
      val d = v.distribution.get
      (c, v.counts.get.n, v.counts.get.nulls, d.n, d.min.get, d.max.get)
    }.toDF("col_name", "n", "nulls", "present", "vmin", "vmax").orderBy("col_name")
  }

  /** [[liNumericFields]] over the whole lineitem table, in DuckDB. */
  private val liNumericFieldsOracle =
    liNumeric.sorted.map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n,
         | count(*) FILTER (WHERE $c IS NULL) AS nulls,
         | count(*) FILTER (WHERE $c IS NOT NULL AND NOT isnan(CAST($c AS DOUBLE))) AS present,
         | CAST(min($c) AS DOUBLE) AS vmin, CAST(max($c) AS DOUBLE) AS vmax
         | FROM lineitem""".stripMargin.replaceAll("\n", " ")
    }.mkString("", " UNION ALL ", " ORDER BY col_name")

  /** The lineitem columns of the per-column drift queries. */
  private val liDriftCols = Seq("l_extendedprice", "l_quantity")

  /** Two-sample drift of each `liDriftCols` column, target slice
    * `l_orderkey % 3 = 0`: (col_name, `stat`, n_target, n_ref) rows. */
  private def liDrift(s: SparkSession, dir: String, stat: String)(
      stats: (DataFrame, Seq[String], Column) => Map[String, (Double, Long, Long)]): DataFrame = {
    import s.implicits._
    val byCol = stats(t(s, dir, "lineitem"), liDriftCols, F.col("l_orderkey") % 3 === 0)
    liDriftCols.sorted.map { c =>
      val (v, na, nb) = byCol(c)
      (c, v, na, nb)
    }.toDF("col_name", stat, "n_target", "n_ref")
  }

  /** Two-sample drift of events `value` per event_type, target slice
    * `event_id % 3 = 0`: (segment, `stat`, n_target, n_ref) rows. */
  private def segmentDrift(s: SparkSession, dir: String, stat: String)(
      stats: (DataFrame, Column, String, Column) => Map[String, (Double, Long, Long)]): DataFrame = {
    import s.implicits._
    val bySeg = stats(events(s, dir), F.col("event_type"), "value", F.col("event_id") % 3 === 0)
    bySeg.toSeq.sortBy(_._1).map { case (seg, (v, na, nb)) =>
      (seg, v, na, nb)
    }.toDF("segment", stat, "n_target", "n_ref")
  }

  /** Per-window drift of the events stream: each 1-day window's value
    * bins (complete mode, in a memory table) scored by `perWindow`
    * against the envelope frozen from the events before 2024-01-11;
    * (window_start, `stat`, n_target) rows. */
  private def streamingDrift(s: SparkSession, dir: String, stat: Column)(
      perWindow: (DataFrame, graft.streaming.DriftStream.BinEnvelope) => DataFrame): DataFrame = {
    val split = F.lit("2024-01-11").cast("timestamp")
    val env = graft.streaming.DriftStream.referenceEnvelope(
      events(s, dir).filter(F.col("ts") < split), "value", nBins = 30)
    val sdf = st(s, dir, "events")
      .transform(rebuildTs)
    val counts = graft.streaming.DriftStream.windowedBinCounts(
      sdf, "ts", "1 day", "value", env)
    perWindow(Streams.toMemory(counts, "complete"), env)
      .select(F.unix_timestamp(F.col("window.start")).as("window_start"),
        stat, F.col("n_target"))
      .orderBy("window_start")
  }

  /** Typo'd part names (every 5th part, third char dropped, ids
    * shifted by 10⁶) streamed against the static lowercased part-name
    * index through [[graft.pipeline.FuzzyDedup.matchIndex]] at edit
    * distance 1, blocks above `maxBlockSize` skipped. */
  private def streamingFuzzyMatch(s: SparkSession, dir: String, maxBlockSize: Option[Int]): DataFrame = {
    val part = t(s, dir, "part")
    val indexDf = part.select(F.col("p_partkey").as("ix_id"),
      F.lower(F.col("p_name")).as("ix_s"))
    val sdf = st(s, dir, "part")
      .filter(F.col("p_partkey") % 5 === 0)
      .select((F.col("p_partkey") + 1000000L).as("probe_id"),
        F.concat(F.substring(F.lower(F.col("p_name")), 1, 2),
          F.expr("substring(lower(p_name), 4)")).as("probe_s"))
    Streams.toMemory(graft.pipeline.FuzzyDedup.matchIndex(
        sdf, "probe_id", "probe_s", indexDf, "ix_id", "ix_s",
        maxDist = 1, maxBlockSize = maxBlockSize))
      .orderBy("id", "index_id")
  }

  // ---- oracle SQL fragments shared by several queries ----------------
  // Each is spliced into an oracle that is then stripMargin'd and joined
  // onto one line; the fragments keep the exact text of the copies they
  // replace, so the oracle strings are unchanged.

  /** Word tokens `w` of each document, empty tokens dropped
    * ([[Dedup.tokens]] in DuckDB). */
  private val tokCte =
    """tok AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS w
      |  FROM documents)""".stripMargin

  /** Distinct word bigrams `g` of each `doc_id` of `from`
    * ([[Dedup.shingles]] in DuckDB); `cols` carries extra columns
    * through (", source"). */
  private def shingleCte(cols: String = "", from: String = "documents"): String =
    s"""sh AS (
       |  SELECT doc_id$cols,
       |   list_distinct([array_to_string(words[i:i+2], ' ')
       |                  for i in range(1, greatest(len(words) - 1, 1))]) AS g
       |  FROM (SELECT doc_id$cols, string_split_regex(lower(trim(text)), '\\s+') AS words FROM $from))""".stripMargin

  /** Exact Jaccard of the shingle sets of `sh` rows `a` and `b`. */
  private val jaccardSql =
    "CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.g, b.g))) AS DOUBLE)"

  /** Every `sh` pair a < b at exact Jaccard >= 0.5. */
  private val nearDupJoinSql =
    s"""FROM sh a JOIN sh b ON b.doc_id > a.doc_id
       |  WHERE len(list_distinct(list_concat(a.g, b.g))) > 0
       |   AND $jaccardSql >= 0.5""".stripMargin

  /** The near-dup pairs (a, b, jaccard) at threshold 0.5, `sh` rows
    * joined `on` — the whole oracle of the pair-listing queries. */
  private def nearDupPairsOracle(cols: String, on: String): String =
    s"""WITH ${shingleCte(cols)}
       | SELECT a.doc_id AS a, b.doc_id AS b,
       |  $jaccardSql AS jaccard
       | FROM sh a JOIN sh b ON $on
       | WHERE len(list_distinct(list_concat(a.g, b.g))) > 0
       |  AND $jaccardSql >= 0.5
       | ORDER BY a, b""".stripMargin.replaceAll("\n", " ")

  /** Near-dup connected components over the documents of `from`:
    * `comp(id, component)`, component = the minimum reachable doc_id
    * (recursive min-label reachability; the WITH must be RECURSIVE). */
  private def nearDupComponentsCte(from: String = "documents"): String =
    s"""${shingleCte(from = from)},
       | pairs AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  $nearDupJoinSql),
       | edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
       | r AS (
       |   SELECT u, u AS m FROM (SELECT DISTINCT u FROM edges)
       |   UNION
       |   SELECT e.u, r.m FROM edges e JOIN r ON e.v = r.u),
       | comp AS (SELECT u AS id, min(m) AS component FROM r GROUP BY u)""".stripMargin

  /** The per-column drift oracle over [[DriftExact]]'s fixed 30-bin
    * layout: CTEs b (value, target flag), mm (envelope), g (per-bin
    * counts ca/cb) and t (totals na/nb), then `tail(column)` — the
    * statistic's own CTEs and final SELECT — one UNION ALL arm per
    * `liDriftCols` column. */
  private def liBinnedDriftOracle(tail: String => String): String =
    liDriftCols.sorted.map { c =>
      s"""SELECT * FROM (
         | WITH b AS (SELECT CAST($c AS DOUBLE) AS v,
         |     CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE 0 END AS ta
         |   FROM lineitem WHERE $c IS NOT NULL),
         | mm AS (SELECT min(v) AS lo, max(v) AS hi FROM b),
         | g AS (SELECT LEAST(CAST(floor((v - lo) / ((hi - lo) / 30)) AS BIGINT), 29) AS bin,
         |     sum(ta) AS ca, sum(1 - ta) AS cb
         |   FROM b, mm GROUP BY 1),
         | t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM g),
         | ${tail(c)}
         |)""".stripMargin.replaceAll("\n", " ")
    }.mkString("", " UNION ALL ", " ORDER BY col_name")

  /** The per-segment counterpart of [[liBinnedDriftOracle]]'s CTEs:
    * each event_type binned over its own envelope (p: lo, width wd),
    * t per segment. */
  private val segmentBinnedCtes =
    """b AS (SELECT event_type AS seg, CAST(value AS DOUBLE) AS v,
      |   CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS ta
      |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
      | mm AS (SELECT seg, min(v) AS lo, max(v) AS hi FROM b GROUP BY 1),
      | p AS (SELECT seg, lo, CASE WHEN hi > lo THEN (hi - lo)/30 ELSE 1.0 END AS wd FROM mm),
      | g AS (SELECT b.seg, LEAST(CAST(floor((v - lo)/wd) AS BIGINT), 29) AS bin,
      |   sum(ta) AS ca, sum(1 - ta) AS cb
      |  FROM b JOIN p ON b.seg = p.seg GROUP BY 1, 2),
      | t AS (SELECT seg, sum(ca) AS na, sum(cb) AS nb FROM g GROUP BY 1)""".stripMargin

  /** Exact cosine top-5 neighbours (similarity desc, id desc) of the
    * first 20 embeddings, brute force; `cast` ("::DOUBLE[]") scores the
    * double-cast vectors. */
  private def embeddingTopKOracle(cast: String = ""): String =
    s"""SELECT query_id, neighbor_id, rank FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |   row_number() OVER (PARTITION BY q.vec_id
       |     ORDER BY list_cosine_similarity(q.embedding$cast, c.embedding$cast) DESC, c.vec_id DESC) AS rank
       |  FROM embeddings q, embeddings c
       |  WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
       | WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin.replaceAll("\n", " ")

  /** [[tokCte]] plus g(doc_id, pos, gram): every 5-token gram of each
    * document at its 1-based token position. */
  private val spanGramCtes =
    s"""$tokCte,
       | g AS (
       |  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
       |   SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(w) - 4, 0)),
       |     i -> struct_pack(pos := i, gram := array_to_string(w[i:i+4], ' ')))) AS u
       |   FROM tok))""".stripMargin

  /** The streaming drift oracles' CTEs: e (value, day window w, ts),
    * the reference envelope mm/p frozen before 2024-01-11 (nr rows),
    * reference bin counts rb, per-window bin counts tb and totals wn,
    * and the full (window, bin) grid. */
  private val windowBinnedCtes =
    """e AS (SELECT CAST(value AS DOUBLE) AS v,
      |   date_trunc('day', CAST(ts AS TIMESTAMP)) AS w, ts FROM events
      |   WHERE value IS NOT NULL),
      | mm AS (SELECT min(v) AS lo, max(v) AS hi, count(*) AS nr FROM e
      |   WHERE ts < TIMESTAMP '2024-01-11'),
      | p AS (SELECT lo, CASE WHEN hi > lo THEN (hi - lo)/30 ELSE 1.0 END AS wd, nr FROM mm),
      | rb AS (SELECT LEAST(GREATEST(CAST(floor((v - lo)/wd) AS BIGINT), 0), 29) AS bin,
      |   count(*) AS rc FROM e, p WHERE ts < TIMESTAMP '2024-01-11' GROUP BY 1),
      | tb AS (SELECT w, LEAST(GREATEST(CAST(floor((v - lo)/wd) AS BIGINT), 0), 29) AS bin,
      |   count(*) AS c FROM e, p GROUP BY 1, 2),
      | wn AS (SELECT w, sum(c) AS nt FROM tb GROUP BY 1),
      | grid AS (SELECT w, b.range AS bin FROM (SELECT DISTINCT w FROM tb), range(30) b)""".stripMargin

  /** Gap sessionization of a CTE `e(user_id, event_id, ts_us, ...)`:
    * g flags a new session after a gap over 6h, s numbers each user's
    * sessions (session_seq). */
  private val sessionSeqCtes =
    """g AS (
      |  SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w IS NULL
      |    OR ts_us - lag(ts_us) OVER w > 21600000000 THEN 1 ELSE 0 END AS new_session
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      | s AS (
      |  SELECT *, sum(new_session) OVER (
      |    PARTITION BY user_id ORDER BY ts_us, event_id
      |    ROWS UNBOUNDED PRECEDING) AS session_seq FROM g)""".stripMargin

  /** The rank-sum CTEs over lineitem's quantity, discount and tax, with
    * `l_linestatus = 'O'` as the current slice: per-(column, value) tie
    * counts h and the reference rows ranked below each value (c.rb). */
  private val rankSumCtes =
    """u AS (
      |  SELECT 'l_quantity' AS cn, CAST(l_quantity AS DOUBLE) AS v, l_linestatus = 'O' AS t FROM lineitem
      |   WHERE l_quantity IS NOT NULL AND l_linestatus IS NOT NULL
      |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE), l_linestatus = 'O' FROM lineitem
      |   WHERE l_discount IS NOT NULL AND l_linestatus IS NOT NULL
      |  UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE), l_linestatus = 'O' FROM lineitem
      |   WHERE l_tax IS NOT NULL AND l_linestatus IS NOT NULL),
      | h AS (SELECT cn, v, CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_cur,
      |   CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT) AS n_ref FROM u GROUP BY 1, 2),
      | c AS (SELECT cn, v, n_cur, n_ref,
      |   CAST(coalesce(sum(n_ref) OVER (PARTITION BY cn ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_ref, 0) AS BIGINT) AS rb
      |  FROM h)""".stripMargin

  /** [[streamingFuzzyMatch]] in DuckDB: the same probes joined to the
    * index within their 2-char block and length band, blocks over
    * `maxBlockSize` entries dropped. */
  private def fuzzyMatchOracle(maxBlockSize: Option[Int]): String = {
    val index =
      """ AS (SELECT CAST(p_partkey AS BIGINT) AS index_id, lower(p_name) AS index_s,
        |   substr(lower(p_name), 1, 2) AS blk, CAST(len(p_name) AS BIGINT) AS l FROM part)"""
    val ix = maxBlockSize.fold("ix" + index) { cap =>
      s"""ix0$index,
         | keep AS (SELECT blk FROM ix0 GROUP BY blk HAVING count(*) <= $cap),
         | ix AS (SELECT ix0.index_id, ix0.index_s, ix0.blk, ix0.l FROM ix0 JOIN keep USING (blk))"""
    }
    s"""WITH $ix,
       | pr AS (SELECT CAST(p_partkey + 1000000 AS BIGINT) AS id,
       |   substr(lower(p_name), 1, 2) || substr(lower(p_name), 4) AS s
       |  FROM part WHERE p_partkey % 5 = 0),
       | pb AS (SELECT id, s, substr(s, 1, 2) AS blk, CAST(len(s) AS BIGINT) AS l FROM pr)
       | SELECT pb.id, ix.index_id, pb.s, ix.index_s,
       |  CAST(levenshtein(pb.s, ix.index_s) AS BIGINT) AS dist
       | FROM pb JOIN ix ON ix.blk = pb.blk AND abs(pb.l - ix.l) <= 1
       | WHERE levenshtein(pb.s, ix.index_s) <= 1
       | ORDER BY id, index_id""".stripMargin.replaceAll("\n", " ")
  }

  /** The tail of [[HtmlExtract.visibleText]] in DuckDB: the five named
    * entities of `html` decoded, whitespace runs collapsed, trimmed;
    * `indent` pads the continuation lines. */
  private def entityDecodeSql(html: String, indent: String = "    "): String =
    s"""trim(regexp_replace(replace(replace(replace(replace(replace(
       |$indent$html,
       |$indent'&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&nbsp;', ' '), '&amp;', '&'),
       |$indent'\\s+', ' ', 'g'))""".stripMargin

  /** [[HtmlExtract.visibleText]] of column `col` in DuckDB: tags become
    * spaces, then [[entityDecodeSql]]. */
  private def visibleTextSql(col: String, indent: String = "    "): String =
    entityDecodeSql(s"regexp_replace($col, '<[^>]*>', ' ', 'g')", indent)

  /** (table, column) pairs whose distinct counts sit far inside HLL coupon
    * range — estimates are exact there. */
  private val lowCardCols = Seq(
    "customer" -> "c_mktsegment", "documents" -> "lang", "documents" -> "source",
    "events" -> "event_type", "lineitem" -> "l_linestatus", "lineitem" -> "l_returnflag",
    "nation" -> "n_name", "orders" -> "o_orderpriority", "orders" -> "o_orderstatus",
    "part" -> "p_brand", "part" -> "p_type", "region" -> "r_name")

  private val fiCols = Seq(
    "customer" -> "c_mktsegment", "documents" -> "lang", "documents" -> "source",
    "lineitem" -> "l_linestatus", "lineitem" -> "l_returnflag",
    "nation" -> "n_name", "orders" -> "o_orderpriority", "orders" -> "o_orderstatus")

  // ------------------------------------------------------------------
  // §2.A metric queries
  // ------------------------------------------------------------------

  private val countsProfiler =
    new Profiler(MetricConfig(), ResolverSpec(byKind = _ => Seq(Namespace.Counts)))
  private val typesProfiler =
    new Profiler(MetricConfig(), ResolverSpec(byKind = _ => Seq(Namespace.Types)))
  private val intsProfiler =
    new Profiler(MetricConfig(), ResolverSpec(byKind = _ => Seq(Namespace.Ints)))

  private def qProfileCounts = Q(
    (s, dir) => {
      val base = countsProfiler.profileDF(t(s, dir, "lineitem"))
      val cols = F.col(s"${liAll.head}.counts.n").as("row_count") +:
        liAll.map(c => F.col(s"$c.counts.nulls").as(s"${c}__nulls")) ++:
        liDouble.map(c => F.col(s"$c.counts.nan").as(s"${c}__nan"))
      base.select(cols: _*)
    },
    Some {
      val parts = Seq("count(*) AS row_count") ++
        liAll.map(c => s"count(*) FILTER (WHERE $c IS NULL) AS ${c}__nulls") ++
        liDouble.map(c => s"count(*) FILTER (WHERE isnan($c)) AS ${c}__nan")
      s"SELECT ${parts.mkString(", ")} FROM lineitem"
    })

  private val typesCols = Seq("l_orderkey", "l_partkey", "l_quantity",
    "l_extendedprice", "l_returnflag", "l_linestatus")

  private def qProfileTypes = Q(
    (s, dir) => {
      val base = typesProfiler.profileDF(t(s, dir, "lineitem"), Some(typesCols))
      base.select(typesCols.flatMap(c => Seq(
        F.col(s"$c.types.integral").as(s"${c}__integral"),
        F.col(s"$c.types.fractional").as(s"${c}__fractional"),
        F.col(s"$c.types.string").as(s"${c}__string"))): _*)
    },
    Some {
      val parts = typesCols.flatMap { c =>
        val isInt = liInts.contains(c)
        val isDouble = liDouble.contains(c)
        Seq(
          (if (isInt) s"count($c)" else "CAST(0 AS BIGINT)") + s" AS ${c}__integral",
          (if (isDouble) s"count(*) FILTER (WHERE $c IS NOT NULL AND NOT isnan($c))"
           else "CAST(0 AS BIGINT)") + s" AS ${c}__fractional",
          (if (!isInt && !isDouble) s"count($c)" else "CAST(0 AS BIGINT)") + s" AS ${c}__string")
      }
      s"SELECT ${parts.mkString(", ")} FROM lineitem"
    })

  /** Mixed-type type counters (reference preprocessing cascade, bool
    * before int before float): a string column synthesized from orders
    * with a known branch → class mapping, so the oracle counts ground
    * truth by branch while the engine classifies each value blind. */
  private def qProfileMixedTypes = Q(
    (s, dir) => {
      val mixed = F.when(F.col("o_orderkey") % 5 === 0, F.col("o_orderkey").cast("string"))
        .when(F.col("o_orderkey") % 5 === 1, F.col("o_totalprice").cast("string"))
        .when(F.col("o_orderkey") % 5 === 2,
          F.when(F.col("o_orderkey") % 2 === 0, "true").otherwise("false"))
        .when(F.col("o_orderkey") % 5 === 3, F.col("o_orderstatus"))
        .otherwise(F.lit(null).cast("string"))
      val df = t(s, dir, "orders").select(mixed.as("mixed"))
      val p = new Profiler(MetricConfig(stringIngestTypes = true),
        ResolverSpec(byKind = _ => Seq(Namespace.Counts, Namespace.Types)))
      p.profileDF(df).select(
        F.col("mixed.counts.n").as("n"),
        F.col("mixed.counts.nulls").as("nulls"),
        F.col("mixed.types.integral").as("integral"),
        F.col("mixed.types.fractional").as("fractional"),
        F.col("mixed.types.boolean").as("boolean"),
        F.col("mixed.types.string").as("string"))
    },
    Some("""SELECT count(*) AS n,
           | count(*) FILTER (WHERE o_orderkey % 5 = 4) AS nulls,
           | count(*) FILTER (WHERE o_orderkey % 5 = 0) AS integral,
           | count(*) FILTER (WHERE o_orderkey % 5 = 1) AS fractional,
           | count(*) FILTER (WHERE o_orderkey % 5 = 2) AS boolean,
           | count(*) FILTER (WHERE o_orderkey % 5 = 3) AS string
           | FROM orders""".stripMargin.replaceAll("\n", " ")))

  private def qProfileInts = Q(
    (s, dir) => {
      val base = intsProfiler.profileDF(t(s, dir, "lineitem"), Some(liInts))
      base.select(liInts.flatMap(c => Seq(
        F.col(s"$c.ints.min").as(s"${c}__min"),
        F.col(s"$c.ints.max").as(s"${c}__max"))): _*)
    },
    Some {
      val parts = liInts.flatMap(c => Seq(
        s"CAST(min($c) AS BIGINT) AS ${c}__min", s"CAST(max($c) AS BIGINT) AS ${c}__max"))
      s"SELECT ${parts.mkString(", ")} FROM lineitem"
    })

  private def qProfileMoments = Q(
    (s, dir) => DescriptiveStats.df(t(s, dir, "lineitem"), liDouble),
    Some(DescriptiveStats.oracleSql("lineitem", liDouble)))

  private val quantRanks = Seq(0.25, 0.5, 0.75)

  private def qQuantilesExact = Q(
    (s, dir) => {
      // ExactQuantiles, NOT the built-in percentile() aggregate: the
      // builtin buffers every value in one buffer (a 100×-scale memory
      // bomb); the distributed prefix-sum path is exact with bounded
      // state and interpolates with the same type-7 formula.
      val cols = Seq("l_quantity", "l_linenumber")
      val qs = graft.analysis.ExactQuantiles.quantiles(
        t(s, dir, "lineitem"), cols, quantRanks)
      val named = cols.flatMap(c => quantRanks.zipWithIndex.map { case (r, i) =>
        F.lit(qs(c)(i)).as(s"${c}__p${(r * 100).toInt}")
      })
      s.range(1).select(named: _*)
    },
    Some {
      val parts = Seq("l_quantity", "l_linenumber").flatMap(c =>
        quantRanks.map(r => s"quantile_cont($c, $r) AS ${c}__p${(r * 100).toInt}"))
      s"SELECT ${parts.mkString(", ")} FROM lineitem"
    })

  private def qKllQuantiles = Q(
    (s, dir) => {
      // quantiles need ONLY the distribution metric: the reference's
      // HISTOGRAM_COUNTING_TRACKING_RESOLVER skips the HLL/FI/counts
      // updates that dominate per-value cost in the full profile
      val view = new Profiler(resolver = ResolverSpec.histogramOnly)
        .profile(t(s, dir, "lineitem"), Some(liNumeric))
      import s.implicits._
      view.columns.toSeq.sortBy(_._1).flatMap { case (c, v) =>
        v.distribution.toSeq.flatMap(d => d.quantileRanks.zip(d.quantiles).map {
          case (r, q) => (c, r, q)
        })
      }.toDF("column_name", "rank", "quantile").orderBy("column_name", "rank")
    },
    None)

  private def qCardinality = Q(
    (s, dir) => {
      // One agg per TABLE (all its columns' sketches in one scan), then
      // unpivot — O(tables) scans, not O(columns).
      val perTable = lowCardCols.groupBy(_._1).toSeq.sortBy(_._1).map { case (tbl, cs) =>
        val cols = cs.map(_._2)
        val aggs = cols.map(c => cardinality_agg(F.col(c)).getField("estimate").as(c))
        val row = t(s, dir, tbl).agg(aggs.head, aggs.tail: _*)
        val stacked = cols.map(c => F.struct(F.lit(c).as("column_name"),
          F.round(F.col(c)).cast("long").as("distinct_count")))
        row.select(F.explode(F.array(stacked: _*)).as("r")).select("r.*")
      }
      perTable.reduce(_ unionAll _).orderBy("column_name")
    },
    Some {
      lowCardCols.map { case (tbl, c) =>
        s"SELECT '$c' AS column_name, count(DISTINCT $c) AS distinct_count FROM $tbl"
      }.mkString("", " UNION ALL ", " ORDER BY column_name")
    })

  private def qCardinalityBounds = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
      val aggs = cols.map(c => cardinality_agg(F.col(c)).as(c))
      val row = li.agg(aggs.head, aggs.tail: _*)
      val stacked = cols.map(c => F.struct(
        F.lit(c).as("column_name"),
        F.col(s"$c.estimate").as("estimate"),
        F.col(s"$c.lower").as("lower"),
        F.col(s"$c.upper").as("upper")))
      row.select(F.explode(F.array(stacked: _*)).as("r")).select("r.*")
        .orderBy("column_name")
    },
    None)

  private def qFrequentItems = Q(
    (s, dir) => {
      // One agg per TABLE, then unpivot + explode items.
      val perTable = fiCols.groupBy(_._1).toSeq.sortBy(_._1).map { case (tbl, cs) =>
        val cols = cs.map(_._2)
        val aggs = cols.map(c => frequent_items_agg(F.col(c)).getField("items").as(c))
        val row = t(s, dir, tbl).agg(aggs.head, aggs.tail: _*)
        val stacked = cols.map(c =>
          F.struct(F.lit(c).as("column_name"), F.col(c).as("items")))
        row.select(F.explode(F.array(stacked: _*)).as("r"))
          .select(F.col("r.column_name"), F.explode(F.col("r.items")).as("it"))
          .select(F.col("column_name"), F.col("it.value").as("value"),
            F.col("it.estimate").as("cnt"))
      }
      perTable.reduce(_ unionAll _).orderBy(F.col("column_name"), F.col("cnt").desc, F.col("value"))
    },
    Some {
      fiCols.map { case (tbl, c) =>
        s"SELECT '$c' AS column_name, CAST($c AS VARCHAR) AS value, count(*) AS cnt FROM $tbl WHERE $c IS NOT NULL GROUP BY 1, 2"
      }.mkString("", " UNION ALL ", " ORDER BY column_name, cnt DESC, value")
    })

  /** unicode_range MultiMetric over part.p_name (pure ASCII, so NFD
    * normalization is the identity on both engines): per range the exact
    * submetric fields (value count, min/max of per-string char counts).
    * Oracle counts range characters by regexp removal on lower(). */
  private def qUnicodeRange = Q(
    (s, dir) => {
      val p = new Profiler(MetricConfig(trackUnicodeRanges = true),
        ResolverSpec(byKind = _ => Seq(Namespace.Counts)))
      val base = p.profileDF(t(s, dir, "part"), Some(Seq("p_name")))
      val names = MetricConfig().unicodeRanges.map(_._1) :+ "UNKNOWN" :+ "string_length"
      val ur = F.col("p_name").getField(Namespace.UnicodeRange)
      val stacked = names.map { nm =>
        val sub = ur.getField(nm)
        F.struct(F.lit(nm).as("range_name"),
          sub.getField("counts").getField("n").as("n"),
          sub.getField("ints").getField("min").as("cnt_min"),
          sub.getField("ints").getField("max").as("cnt_max"))
      }
      base.select(F.explode(F.array(stacked: _*)).as("r")).select("r.*")
        .orderBy("range_name")
    },
    Some {
      val regexOf = Seq(
        "emoticon" -> "[\\x{1F600}-\\x{1F64F}]",
        "control" -> "[\\x00-\\x1F]",
        "digits" -> "[0-9]",
        "latin-upper" -> "[A-Z]",
        "latin-lower" -> "[a-z]",
        "basic-latin" -> "[\\x00-\\x7F]",
        "extended-latin" -> "[\\x{0080}-\\x{02AF}]")
      val perRange = regexOf.map { case (nm, re) =>
        s"""SELECT '$nm' AS range_name, count(p_name) AS n,
           | min(length(lower(p_name)) - length(regexp_replace(lower(p_name), '$re', '', 'g'))) AS cnt_min,
           | max(length(lower(p_name)) - length(regexp_replace(lower(p_name), '$re', '', 'g'))) AS cnt_max
           | FROM part""".stripMargin.replaceAll("\n", " ")
      }
      val unknown =
        """SELECT 'UNKNOWN' AS range_name, count(p_name) AS n,
          | min(length(regexp_replace(lower(p_name), '[\x00-\x7F\x{0080}-\x{02AF}\x{1F600}-\x{1F64F}]', '', 'g'))) AS cnt_min,
          | max(length(regexp_replace(lower(p_name), '[\x00-\x7F\x{0080}-\x{02AF}\x{1F600}-\x{1F64F}]', '', 'g'))) AS cnt_max
          | FROM part""".stripMargin.replaceAll("\n", " ")
      val strLen =
        """SELECT 'string_length' AS range_name, count(p_name) AS n,
          | min(length(p_name)) AS cnt_min, max(length(p_name)) AS cnt_max
          | FROM part""".stripMargin.replaceAll("\n", " ")
      (perRange :+ unknown :+ strLen).mkString("", " UNION ALL ", " ORDER BY range_name")
    })

  /** Bag-of-words term stats (reference BagOfWordsMetric,
    * `experimental/extras/nlp_metric.py:199-431`): explode tokens, count
    * via the frequent-items sketch (exact: vocabulary fits the map). */
  private def qBowTermCounts = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(F.explode(F.split(F.col("text"), " ")).as("token"))
        .agg(frequent_items_agg(F.col("token"), limit = 64).getField("items").as("items"))
        .select(F.explode(F.col("items")).as("it"))
        .select(F.col("it.value").as("token"), F.col("it.estimate").as("cnt"))
        .orderBy(F.col("cnt").desc, F.col("token"))
    },
    Some("""SELECT t AS token, count(*) AS cnt
           | FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
           | GROUP BY t ORDER BY cnt DESC, token""".stripMargin.replaceAll("\n", " ")))

  /** Corpus-wide top-100 word bigrams — the n-gram counting pass a
    * tokenizer/vocab-prep pipeline runs. Bigrams are formed ARRAY-LOCALLY
    * (arrays_zip of two shifted slices — a constant number of references
    * to the token array, NOT a per-gram lambda, so the CollapseProject
    * re-tokenize trap doesn't apply), then one map-side-combined groupBy;
    * ties at the cut break deterministically on (count desc, gram). */
  private def qCorpusNgrams = Q(
    (s, dir) => {
      val w = Dedup.tokens(F.col("text"))
      val len = F.greatest(F.size(w) - 1, F.lit(0))
      val bi = F.arrays_zip(F.slice(w, F.lit(1), len), F.slice(w, F.lit(2), len))
      t(s, dir, "documents")
        .select(F.explode(bi).as("p"))
        .select(F.concat_ws(" ", F.col("p.0"), F.col("p.1")).as("gram"))
        .groupBy("gram").agg(F.count(F.lit(1)).as("cnt"))
        .orderBy(F.col("cnt").desc, F.col("gram"))
        .limit(100)
    },
    Some("""SELECT gram, count(*) AS cnt FROM (
           |  SELECT unnest(list_transform(generate_series(1, greatest(len(w) - 1, 0)),
           |    i -> array_to_string(w[i:i+1], ' '))) AS gram
           |  FROM (SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS w
           |        FROM documents))
           | GROUP BY gram ORDER BY cnt DESC, gram LIMIT 100""".stripMargin.replaceAll("\n", " ")))

  /** Top-3 characteristic terms per document by tf-idf
    * ([[graft.pipeline.TextAnalysis.tfIdfTopTerms]], reciprocal idf):
    * tf and df are exact integers and the score is one IEEE division,
    * so the full ranked output is oracle-reproducible bit-for-bit. */
  private def qTfIdfTopTerms = Q(
    (s, dir) => TextAnalysis.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text", 3)
      .orderBy("doc_id", "rank"),
    Some("""WITH tok AS (
           |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0)) AS term
           |  FROM documents),
           | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
           | dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
           | s AS (SELECT doc_id, term, tf, df,
           |   CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) AS score,
           |   row_number() OVER (PARTITION BY doc_id
           |     ORDER BY CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) DESC, term) AS rank
           |  FROM tf JOIN dfq USING (term))
           | SELECT doc_id, term, tf, df, score, CAST(rank AS BIGINT) AS rank
           | FROM s WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin.replaceAll("\n", " ")))

  /** c-TF-IDF class keywords ([[TextAnalysis.classTfidf]]): top-10
    * characteristic terms per `source` class. Exact: integer tf /
    * class_df + one IEEE divide; rank = (score DESC, term DESC), the
    * bounded-heap's deterministic tie order, mirrored in the oracle. */
  private def qClassTfidf = Q(
    (s, dir) => TextAnalysis.classTfidf(t(s, dir, "documents"), "source", "text", 10)
      .orderBy("class", "rank"),
    Some("""WITH tok AS (
           |  SELECT source AS class, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0)) AS term
           |  FROM documents),
           | tf AS (SELECT class, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
           | cdf AS (SELECT term, CAST(count(*) AS BIGINT) AS class_df FROM tf GROUP BY 1),
           | s AS (SELECT class, term, tf, class_df,
           |   CAST(tf AS DOUBLE) / CAST(class_df AS DOUBLE) AS score,
           |   row_number() OVER (PARTITION BY class
           |     ORDER BY CAST(tf AS DOUBLE) / CAST(class_df AS DOUBLE) DESC, term DESC) AS rank
           |  FROM tf JOIN cdf USING (term))
           | SELECT class, term, tf, class_df, score, CAST(rank AS BIGINT) AS rank
           | FROM s WHERE rank <= 10 ORDER BY class, rank""".stripMargin.replaceAll("\n", " ")))

  /** Corpus vocabulary / Zipf-tail statistics
    * ([[graft.pipeline.TextAnalysis.vocabStats]]): vocabulary size,
    * total tokens, hapax count and fraction — all integers plus one
    * division. */
  private def qCorpusVocab = Q(
    (s, dir) => TextAnalysis.vocabStats(t(s, dir, "documents"), "text"),
    Some("""SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           | CAST(sum(cnt) AS BIGINT) AS total_tokens,
           | CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
           | CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS hapax_frac
           | FROM (SELECT term, count(*) AS cnt FROM (
           |   SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0)) AS term
           |   FROM documents) GROUP BY term)""".stripMargin.replaceAll("\n", " ")))

  /** BagOfWords doc-length + term-length distributions (reference
    * `experimental/extras/nlp_metric.py:199-431`): tokens per document
    * and characters per term, profiled by the distribution metric whose
    * min/max are exact. */
  private def qBowDocStats = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val trimmed = F.trim(F.col("text"))
      val docTokens = F.when(F.length(trimmed) === 0, 0)
        .otherwise(F.size(F.split(trimmed, "\\s+")))
      val docAgg = docs.agg(
        F.count(F.lit(1)).as("n_docs"),
        distribution_agg(docTokens).getField("min").as("tok_min"),
        distribution_agg(docTokens).getField("max").as("tok_max"))
      val terms = docs.select(F.explode(F.split(trimmed, "\\s+")).as("term"))
        .filter(F.length(F.col("term")) > 0)
      val termAgg = terms.agg(
        F.count(F.lit(1)).as("n_terms"),
        distribution_agg(F.length(F.col("term"))).getField("min").as("termlen_min"),
        distribution_agg(F.length(F.col("term"))).getField("max").as("termlen_max"))
      docAgg.crossJoin(termAgg)
    },
    Some("""SELECT
           | (SELECT count(*) FROM documents) AS n_docs,
           | (SELECT CAST(min(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END) AS DOUBLE) FROM documents) AS tok_min,
           | (SELECT CAST(max(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END) AS DOUBLE) FROM documents) AS tok_max,
           | (SELECT count(*) FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents) WHERE length(t) > 0) AS n_terms,
           | (SELECT CAST(min(length(t)) AS DOUBLE) FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents) WHERE length(t) > 0) AS termlen_min,
           | (SELECT CAST(max(length(t)) AS DOUBLE) FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents) WHERE length(t) > 0) AS termlen_max""".stripMargin.replaceAll("\n", " ")))

  /** Image-stats profiling over the decode stage (reference ImageMetric
    * profiles decoded image features with standard metrics; the decoder
    * here is the documented deterministic fake — the profiling plumbing
    * is what's exercised and oracle-checked). */
  private def qMultimodalProfile = Q(
    (s, dir) => {
      val bin = t(s, dir, "documents")
        .select(F.col("doc_id"), F.encode(F.col("text"), "UTF-8").as("content"))
      val meta = Multimodal.decodeMetadata(bin, "content")
      meta.agg(
        F.count(F.lit(1)).as("n"),
        distribution_agg(F.col("width")).getField("min").as("width_min"),
        distribution_agg(F.col("width")).getField("max").as("width_max"),
        distribution_agg(F.col("height")).getField("min").as("height_min"),
        distribution_agg(F.col("height")).getField("max").as("height_max"))
    },
    Some("""SELECT count(*) AS n,
           | CAST(min(64 + octet_length(encode(text)) % 512) AS DOUBLE) AS width_min,
           | CAST(max(64 + octet_length(encode(text)) % 512) AS DOUBLE) AS width_max,
           | CAST(min(64 + (octet_length(encode(text)) // 7) % 512) AS DOUBLE) AS height_min,
           | CAST(max(64 + (octet_length(encode(text)) // 7) % 512) AS DOUBLE) AS height_max
           | FROM documents""".stripMargin.replaceAll("\n", " ")))

  /** REAL image decode (no fake): a synthetic 24-bpp BMP per doc goes
    * through [[Multimodal.Bmp]]'s streaming decoder — header parse, row
    * padding, bottom-up layout, per-pixel integer HSV, exact-integer-sum
    * mean/stddev. The oracle recomputes every statistic analytically from
    * the fixture's closed-form pixel values; equality is exact because
    * both sides derive each double from the same integer sums with one
    * correctly-rounded divide/sqrt. Entropy is excluded here (libm log is
    * not bit-portable across engines) and is spec-tested instead. */
  /** REAL WAV decode ([[graft.pipeline.Audio.Wav]]): a synthetic 16-bit
    * PCM WAV per doc (closed-form samples, silent lead-in/out, periodic
    * full-scale spikes) goes through the RIFF chunk walker and the
    * one-pass exact stats — peak / Σs² / zero crossings / clipped /
    * silence bounds are all integers the oracle re-derives analytically;
    * `rms` is the one double, two correctly-rounded IEEE ops over exact
    * integers on both engines. */
  private def qAudioStats = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(F.col("doc_id"), F.lit(0).as("shift"))
      Audio.withAudioStats(Audio.syntheticWav(docs, "doc_id", "shift"), "wav")
        .select(F.col("doc_id"), F.col("audio.n_frames"), F.col("audio.channels"),
          F.col("audio.sample_rate"), F.col("audio.duration_ms"),
          F.col("audio.peak"), F.col("audio.sum_sq"), F.col("audio.rms"),
          F.col("audio.zero_crossings"), F.col("audio.clipped"),
          F.col("audio.lead_silence"), F.col("audio.trail_silence"))
        .orderBy("doc_id")
    },
    Some("""WITH p AS (SELECT doc_id, 300 + doc_id % 211 AS nf, 1 + doc_id % 2 AS nch,
           |    8000 * (1 + doc_id % 3) AS sr, doc_id % 37 AS lead0, doc_id % 23 AS trail0
           |  FROM documents),
           | smp AS (SELECT doc_id, u.i AS i, u.ch AS ch,
           |    CASE WHEN u.i < lead0 OR u.i >= nf - trail0 THEN 0
           |         WHEN (doc_id + u.i) % 97 = 0 THEN 32767
           |         ELSE (doc_id * 131 + u.i * 773 + u.ch * 409) % 4001 - 2000 END AS s
           |   FROM (SELECT doc_id, nf, lead0, trail0,
           |       unnest(flatten([[{'i': i, 'ch': ch} for ch in range(0, nch)] for i in range(0, nf)])) AS u
           |     FROM p)),
           | agg AS (SELECT doc_id, max(abs(s)) AS peak, sum(s * s) AS sum_sq,
           |     sum(CASE WHEN s = 32767 OR s = -32768 THEN 1 ELSE 0 END) AS clipped
           |   FROM smp GROUP BY 1),
           | zc AS (SELECT doc_id,
           |     sum(CASE WHEN prev IS NOT NULL AND ((s >= 0) <> (prev >= 0)) THEN 1 ELSE 0 END) AS zc
           |   FROM (SELECT doc_id, s,
           |       lag(s) OVER (PARTITION BY doc_id, ch ORDER BY i) AS prev FROM smp)
           |   GROUP BY 1),
           | loud AS (SELECT doc_id, min(i) FILTER (WHERE fm >= 256) AS fl,
           |     max(i) FILTER (WHERE fm >= 256) AS ll
           |   FROM (SELECT doc_id, i, max(abs(s)) AS fm FROM smp GROUP BY doc_id, i)
           |   GROUP BY 1)
           | SELECT p.doc_id, CAST(p.nf AS BIGINT) AS n_frames, CAST(p.nch AS INT) AS channels,
           |  CAST(p.sr AS INT) AS sample_rate, CAST(p.nf * 1000 // p.sr AS BIGINT) AS duration_ms,
           |  CAST(a.peak AS INT) AS peak, CAST(a.sum_sq AS BIGINT) AS sum_sq,
           |  sqrt(a.sum_sq / (p.nf * p.nch)) AS rms,
           |  CAST(z.zc AS BIGINT) AS zero_crossings, CAST(a.clipped AS BIGINT) AS clipped,
           |  CAST(coalesce(l.fl, p.nf) AS BIGINT) AS lead_silence,
           |  CAST(coalesce(p.nf - 1 - l.ll, p.nf) AS BIGINT) AS trail_silence
           | FROM p JOIN agg a USING (doc_id) JOIN zc z USING (doc_id)
           | LEFT JOIN loud l USING (doc_id)
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** REAL video container decode ([[graft.pipeline.Video.Avi]]): a
    * synthetic uncompressed AVI per doc goes through the RIFF walker —
    * avih geometry/timing, strl skip, movi frame enumeration. The
    * oracle restates the closed-form header fields (duration =
    * frames·usPerFrame/1000, integer division). */
  private def qVideoMeta = Q(
    (s, dir) => Video.withVideoMeta(
        Video.syntheticAvi(
          t(s, dir, "documents").select(F.col("doc_id")), "doc_id"), "avi")
      .select(F.col("doc_id"), F.col("video.width"), F.col("video.height"),
        F.col("video.n_frames"), F.col("video.us_per_frame"),
        F.col("video.duration_ms"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS width,
           | CAST(8 + doc_id % 7 AS INT) AS height,
           | CAST(3 + doc_id % 4 AS INT) AS n_frames,
           | CAST(33333 AS INT) AS us_per_frame,
           | CAST((3 + doc_id % 4) * 33333 // 1000 AS BIGINT) AS duration_ms
           | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Per-FRAME perceptual hashing ([[graft.pipeline.Video.Avi
    * .frameDHashes]] over real DIB frame decode): one row per (video,
    * frame) with the frame's [[graft.pipeline.Multimodal.DHash]]; the
    * oracle re-derives every frame hash analytically from the
    * closed-form pixels (frame term in every channel). The scene-dedup
    * path feeds these into `hashNearDups`. */
  private val videoDhashCte: String =
    """WITH dims AS (SELECT doc_id AS base, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
           |   3 + doc_id % 4 AS nf FROM documents),
           | fr AS (SELECT base, w, h, unnest(range(0, nf)) AS f FROM dims),
           | px AS (SELECT base, f, w, h, u.x AS x, u.y AS y,
           |     299 * ((base * 7 + u.x * 13 + u.y * 31 + f * 19) % 256)
           |   + 587 * ((base * 11 + u.x * 3 + u.y * 5 + f * 19) % 256)
           |   + 114 * ((base * 5 + u.x * 17 + u.y * 23 + f * 19) % 256) AS q
           |   FROM (SELECT base, f, w, h,
           |       unnest(flatten([[{'x': x, 'y': y} for y in range(0, h)] for x in range(0, w)])) AS u
           |     FROM fr)),
           | cell AS (SELECT base, f, (x * 9) // w AS ci, (y * 8) // h AS cj, sum(q) AS s, count(*) AS n
           |   FROM px GROUP BY 1, 2, 3, 4),
           | grid AS (SELECT g.base, g.f, g.i, g.j, coalesce(c.s, 0) AS s, coalesce(c.n, 0) AS n
           |   FROM (SELECT base, f, gi.i, gj.j FROM fr,
           |       (SELECT unnest(range(0, 9)) AS i) gi, (SELECT unnest(range(0, 8)) AS j) gj) g
           |   LEFT JOIN cell c ON c.base = g.base AND c.f = g.f AND c.ci = g.i AND c.cj = g.j),
           | bits AS (SELECT a.base, a.f,
           |     CASE WHEN b.s * a.n > a.s * b.n THEN (1::HUGEINT << (a.j * 8 + a.i)) ELSE 0::HUGEINT END AS bit
           |   FROM grid a JOIN grid b ON b.base = a.base AND b.f = a.f AND b.j = a.j AND b.i = a.i + 1
           |   WHERE a.i < 8),
      | dh AS (SELECT base, f, (CASE WHEN sum(bit) >= 9223372036854775808::HUGEINT
      |     THEN sum(bit) - 18446744073709551616::HUGEINT ELSE sum(bit) END)::BIGINT AS dhash
      |   FROM bits GROUP BY 1, 2)""".stripMargin.replaceAll("\n", " ")

  private def qVideoFrameDhash = Q(
    (s, dir) => Video.withFrameDHashes(
        Video.syntheticAvi(
          t(s, dir, "documents").select(F.col("doc_id")), "doc_id"), "avi")
      .select(F.col("doc_id"),
        F.posexplode(F.col("frame_dhashes")).as(Seq("frame", "dhash")))
      .orderBy("doc_id", "frame"),
    Some(videoDhashCte +
      """ SELECT base AS doc_id, CAST(f AS INT) AS frame, dhash FROM dh
        | ORDER BY doc_id, frame""".stripMargin.replaceAll("\n", " ")))

  /** Scene-level video dedup: every (video, frame) becomes one
    * signature entity (id = doc·100 + frame; frame counts stay far
    * below 100) and [[graft.pipeline.Dedup.hashNearDups]] finds
    * frame pairs within `maxHamming` ACROSS the whole corpus — the
    * shared-scene detector. 8-bit bands keep the banded join
    * pigeonhole-EXHAUSTIVE at maxHamming 7 while staying selective
    * (4-bit bands measured 220 s at sf0.1's 22k frames — n²/16 per
    * band); the brute-force all-pairs Hamming oracle replays it
    * exactly. */
  private def qDedupVideoScenes = Q(
    (s, dir) => {
      val frames = Video.withFrameDHashes(
        Video.syntheticAvi(
          t(s, dir, "documents").select(F.col("doc_id")), "doc_id"), "avi")
        .select(F.col("doc_id"),
          F.posexplode(F.col("frame_dhashes")).as(Seq("frame", "dhash")))
        .select((F.col("doc_id") * 100 + F.col("frame")).as("fid"), F.col("dhash"))
      Dedup.hashNearDups(frames, "fid", "dhash", maxHamming = 7, bands = 8)
        .orderBy("a", "b")
    },
    Some(videoDhashCte +
      """ SELECT a.base * 100 + a.f AS a, b.base * 100 + b.f AS b,
        | CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
        | FROM dh a JOIN dh b ON a.base * 100 + a.f < b.base * 100 + b.f
        | WHERE bit_count(xor(a.dhash, b.dhash)) <= 7
        | ORDER BY a, b""".stripMargin.replaceAll("\n", " ")))

  /** RIFF LIST/INFO metadata extraction
    * ([[graft.pipeline.Audio.Wav.info]], the audio EXIF analog): tags
    * round-trip through a real RIFF encode (NUL-terminated, even-padded
    * sub-chunks spliced between fmt and data) and the chunk-walking
    * parse; the oracle restates the closed-form tag values. */
  private def qAudioMeta = Q(
    (s, dir) => Audio.withAudioInfo(
        Audio.syntheticWavTagged(
          t(s, dir, "documents").select(F.col("doc_id")), "doc_id"), "wav",
        Seq("INAM", "IART", "ICRD"))
      .select(F.col("doc_id"), F.col("inam").as("title"),
        F.col("iart").as("artist"), F.col("icrd").as("created"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, 'track ' || CAST(doc_id AS VARCHAR) AS title,
           | 'artist ' || CAST(doc_id % 7 AS VARCHAR) AS artist,
           | CAST(2000 + doc_id % 25 AS VARCHAR) AS created
           | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Two synthetic WAVs per document — the original and a variant whose
    * every-50th-frame samples are nudged by +17 (a NEAR-duplicate:
    * most window-energy comparisons survive, so variant fingerprints
    * sit a few Hamming bits apart while unrelated audio sits ~32). */
  private val audioFpCte: String =
    """WITH ids AS (
      |  SELECT doc_id * 2 AS aud_id, doc_id AS base, 0 AS shift FROM documents
      |  UNION ALL
      |  SELECT doc_id * 2 + 1, doc_id, 1 FROM documents),
      | p AS (SELECT aud_id, base, shift, 300 + base % 211 AS nf, 1 + base % 2 AS nch,
      |   base % 37 AS lead0, base % 23 AS trail0 FROM ids),
      | smp AS (SELECT aud_id, nf, u.i AS i,
      |    CASE WHEN u.i < lead0 OR u.i >= nf - trail0 THEN 0
      |         WHEN (base + u.i) % 97 = 0 THEN 32767
      |         ELSE (base * 131 + u.i * 773 + u.ch * 409 +
      |               CASE WHEN u.i % 50 = 0 THEN shift * 17 ELSE 0 END) % 4001 - 2000 END AS s
      |   FROM (SELECT aud_id, base, shift, nf, lead0, trail0,
      |       unnest(flatten([[{'i': i, 'ch': ch} for ch in range(0, nch)] for i in range(0, nf)])) AS u
      |     FROM p)),
      | win AS (SELECT aud_id, (i * 65) // nf AS w, sum(abs(s)) AS e FROM smp GROUP BY 1, 2),
      | bits AS (SELECT a.aud_id,
      |     CASE WHEN b.e > a.e THEN (1::HUGEINT << a.w) ELSE 0::HUGEINT END AS bit
      |   FROM win a JOIN win b ON b.aud_id = a.aud_id AND b.w = a.w + 1 WHERE a.w < 64),
      | fp AS (SELECT aud_id, (CASE WHEN sum(bit) >= 9223372036854775808::HUGEINT
      |     THEN sum(bit) - 18446744073709551616::HUGEINT ELSE sum(bit) END)::BIGINT AS afp
      |   FROM bits GROUP BY 1)""".stripMargin.replaceAll("\n", " ")

  private def audioVariantFixture(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(F.col("doc_id"))
    docs.select((F.col("doc_id") * 2).as("aud_id"),
        F.col("doc_id").as("base"), F.lit(0).as("shift"))
      .unionByName(docs.select((F.col("doc_id") * 2 + 1).as("aud_id"),
        F.col("doc_id").as("base"), F.lit(1).as("shift")))
  }

  /** Audio fingerprinting ([[graft.pipeline.Audio.Wav.fingerprint]]):
    * 65-window energy dHash over the real PCM decode; the oracle
    * re-derives every fingerprint from the closed-form samples
    * (window energies in exact integers, HUGEINT bit sum, signed
    * 64-bit wrap). Every window is non-empty because the fixture's
    * nFrames >= 300 >= 65. */
  private def qAudioFingerprint = Q(
    (s, dir) => Audio.withFingerprint(
        Audio.syntheticWav(audioVariantFixture(s, dir), "base", "shift"), "wav")
      .select("aud_id", "afp").orderBy("aud_id"),
    Some(audioFpCte + " SELECT aud_id, afp FROM fp ORDER BY aud_id"))

  /** Near-duplicate AUDIO detection ([[graft.pipeline.Dedup.hashNearDups]]
    * over [[graft.pipeline.Audio.Wav.fingerprint]]): the same banded
    * Hamming join as `dedup_images`, pigeonhole-exhaustive at
    * `maxHamming < bands`, checked against the brute-force all-pairs
    * Hamming join over analytically derived fingerprints. */
  private def qDedupAudio = Q(
    (s, dir) => {
      val hashed = Audio.withFingerprint(
        Audio.syntheticWav(audioVariantFixture(s, dir), "base", "shift"), "wav")
        .select("aud_id", "afp")
      Dedup.hashNearDups(hashed, "aud_id", "afp", maxHamming = 7, bands = 8)
        .orderBy("a", "b")
    },
    Some(audioFpCte +
      """ SELECT a.aud_id AS a, b.aud_id AS b,
        | CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
        | FROM fp a JOIN fp b ON a.aud_id < b.aud_id
        | WHERE bit_count(xor(a.afp, b.afp)) <= 7
        | ORDER BY a, b""".stripMargin.replaceAll("\n", " ")))

  /** Two synthetic BMPs per document — the original closed-form pixel
    * pattern and a +1-red-channel NEAR-DUPLICATE variant (a uniform
    * luminance shift cancels exactly in dHash's mean comparisons
    * except where the channel wraps mod 256, so variant pairs sit a
    * few Hamming bits apart while unrelated images sit ~32 apart). */
  private def imageVariantFixture(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(F.col("doc_id"))
    docs.select((F.col("doc_id") * 2).as("img_id"),
        F.col("doc_id").as("base"), F.lit(0).as("shift"))
      .unionByName(docs.select((F.col("doc_id") * 2 + 1).as("img_id"),
        F.col("doc_id").as("base"), F.lit(1).as("shift")))
  }

  /** Analytic replay of [[graft.pipeline.Multimodal.DHash]] over the
    * [[imageVariantFixture]]: pixels from the closed-form formulas,
    * 9×8 luminance cells, cross-multiplied mean comparisons, bits
    * summed in HUGEINT then wrapped to the signed 64-bit value. */
  private val imageDhashCte: String =
    """WITH ids AS (
      |  SELECT doc_id * 2 AS img_id, doc_id AS base, 0 AS shift FROM documents
      |  UNION ALL
      |  SELECT doc_id * 2 + 1, doc_id, 1 FROM documents),
      | dims AS (SELECT img_id, base, shift, 8 + base % 9 AS w, 8 + base % 7 AS h FROM ids),
      | px AS (SELECT img_id, w, h, u.x AS x, u.y AS y,
      |     299 * ((base * 7 + u.x * 13 + u.y * 31 + shift) % 256)
      |   + 587 * ((base * 11 + u.x * 3 + u.y * 5) % 256)
      |   + 114 * ((base * 5 + u.x * 17 + u.y * 23) % 256) AS q
      |   FROM (SELECT img_id, base, shift, w, h,
      |       unnest(flatten([[{'x': x, 'y': y} for y in range(0, h)] for x in range(0, w)])) AS u
      |     FROM dims)),
      | cell AS (SELECT img_id, (x * 9) // w AS ci, (y * 8) // h AS cj, sum(q) AS s, count(*) AS n
      |   FROM px GROUP BY 1, 2, 3),
      | grid AS (SELECT g.img_id, g.i, g.j, coalesce(c.s, 0) AS s, coalesce(c.n, 0) AS n
      |   FROM (SELECT img_id, gi.i, gj.j FROM dims,
      |       (SELECT unnest(range(0, 9)) AS i) gi, (SELECT unnest(range(0, 8)) AS j) gj) g
      |   LEFT JOIN cell c ON c.img_id = g.img_id AND c.ci = g.i AND c.cj = g.j),
      | bits AS (SELECT a.img_id,
      |     CASE WHEN b.s * a.n > a.s * b.n THEN (1::HUGEINT << (a.j * 8 + a.i)) ELSE 0::HUGEINT END AS bit
      |   FROM grid a JOIN grid b ON b.img_id = a.img_id AND b.j = a.j AND b.i = a.i + 1
      |   WHERE a.i < 8),
      | dh AS (SELECT img_id, (CASE WHEN sum(bit) >= 9223372036854775808::HUGEINT
      |     THEN sum(bit) - 18446744073709551616::HUGEINT ELSE sum(bit) END)::BIGINT AS dhash
      |   FROM bits GROUP BY 1)""".stripMargin.replaceAll("\n", " ")

  /** Perceptual image hashing
    * ([[graft.pipeline.Multimodal.DHash]]): the REAL per-partition BMP
    * decode computes each image's 64-bit difference hash; the oracle
    * re-derives every hash analytically from the fixture's closed-form
    * pixels — integer-only luminance, integer cell assignment and
    * cross-multiplied comparisons make the hash engine-exact. */
  private def qImageDhash = Q(
    (s, dir) => Multimodal.withDHash(
        Multimodal.syntheticBmpShifted(
          imageVariantFixture(s, dir), "base", "shift"), "img")
      .select("img_id", "dhash").orderBy("img_id"),
    Some(imageDhashCte + " SELECT img_id, dhash FROM dh ORDER BY img_id"))

  /** Near-duplicate IMAGE detection
    * ([[graft.pipeline.Dedup.hashNearDups]] over
    * [[graft.pipeline.Multimodal.DHash]]): banded Hamming join — 8
    * bands of 8 bits, candidates share a band, exact
    * `bit_count(xor) <= 7` verify. With `maxHamming < bands` the
    * pigeonhole guarantee makes the banded join EXHAUSTIVE, so the
    * oracle can check it against the brute-force all-pairs Hamming
    * join over the analytically derived hashes. */
  private def qDedupImages = Q(
    (s, dir) => {
      val hashed = Multimodal.withDHash(
        Multimodal.syntheticBmpShifted(
          imageVariantFixture(s, dir), "base", "shift"), "img")
        .select("img_id", "dhash")
      Dedup.hashNearDups(hashed, "img_id", "dhash", maxHamming = 7, bands = 8)
        .orderBy("a", "b")
    },
    Some(imageDhashCte +
      """ SELECT a.img_id AS a, b.img_id AS b,
        | CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
        | FROM dh a JOIN dh b ON a.img_id < b.img_id
        | WHERE bit_count(xor(a.dhash, b.dhash)) <= 7
        | ORDER BY a, b""".stripMargin.replaceAll("\n", " ")))

  /** Near-duplicate image detection at INGESTION
    * ([[graft.pipeline.Dedup.hashNearDupsAgainstIndex]]): arriving docs
    * become the +1-red VARIANT images, dHash-ed in-stream
    * (mapPartitions on the streaming Dataset) and band-joined
    * stream-static against the stored dHash index of the base images —
    * stateless but for the per-batch pair dedup. Pigeonhole-exhaustive
    * at maxHamming 7 < 8 bands, so the oracle is the brute-force
    * variant-vs-base Hamming join over analytic hashes. */
  private def qStreamingDedupImages = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Checkpoint.scoped(Multimodal.withDHash(
        Multimodal.syntheticBmpShifted(
          docs.select((F.col("doc_id") * 2).as("img_id"),
            F.col("doc_id").as("base"), F.lit(0).as("shift")),
          "base", "shift"), "img")
        .select("img_id", "dhash")) { index =>
        val sdf = st(s, dir, "documents")
          .select((F.col("doc_id") * 2 + 1).as("img_id"),
            F.col("doc_id").as("base"), F.lit(1).as("shift"))
        val probe = Multimodal.withDHash(
          Multimodal.syntheticBmpShifted(sdf, "base", "shift"), "img")
          .select("img_id", "dhash")
        Streams.toMemory(Dedup.hashNearDupsAgainstIndex(probe, "img_id", "dhash",
            index, "img_id", "dhash", maxHamming = 7, bands = 8))
          .orderBy("a", "b")
      }
    },
    Some(imageDhashCte +
      """ SELECT p.img_id AS a, i.img_id AS b,
        | CAST(bit_count(xor(p.dhash, i.dhash)) AS INT) AS hamming
        | FROM dh p JOIN dh i ON p.img_id % 2 = 1 AND i.img_id % 2 = 0
        | WHERE bit_count(xor(p.dhash, i.dhash)) <= 7
        | ORDER BY a, b""".stripMargin.replaceAll("\n", " ")))

  /** Image RESIZE ([[graft.pipeline.Multimodal.resizeBmp24]]): every
    * synthetic BMP is nearest-neighbor resized to 32×32 (pure-integer
    * source mapping, dest (x,y) ← source (x·w/32, y·h/32)) and the
    * RESIZED image dHash-ed — the oracle replays resize + hash
    * analytically, so one hash mismatch catches any off-by-one in the
    * coordinate mapping, row padding, or orientation handling. */
  private def qImageResizeDhash = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(F.col("doc_id"), F.lit(0).as("shift"))
      Multimodal.withDHash(
          Multimodal.withResizedBmp(
            Multimodal.syntheticBmpShifted(docs, "doc_id", "shift"), "img", 32, 32),
          "img_resized")
        .select("doc_id", "dhash").orderBy("doc_id")
    },
    Some("""WITH dims AS (SELECT doc_id AS base, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents),
           | px AS (SELECT base, u.x AS x, u.y AS y,
           |     299 * ((base * 7 + ((u.x * w) // 32) * 13 + ((u.y * h) // 32) * 31) % 256)
           |   + 587 * ((base * 11 + ((u.x * w) // 32) * 3 + ((u.y * h) // 32) * 5) % 256)
           |   + 114 * ((base * 5 + ((u.x * w) // 32) * 17 + ((u.y * h) // 32) * 23) % 256) AS q
           |   FROM (SELECT base, w, h,
           |       unnest(flatten([[{'x': x, 'y': y} for y in range(0, 32)] for x in range(0, 32)])) AS u
           |     FROM dims)),
           | cell AS (SELECT base, (x * 9) // 32 AS ci, (y * 8) // 32 AS cj, sum(q) AS s, count(*) AS n
           |   FROM px GROUP BY 1, 2, 3),
           | bits AS (SELECT a.base,
           |     CASE WHEN b.s * a.n > a.s * b.n THEN (1::HUGEINT << (a.cj * 8 + a.ci)) ELSE 0::HUGEINT END AS bit
           |   FROM cell a JOIN cell b ON b.base = a.base AND b.cj = a.cj AND b.ci = a.ci + 1
           |   WHERE a.ci < 8),
           | dh AS (SELECT base, (CASE WHEN sum(bit) >= 9223372036854775808::HUGEINT
           |     THEN sum(bit) - 18446744073709551616::HUGEINT ELSE sum(bit) END)::BIGINT AS dhash
           |   FROM bits GROUP BY 1)
           | SELECT base AS doc_id, dhash FROM dh ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  private def qImageStats = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val bmp = Multimodal.syntheticBmp(docs, "doc_id")
      Multimodal.withImageStats(bmp, "img")
        .select("doc_id", "width", "height", "colorspace", "hue_mean",
          "hue_std", "sat_mean", "sat_std", "bright_mean", "bright_std")
        .orderBy("doc_id")
    },
    Some(imageStatsOracle))

  /** Same per-image statistics through the `javax.imageio` PNG codec
    * ([[Multimodal.ImageIo]]) instead of the pure-JVM BMP path: PNG is
    * lossless, so the decoded pixels — and therefore every statistic —
    * must be bit-identical to the closed-form oracle. Covers the real
    * ImageMetric decode surface (reference
    * `extras/image_metric.py:160-313` profiles arbitrary PIL images). */
  private def qImageStatsPng = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      val png = Multimodal.syntheticImage(docs, "doc_id", format = "png")
      Multimodal.withImageStats(png, "img")
        .select("doc_id", "width", "height", "colorspace", "hue_mean",
          "hue_std", "sat_mean", "sat_std", "bright_mean", "bright_std")
        .orderBy("doc_id")
    },
    Some(imageStatsOracle))

  private val imageStatsOracle =
    ("""WITH px AS (
           |  SELECT d.doc_id, 8 + d.doc_id % 9 AS w, 8 + d.doc_id % 7 AS ht,
           |    (d.doc_id*7 + x.k*13 + y.k*31) % 256 AS r,
           |    (d.doc_id*11 + x.k*3 + y.k*5) % 256 AS g,
           |    (d.doc_id*5 + x.k*17 + y.k*23) % 256 AS b
           |  FROM documents d, range(0, 16) x(k), range(0, 14) y(k)
           |  WHERE x.k < 8 + d.doc_id % 9 AND y.k < 8 + d.doc_id % 7),
           | hsv AS (
           |  SELECT doc_id, w, ht, greatest(r, g, b) AS v,
           |   CASE WHEN greatest(r, g, b) = 0 THEN 0
           |        ELSE 255 * (greatest(r, g, b) - least(r, g, b)) // greatest(r, g, b) END AS s,
           |   CASE WHEN greatest(r, g, b) = least(r, g, b) THEN 0
           |        WHEN greatest(r, g, b) = r AND g >= b THEN ((g - b) * 255 // (greatest(r, g, b) - least(r, g, b))) // 6
           |        WHEN greatest(r, g, b) = r THEN (1530 - (b - g) * 255 // (greatest(r, g, b) - least(r, g, b))) // 6
           |        WHEN greatest(r, g, b) = g AND b >= r THEN (510 + (b - r) * 255 // (greatest(r, g, b) - least(r, g, b))) // 6
           |        WHEN greatest(r, g, b) = g THEN (510 - (r - b) * 255 // (greatest(r, g, b) - least(r, g, b))) // 6
           |        WHEN r >= g THEN (1020 + (r - g) * 255 // (greatest(r, g, b) - least(r, g, b))) // 6
           |        ELSE (1020 - (g - r) * 255 // (greatest(r, g, b) - least(r, g, b))) // 6 END AS hc
           |  FROM px)
           | SELECT doc_id, CAST(any_value(w) AS INT) AS width, CAST(any_value(ht) AS INT) AS height,
           |  'RGB' AS colorspace,
           |  CAST(sum(hc) AS DOUBLE) / count(*) AS hue_mean,
           |  sqrt(CAST(count(*) * sum(hc*hc) - sum(hc)*sum(hc) AS DOUBLE)) / count(*) AS hue_std,
           |  CAST(sum(s) AS DOUBLE) / count(*) AS sat_mean,
           |  sqrt(CAST(count(*) * sum(s*s) - sum(s)*sum(s) AS DOUBLE)) / count(*) AS sat_std,
           |  CAST(sum(v) AS DOUBLE) / count(*) AS bright_mean,
           |  sqrt(CAST(count(*) * sum(v*v) - sum(v)*sum(v) AS DOUBLE)) / count(*) AS bright_std
           | FROM hsv GROUP BY doc_id ORDER BY doc_id""").stripMargin.replaceAll("\n", " ")

  /** REAL EXIF extraction (reference `image_metric.py:82-103`): a
    * synthetic TIFF per doc — alternating endianness by id parity — goes
    * through [[Exif.parse]]'s IFD walk; the oracle recomputes every tag
    * string analytically from doc_id. Values are strings built by integer
    * arithmetic, so equality is exact. */
  private def qImageExif = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id")
      Exif.withExifMetadata(Exif.syntheticTiff(docs, "doc_id"), "img")
        .select(F.col("doc_id"),
          F.element_at(F.col("exif"), "Make").as("make"),
          F.element_at(F.col("exif"), "Model").as("model"),
          F.element_at(F.col("exif"), "Orientation").as("orientation"),
          F.element_at(F.col("exif"), "XResolution").as("x_resolution"),
          F.element_at(F.col("exif"), "DateTime").as("datetime"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           | 'graft-' || CAST(doc_id % 5 AS VARCHAR) AS make,
           | 'mx' || CAST(doc_id % 3 AS VARCHAR) AS model,
           | CAST(1 + doc_id % 8 AS VARCHAR) AS orientation,
           | CAST(72 + doc_id % 100 AS VARCHAR) || '/1' AS x_resolution,
           | '2024:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || ' 00:00:00' AS datetime
           | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  // ------------------------------------------------------------------
  // §2.B dataset operators
  // ------------------------------------------------------------------

  private def qSegmentedProfile = Q(
    (s, dir) => {
      val res = new Profiler().profileSegmentedDF(
        t(s, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"))
      res.select(
        F.col("segment_l_returnflag").as("seg_returnflag"),
        F.col("segment_l_linestatus").as("seg_linestatus"),
        F.col("l_quantity.counts.n").as("n"),
        F.col("l_quantity.distribution.min").as("qty_min"),
        F.col("l_quantity.distribution.max").as("qty_max"),
        F.col("l_extendedprice.counts.nulls").as("price_nulls"))
        .orderBy("seg_returnflag", "seg_linestatus")
    },
    Some("""SELECT CAST(l_returnflag AS VARCHAR) AS seg_returnflag,
           | CAST(l_linestatus AS VARCHAR) AS seg_linestatus,
           | count(*) AS n, min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
           | count(*) FILTER (WHERE l_extendedprice IS NULL) AS price_nulls
           | FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " ")))

  /** Segment filter (reference SegmentFilter): pre-filter pushed into the
    * same scan as the segmented aggregation. */
  private def qSegmentedFilteredProfile = Q(
    (s, dir) => {
      val res = new Profiler().profileSegmentedDF(
        t(s, dir, "lineitem"), Seq("l_returnflag"),
        filter = Some(F.col("l_quantity") >= 25))
      res.select(
        F.col("segment_l_returnflag").as("seg_returnflag"),
        F.col("l_quantity.counts.n").as("n"),
        F.col("l_extendedprice.distribution.min").as("price_min"),
        F.col("l_extendedprice.distribution.max").as("price_max"))
        .orderBy("seg_returnflag")
    },
    Some("""SELECT CAST(l_returnflag AS VARCHAR) AS seg_returnflag, count(*) AS n,
           | min(l_extendedprice) AS price_min, max(l_extendedprice) AS price_max
           | FROM lineitem WHERE l_quantity >= 25 GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** Profile-merge demo: two half-profiles merged driver-side must agree
    * with whole-table SQL on every exact field. */
  private def qMergeProfiles = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem").withColumn("__part", F.col("l_orderkey") % 2)
      // one segmented scan produces both independently-aggregated partial
      // profiles; the monoid merge under test happens driver-side
      val parts = new Profiler()
        .profileSegmented(li.select((F.col("__part") +: liNumeric.map(F.col)): _*), Seq("__part"))
      val merged = parts.values.reduce(_ merge _)
      liNumericFields(s, merged)
    },
    Some(liNumericFieldsOracle))

  private def qFullProfileSummary = Q(
    (s, dir) => new Profiler().summaryDF(t(s, dir, "lineitem")),
    None)

  /** Summary generation, hash-checked on its exact subset: the long-format
    * summary DF filtered to counts/types/ints — every value is an exact
    * integer, so DuckDB can recompute the full (column, metric, value)
    * table. (Sketch-derived summary entries stay covered by
    * `full_profile_summary` rows-only + the per-metric exact queries.) */
  private def qProfileSummaryExact = Q(
    (s, dir) => {
      val cols = liNumeric ++ Seq("l_returnflag", "l_linestatus")
      val li = t(s, dir, "lineitem").select(cols.map(F.col): _*)
      new Profiler().summaryDF(li)
        // distribution n/min/max are exact pass-throughs (count + tracked
        // extremes, no float accumulation) — only mean/stddev/quantiles
        // are summation-order- or sketch-dependent and stay rows-only
        .filter(F.col("metric").rlike("^(counts/|types/|ints/|distribution/(n|min|max)$)"))
        .select(F.col("column").as("col_name"), F.col("metric"), F.col("value"))
        .orderBy("col_name", "metric")
    },
    Some {
      val intCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      val dblCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val strCols = Seq("l_returnflag", "l_linestatus")
      def row(c: String, m: String, expr: String) =
        s"SELECT '$c' AS col_name, '$m' AS metric, CAST($expr AS DOUBLE) AS value FROM lineitem"
      val zero = "count(*) FILTER (WHERE FALSE)"
      val rows = (intCols ++ dblCols ++ strCols).flatMap { c =>
        val isDbl = dblCols.contains(c)
        val isInt = intCols.contains(c)
        val isStr = strCols.contains(c)
        Seq(
          row(c, "counts/n", "count(*)"),
          row(c, "counts/null", s"count(*) FILTER (WHERE $c IS NULL)"),
          // constant-zero metrics still need an aggregate so each SELECT
          // yields exactly one row
          row(c, "counts/nan", if (isDbl) s"count(*) FILTER (WHERE isnan($c))" else zero),
          row(c, "counts/inf", if (isDbl)
            s"count(*) FILTER (WHERE $c = 'infinity'::DOUBLE OR $c = '-infinity'::DOUBLE)" else zero),
          row(c, "counts/true", zero),
          row(c, "types/integral", if (isInt) s"count($c)" else zero),
          row(c, "types/fractional", if (isDbl)
            s"count(*) FILTER (WHERE $c IS NOT NULL AND NOT isnan($c))" else zero),
          row(c, "types/boolean", zero),
          row(c, "types/string", if (isStr) s"count($c)" else zero),
          row(c, "types/object", zero),
          row(c, "types/tensor", zero)) ++
          (if (isInt) Seq(
            row(c, "ints/min", s"min($c)"), row(c, "ints/max", s"max($c)"))
           else Seq.empty) ++
          (if (isInt || isDbl) Seq(
            row(c, "distribution/n",
              s"count(*) FILTER (WHERE $c IS NOT NULL AND NOT isnan(CAST($c AS DOUBLE)))"),
            row(c, "distribution/min", s"min($c)"),
            row(c, "distribution/max", s"max($c)"))
           else Seq.empty)
      }
      rows.mkString("", " UNION ALL ", " ORDER BY col_name, metric")
    })

  /** Persist-and-merge-later round trip (reference ProfileStore +
    * DateQuery): three "daily" profiles written as GRFT1 blobs in a
    * partitioned parquet store, read back by date range, merged — every
    * exact field must equal whole-table SQL. */
  private def qProfileStoreRoundtrip = Q(
    (s, dir) => {
      val store = new ProfileStore(s, scratch("profile_store_"))
      val li = t(s, dir, "lineitem")
      val p = new Profiler()
      val day0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
      // one segmented scan produces all three daily partials (the
      // backfill shape: never re-scan the fact table per day)
      val byDay = p.profileSegmented(
        li.select((F.col("l_orderkey") % 3).cast("string").as("__day") +:
          liNumeric.map(F.col): _*), Seq("__day"))
      byDay.foreach { case (key, view) =>
        store.write(view, "lineitem", day0 + key.head.toLong * 86400000L)
      }
      val merged = store.readMerged("lineitem", day0, day0 + 2 * 86400000L)
      liNumericFields(s, merged)
    },
    Some(liNumericFieldsOracle))

  /** CSV source coverage (SURVEY §2.E: the reference profiles whatever
    * pandas reads — csv being the everyday case): nation round-trips
    * through an actual CSV write+read (explicit schema, header) and the
    * profile of the CSV-sourced frame must match SQL over the parquet
    * original. Columns restricted to comma-free fields so the format
    * itself is not under test. */
  private def qCsvSourceProfile = Q(
    (s, dir) => {
      val n = t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
      val out = scratch("csv_src_")
      n.write.mode("overwrite").option("header", "true").csv(out)
      val back = s.read.option("header", "true").schema(n.schema).csv(out)
      val prof = new Profiler().profileDF(back)
      prof.select(
        F.col("n_nationkey.counts.n").as("row_count"),
        F.col("n_nationkey.ints.min").as("key_min"),
        F.col("n_nationkey.ints.max").as("key_max"),
        F.col("n_regionkey.ints.min").as("region_min"),
        F.col("n_regionkey.ints.max").as("region_max"),
        F.col("n_name.counts.nulls").as("name_nulls"))
    },
    Some("""SELECT count(*) AS row_count,
           | min(n_nationkey) AS key_min, max(n_nationkey) AS key_max,
           | min(n_regionkey) AS region_min, max(n_regionkey) AS region_max,
           | count(*) FILTER (WHERE n_name IS NULL) AS name_nulls
           | FROM nation""".stripMargin.replaceAll("\n", " ")))

  /** Byte-level `WHY1` interop (reference `dataset_profile_view.py:264-460`):
    * each partial profile goes through a full write→read cycle in the
    * reference container format before the monoid merge, so every compared
    * value has survived the protobuf framing + DataSketches images. */
  private def qWhy1Roundtrip = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem").withColumn("__part", F.col("l_orderkey") % 3)
      // one segmented scan yields the three partial profiles (vs three
      // filtered full scans)
      val merged = new Profiler()
        .profileSegmented(li.select((F.col("__part") +: liNumeric.map(F.col)): _*), Seq("__part"))
        .values
        .map(v => Why1.fromBytes(Why1.toBytes(v)))
        .reduce(_ merge _)
      liNumericFields(s, merged)
    },
    Some(liNumericFieldsOracle))

  /** v0 migration (reference `migration/converters.py`): each partial
    * profile round-trips through the legacy `DatasetProfileMessageV0`
    * container before the merge — counts, type counters, ints and the
    * kll-derived min/max all survive the v0 framing exactly. */
  private def qV0MigrationRoundtrip = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem").withColumn("__part", F.col("l_orderkey") % 3)
      val merged = new Profiler()
        .profileSegmented(li.select((F.col("__part") +: liNumeric.map(F.col)): _*), Seq("__part"))
        .values
        .map(v => graft.profile.MigrationV0.fromV0Bytes(graft.profile.MigrationV0.toV0Bytes(v)))
        .reduce(_ merge _)
      liNumericFields(s, merged)
    },
    Some(liNumericFieldsOracle))

  /** Segmented `WHY1` multi-profile file (DatasetSegmentHeader, reference
    * `segmented_dataset_profile_view.py`): segment profiles round-trip
    * through one multi-segment container, tags intact. */
  private def qWhy1SegmentedRoundtrip = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val segs = new Profiler().profileSegmented(li, Seq("l_returnflag"))
      val bytes = Why1.toSegmentedBytes(
        segs.toSeq.sortBy(_._1.head).map { case (k, v) =>
          Why1.SegmentProfile(Seq("l_returnflag" -> k.head), v)
        })
      val back = Why1.readSegmentedBytes(bytes)
      import s.implicits._
      back.map { sp =>
        val v = sp.view.columns("l_quantity")
        val d = v.distribution.get
        (sp.tags.head._2, v.counts.get.n, d.min.get, d.max.get)
      }.toDF("seg_returnflag", "n", "qty_min", "qty_max").orderBy("seg_returnflag")
    },
    Some("""SELECT CAST(l_returnflag AS VARCHAR) AS seg_returnflag, count(*) AS n,
           | min(l_quantity) AS qty_min, max(l_quantity) AS qty_max
           | FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  // ------------------------------------------------------------------
  // conditions / constraints / validators
  // ------------------------------------------------------------------

  private def qConditionCounts = Q(
    (s, dir) => {
      val part = t(s, dir, "part")
      Conditions.countsDF(part, Seq(
        Condition("name_has_red", Conditions.matches(F.col("p_name"), "red")),
        Condition("price_in_range",
          F.col("p_retailprice") >= 1000 && F.col("p_retailprice") <= 1500),
        Condition("size_ge_25", Conditions.ge(F.col("p_size"), 25))))
        .orderBy("condition")
    },
    Some("""SELECT 'name_has_red' AS condition,
           | count(*) FILTER (WHERE regexp_matches(p_name, 'red')) AS matches, count(*) AS total FROM part
           | UNION ALL SELECT 'price_in_range',
           | count(*) FILTER (WHERE p_retailprice >= 1000 AND p_retailprice <= 1500), count(*) FROM part
           | UNION ALL SELECT 'size_ge_25',
           | count(*) FILTER (WHERE p_size >= 25), count(*) FROM part
           | ORDER BY condition""".stripMargin.replaceAll("\n", " ")))

  /** Predicate DSL round trip: conditions arrive as serialized prefix
    * strings (reference predicate_parser grammar), are re-serialized and
    * re-parsed (proving the inverse), then compiled to Catalyst. */
  private def qConditionCountsParsed = Q(
    (s, dir) => {
      val part = t(s, dir, "part")
      def cond(name: String, expr: String, target: String) = {
        val roundTripped = Predicates.parse(Predicates.parse(expr).serialize)
        Condition(name, roundTripped.toColumn {
          case "x" => F.col(target)
          case n   => F.col(n)
        })
      }
      Conditions.countsDF(part, Seq(
        cond("price_band", "and >= x 1000 <= x 1500", "p_retailprice"),
        cond("name_has_red", "% x red", "p_name"),
        cond("size_not_small", "not < x 25", "p_size")))
        .orderBy("condition")
    },
    Some("""SELECT 'name_has_red' AS condition,
           | count(*) FILTER (WHERE regexp_matches(p_name, 'red')) AS matches, count(*) AS total FROM part
           | UNION ALL SELECT 'price_band',
           | count(*) FILTER (WHERE p_retailprice >= 1000 AND p_retailprice <= 1500), count(*) FROM part
           | UNION ALL SELECT 'size_not_small',
           | count(*) FILTER (WHERE NOT p_size < 25), count(*) FROM part
           | ORDER BY condition""".stripMargin.replaceAll("\n", " ")))

  /** Metric-getter references in the predicate DSL (reference
    * `core/predicate_parser.py:46-76`): thresholds come from a PROFILE of
    * the same table, bound via `bindRefs` into literals before compiling.
    * Both referenced components (counts/n, counts/null) are exact
    * integers, so the oracle can recompute them in SQL. */
  private def qConditionCountsMetricRef = Q(
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val prof = new Profiler().profile(orders, Some(Seq("o_custkey", "o_totalprice")))
      def cond(name: String, expr: String, target: String) = Condition(name,
        Predicates.compile(expr, F.col(target), prof, Some(target)))
      Conditions.countsDF(orders, Seq(
        cond("key_gt_null_count", "> x :o_custkey:counts/null", "o_orderkey"),
        // current-column form: total count of o_totalprice observations
        cond("price_lt_n", "< x ::counts/n", "o_totalprice")))
        .orderBy("condition")
    },
    Some("""SELECT 'key_gt_null_count' AS condition,
           | count(*) FILTER (WHERE o_orderkey > (SELECT count(*) FILTER (WHERE o_custkey IS NULL) FROM orders)) AS matches,
           | count(*) AS total FROM orders
           | UNION ALL SELECT 'price_lt_n',
           | count(*) FILTER (WHERE o_totalprice < (SELECT count(*) FROM orders)), count(*) FROM orders
           | ORDER BY condition""".stripMargin.replaceAll("\n", " ")))

  private def constraintSuite = Seq(
    Constraints.noMissingValues("l_orderkey"),
    Constraints.isNonNegative("l_quantity"),
    Constraints.isInRange("l_quantity", 1.0, 50.0),
    Constraints.meanBetweenRange("l_extendedprice", 10000.0, 100000.0),
    Constraints.stddevBetweenRange("l_quantity", 5.0, 25.0),
    Constraints.distinctNumberInRange("l_returnflag", 1.0, 5.0),
    Constraints.quantileBetweenRange("l_quantity", 0.5, 10.0, 40.0),
    Constraints.frequentStringsInReferenceSet("l_returnflag", Set("A", "N", "R")),
    Constraints.columnIsProbablyUnique("l_orderkey"),
    Constraints.columnIsNullableString("l_returnflag"),
    Constraints.nullPercentageBelowNumber("l_tax", 0.5))

  private def qConstraintsReport = Q(
    (s, dir) => {
      val view = new Profiler().profile(t(s, dir, "lineitem"))
      val reports = new Constraints(constraintSuite).report(view)
      import s.implicits._
      reports.map(r => (r.name, r.passed)).toDF("constraint_name", "passed")
        .orderBy("constraint_name")
    },
    Some {
      val rows = Seq(
        "no_missing_values(l_orderkey)" ->
          "count(*) FILTER (WHERE l_orderkey IS NULL) = 0",
        "is_non_negative(l_quantity)" -> "min(l_quantity) >= 0",
        "is_in_range(l_quantity,1.0,50.0)" ->
          "min(l_quantity) >= 1.0 AND max(l_quantity) <= 50.0",
        "mean_between_range(l_extendedprice,10000.0,100000.0)" ->
          "avg(l_extendedprice) BETWEEN 10000.0 AND 100000.0",
        "stddev_between_range(l_quantity,5.0,25.0)" ->
          "stddev_samp(l_quantity) BETWEEN 5.0 AND 25.0",
        "distinct_number_in_range(l_returnflag,1.0,5.0)" ->
          "count(DISTINCT l_returnflag) BETWEEN 1 AND 5",
        "quantile_between_range(l_quantity,0.5,10.0,40.0)" ->
          "quantile_cont(l_quantity, 0.5) BETWEEN 10.0 AND 40.0",
        "frequent_strings_in_reference_set(l_returnflag)" ->
          "count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R')) = 0 AND count(l_returnflag) > 0",
        "column_is_probably_unique(l_orderkey)" ->
          "count(DISTINCT l_orderkey) = count(l_orderkey)",
        "column_is_nullable_string(l_returnflag)" -> "count(l_returnflag) > 0",
        "null_percentage_below_number(l_tax,0.5)" ->
          "CAST(count(*) FILTER (WHERE l_tax IS NULL) AS DOUBLE) / count(*) < 0.5")
      rows.map { case (n, expr) =>
        s"SELECT '$n' AS constraint_name, ($expr) AS passed FROM lineitem"
      }.mkString("", " UNION ALL ", " ORDER BY constraint_name")
    })

  /** Target-vs-reference comparison constraints over two profile halves
    * (reference DatasetComparisonConstraint). Every check compares exact
    * profile fields except the mean tolerance, whose boolean is far from
    * its boundary on this data (documented). */
  private def qConstraintsComparison = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem").withColumn("__part", F.col("l_orderkey") % 2)
      val cols = liNumeric :+ "l_returnflag"
      val parts = new Profiler()
        .profileSegmented(li.select((F.col("__part") +: cols.map(F.col)): _*), Seq("__part"))
      val target = parts(Seq("0"))
      val ref = parts(Seq("1"))
      val suite = ComparisonConstraints(
        ComparisonConstraints.schemaMatches,
        ComparisonConstraints.rowCountWithinPct("l_orderkey", 0.1),
        ComparisonConstraints.nullCountsEqual("l_tax"),
        ComparisonConstraints.minsEqual("l_quantity"),
        ComparisonConstraints.maxNotExceedsReference("l_extendedprice"),
        ComparisonConstraints.distinctCountsMatch("l_returnflag"),
        ComparisonConstraints.meanWithinRelativeTolerance("l_quantity", 0.05))
      import s.implicits._
      suite.report(target, ref).map(rep => (rep.name, rep.passed))
        .toDF("constraint_name", "passed").orderBy("constraint_name")
    },
    Some("""WITH t AS (SELECT count(*) AS n, count(*) FILTER (WHERE l_tax IS NULL) AS tax_nulls,
           |  min(l_quantity) AS qmin, max(l_extendedprice) AS pmax,
           |  count(DISTINCT l_returnflag) AS rfd, avg(l_quantity) AS qmean
           |  FROM lineitem WHERE l_orderkey % 2 = 0),
           | r AS (SELECT count(*) AS n, count(*) FILTER (WHERE l_tax IS NULL) AS tax_nulls,
           |  min(l_quantity) AS qmin, max(l_extendedprice) AS pmax,
           |  count(DISTINCT l_returnflag) AS rfd, avg(l_quantity) AS qmean
           |  FROM lineitem WHERE l_orderkey % 2 = 1)
           | SELECT 'schema_matches' AS constraint_name, TRUE AS passed
           | UNION ALL SELECT 'row_count_within_pct(l_orderkey,0.1)', abs(t.n - r.n) <= 0.1 * r.n FROM t, r
           | UNION ALL SELECT 'null_counts_equal(l_tax)', t.tax_nulls = r.tax_nulls FROM t, r
           | UNION ALL SELECT 'mins_equal(l_quantity)', t.qmin = r.qmin FROM t, r
           | UNION ALL SELECT 'max_not_exceeds_reference(l_extendedprice)', t.pmax <= r.pmax FROM t, r
           | UNION ALL SELECT 'distinct_counts_match(l_returnflag)', t.rfd = r.rfd FROM t, r
           | UNION ALL SELECT 'mean_within_relative_tolerance(l_quantity,0.05)',
           |  abs(t.qmean - r.qmean) <= 0.05 * greatest(1.0, abs(r.qmean)) FROM t, r
           | ORDER BY constraint_name""".stripMargin.replaceAll("\n", " ")))

  /** Constraint generation from a reference profile (reference
    * `experimental/constraints_generation/__init__.py:25-79` + the six
    * generator modules): profile two tables, generate a suite from each
    * view, and evaluate every generated constraint against its own
    * source profile. The column set is chosen so each generation
    * decision is reproducible from exact SQL statistics: every supplier
    * cardinality is HLL-exact (n=100, coupon range), and the lineitem
    * columns sit robustly on known sides of the few=50 /
    * proportionately_few=0.01 / uniqueness gates (l_tax: 9 distinct;
    * l_orderkey: 14.7k distinct of 60k rows, far from its HLL ±3σ
    * uniqueness band). Two regimes are deliberately excluded as not
    * SQL-reproducible: l_extendedprice (59,821/60,000 distinct IS
    * "probably unique" under the ±3σ rule while exact SQL says
    * otherwise) and l_quantity (exactly 50 distinct: the SET-mode HLL
    * estimate is a coupon-collision-corrected float ≈ 50.002, so the
    * strict `est > few` gate fires on the sketch side but not on exact
    * counts — verified empirically). */
  private def qConstraintsGenerated = Q(
    (s, dir) => {
      val prof = new Profiler()
      val sup = prof.profile(t(s, dir, "supplier"))
      val li = prof.profile(t(s, dir, "lineitem"),
        Some(Seq("l_orderkey", "l_tax", "l_returnflag")))
      import s.implicits._
      Seq("supplier" -> sup, "lineitem" -> li).flatMap { case (tbl, view) =>
        ConstraintSuggestions.suggest(view).map { sc =>
          val passed =
            try sc.toConstraint().check(view)
            catch { case _: NoSuchElementException => false }
          (tbl, sc.column, sc.kind, sc.lo, sc.hi,
            (sc.types ++ sc.refSet).mkString("+"), passed)
        }
      }.toDF("tbl", "col", "kind", "lo", "hi", "detail", "passed")
        .orderBy("tbl", "col", "kind")
    },
    Some(constraintsGeneratedOracle))

  /** Replays the generation gates in SQL from exact statistics (valid on
    * the chosen columns — see [[qConstraintsGenerated]]'s scaladoc). */
  private def constraintsGeneratedOracle: String = {
    // (table, column, has distribution metric, has frequent-items metric,
    //  zero-count type list) per the standard resolver on the parquet kinds
    val intZero = "boolean+fractional+object+string+tensor"
    val fracZero = "boolean+integral+object+string+tensor"
    val strZero = "boolean+fractional+integral+object+tensor"
    val allZero = "boolean+fractional+integral+object+string+tensor"
    val cols = Seq(
      ("supplier", "s_suppkey", true, true, intZero),
      ("supplier", "s_name", false, true, strZero),
      ("supplier", "s_nationkey", true, true, intZero),
      ("supplier", "s_acctbal", true, false, fracZero),
      ("lineitem", "l_orderkey", true, true, intZero),
      ("lineitem", "l_tax", true, false, fracZero),
      ("lineitem", "l_returnflag", false, true, strZero))
    val arms = cols.flatMap { case (tbl, c, dist, fi, zero) =>
      val mnmx =
        if (dist) s", CAST(min($c) AS DOUBLE) AS mn, CAST(max($c) AS DOUBLE) AS mx"
        else ""
      val stats = s"(SELECT count(*) AS n, count($c) AS nn, " +
        s"count(DISTINCT $c) AS d$mnmx FROM $tbl) s"
      def arm(kind: String, lo: String, hi: String, detail: String, where: String) =
        s"SELECT '$tbl' AS tbl, '$c' AS col, '$kind' AS kind, $lo AS lo, " +
          s"$hi AS hi, $detail AS detail, TRUE AS passed FROM $stats WHERE $where"
      val noVal = ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      Seq(
        arm("column_is_probably_unique", noVal._1, noVal._2, "''",
          "s.d = s.nn AND s.nn > 0"),
        arm("no_missing_values", noVal._1, noVal._2, "''", "s.nn = s.n"),
        arm("column_has_zero_count_types", noVal._1, noVal._2, s"'$zero'", "s.nn > 0"),
        arm("column_has_zero_count_types", noVal._1, noVal._2, s"'$allZero'", "s.nn = 0")) ++
        (if (dist) Seq(
          arm("is_non_negative", noVal._1, noVal._2, "''", "s.mn >= 0"),
          arm("is_in_range", "s.mn", "s.mx", "''",
            "NOT (s.d = s.nn AND s.nn > 0) AND s.d > 50 " +
              "AND s.mn IS NOT NULL AND s.mx IS NOT NULL"))
         else Nil) ++
        (if (fi) Seq(
          arm("frequent_strings_in_reference_set", noVal._1, noVal._2,
            s"(SELECT string_agg(DISTINCT CAST($c AS VARCHAR), '+' " +
              s"ORDER BY CAST($c AS VARCHAR)) FROM $tbl WHERE $c IS NOT NULL)",
            "s.d > 0 AND s.d <= 50 AND CAST(s.d AS DOUBLE) / s.nn < 0.01"))
         else Nil)
    }
    arms.mkString("", " UNION ALL ", " ORDER BY tbl, col, kind")
  }

  private def qValidators = Q(
    (s, dir) => {
      val orders = t(s, dir, "orders")
      Conditions.validateDF(orders, Seq(
        Condition("priority_format", Conditions.matches(F.col("o_orderpriority"), "^[1-5]-")),
        Condition("status_known", F.col("o_orderstatus").isin("F", "O", "P")),
        Condition("totalprice_not_huge", F.col("o_totalprice") <= 400000.0)))
        .orderBy("condition")
    },
    Some("""SELECT 'priority_format' AS condition,
           | count(*) FILTER (WHERE NOT coalesce(regexp_matches(o_orderpriority, '^[1-5]-'), false)) AS failures,
           | count(*) AS total FROM orders
           | UNION ALL SELECT 'status_known',
           | count(*) FILTER (WHERE NOT coalesce(o_orderstatus IN ('F','O','P'), false)), count(*) FROM orders
           | UNION ALL SELECT 'totalprice_not_huge',
           | count(*) FILTER (WHERE NOT coalesce(o_totalprice <= 400000.0, false)), count(*) FROM orders
           | ORDER BY condition""".stripMargin.replaceAll("\n", " ")))

  /** Validator with VarOpt reservoir sampling (reference
    * `condition_validator.py:47,80-84`): sample contents are randomized
    * by nature, but the sample SIZE is deterministic = min(k, failures)
    * — which the oracle checks alongside the exact failure counts. */
  private def qValidatorsSampled = Q(
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val results = Conditions.validate(orders, Seq(
        Condition("priority_format", Conditions.matches(F.col("o_orderpriority"), "^[1-5]-")),
        Condition("totalprice_not_huge", F.col("o_totalprice") <= 400000.0)),
        identityColumn = "o_orderkey", sampleSize = 10, varOptSample = true)
      import s.implicits._
      results.map(r => (r.condition, r.failures, r.sample.length.toLong))
        .toDF("condition", "failures", "sample_size").orderBy("condition")
    },
    Some("""SELECT 'priority_format' AS condition,
           | count(*) FILTER (WHERE NOT coalesce(regexp_matches(o_orderpriority, '^[1-5]-'), false)) AS failures,
           | least(CAST(10 AS BIGINT), count(*) FILTER (WHERE NOT coalesce(regexp_matches(o_orderpriority, '^[1-5]-'), false))) AS sample_size
           | FROM orders
           | UNION ALL SELECT 'totalprice_not_huge',
           | count(*) FILTER (WHERE NOT coalesce(o_totalprice <= 400000.0, false)),
           | least(CAST(10 AS BIGINT), count(*) FILTER (WHERE NOT coalesce(o_totalprice <= 400000.0, false)))
           | FROM orders ORDER BY condition""".stripMargin.replaceAll("\n", " ")))

  /** UDF-schema pre-pass + custom metric plugin: a derived column
    * (Column-expression "UDF") profiled by the standard metrics plus a
    * registered exact-sum plugin metric, all in ONE aggregation pass. */
  private def qUdfProfile = Q(
    (s, dir) => {
      val schema = UdfSchema(derived = Seq(DerivedColumn("price_with_tax",
        F.col("l_extendedprice") * (F.lit(1.0) + F.col("l_tax")))))
      val sumPlugin = new MetricPlugin {
        val namespace = "exact_sum"
        def appliesTo(column: String, kind: graft.core.LogicalKind) =
          column == "price_with_tax"
        def aggColumn(c: Column) = F.struct(exact_sum(c, scale = 6).as("sum"))
      }
      val p = new Profiler(plugins = Seq(sumPlugin))
      val df = schema(t(s, dir, "lineitem"))
      p.profileDF(df, Some(Seq("price_with_tax"))).select(
        F.col("price_with_tax.counts.n").as("n"),
        F.col("price_with_tax.counts.nulls").as("nulls"),
        F.col("price_with_tax.distribution.min").as("vmin"),
        F.col("price_with_tax.distribution.max").as("vmax"),
        F.col("price_with_tax.exact_sum.sum").as("psum"))
    },
    Some("""SELECT count(*) AS n,
           | count(*) FILTER (WHERE l_extendedprice * (1.0 + l_tax) IS NULL) AS nulls,
           | min(l_extendedprice * (1.0 + l_tax)) AS vmin,
           | max(l_extendedprice * (1.0 + l_tax)) AS vmax,
           | CAST(sum(CAST(l_extendedprice * (1.0 + l_tax) AS DECIMAL(33,6))) AS DOUBLE) AS psum
           | FROM lineitem""".stripMargin.replaceAll("\n", " ")))

  // ------------------------------------------------------------------
  // model performance
  // ------------------------------------------------------------------

  private def predExpr: Column =
    F.when(F.col("o_totalprice") < 150000.0, "F")
      .when(F.col("o_totalprice") < 300000.0, "O").otherwise("P")

  private def qConfusionMatrix = Q(
    (s, dir) => ModelPerf.confusionMatrixDF(
      t(s, dir, "orders"), F.col("o_orderstatus"), predExpr, Some(F.col("o_totalprice")))
      .select("target", "prediction", "n", "score_sum")
      .orderBy("target", "prediction"),
    Some("""SELECT CAST(o_orderstatus AS VARCHAR) AS target,
           | CASE WHEN o_totalprice < 150000.0 THEN 'F' WHEN o_totalprice < 300000.0 THEN 'O' ELSE 'P' END AS prediction,
           | count(*) AS n,
           | CAST(sum(CAST(o_totalprice AS DECIMAL(33,6))) AS DOUBLE) AS score_sum
           | FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " ")))

  /** Segmented model performance (`_segmented_performance_metrics`):
    * per-segment confusion cells AND regression error sums from one
    * shuffle each, via the facade. Exact counts + decimal-grid sums ⇒
    * hash-checked. */
  private def qSegmentedModelPerf = Q(
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val seg = Seq("o_orderpriority")
      val cls = Graft.logSegmentedClassificationMetrics(
        orders, seg, F.col("o_orderstatus"), predExpr)
      val reg = Graft.logSegmentedRegressionMetrics(
        orders, seg, F.col("o_totalprice"), F.col("o_totalprice") * 1.1)
      import s.implicits._
      val clsRows = cls.segments.toSeq.flatMap { case (k, v) =>
        v.modelPerformance.toSeq.flatMap(_.confusion.toSeq.flatMap(_.cells.toSeq.map {
          case ((t0, p), (n, _)) => (k.head, "cell", t0, p, n.toDouble)
        }))
      }
      val regRows = reg.segments.toSeq.flatMap { case (k, v) =>
        v.modelPerformance.toSeq.flatMap(_.regression.toSeq.map { r =>
          (k.head, "mae", "", "", r.mae)
        })
      }
      (clsRows ++ regRows)
        .toDF("segment", "kind", "target", "prediction", "value")
        .orderBy("segment", "kind", "target", "prediction")
    },
    Some("""SELECT CAST(o_orderpriority AS VARCHAR) AS segment, 'cell' AS kind,
           | CAST(o_orderstatus AS VARCHAR) AS target,
           | CASE WHEN o_totalprice < 150000.0 THEN 'F' WHEN o_totalprice < 300000.0 THEN 'O' ELSE 'P' END AS prediction,
           | CAST(count(*) AS DOUBLE) AS value
           | FROM orders GROUP BY 1, 3, 4
           | UNION ALL
           | SELECT CAST(o_orderpriority AS VARCHAR), 'mae', '', '',
           |  CAST(sum(CAST(abs(o_totalprice * 1.1 - o_totalprice) AS DECIMAL(32,6))) AS DOUBLE)
           |    / count(*) FILTER (WHERE o_totalprice IS NOT NULL)
           | FROM orders GROUP BY 1
           | ORDER BY segment, kind, target, prediction""".stripMargin.replaceAll("\n", " ")))

  private def qRegressionMetrics = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      ModelPerf.regressionMetricsDF(li,
        F.col("l_extendedprice"),
        F.col("l_extendedprice") * (F.lit(1.0) + F.col("l_tax")))
    },
    Some("""SELECT count(*) FILTER (WHERE l_extendedprice IS NOT NULL) AS n,
           | CAST(sum(CAST(abs((l_extendedprice * (1.0 + l_tax)) - l_extendedprice) AS DECIMAL(32,6))) AS DOUBLE) AS abs_error_sum,
           | CAST(sum(CAST((l_extendedprice * (1.0 + l_tax)) - l_extendedprice AS DECIMAL(32,6))) AS DOUBLE) AS error_sum,
           | CAST(sum(CAST(((l_extendedprice * (1.0 + l_tax)) - l_extendedprice) * ((l_extendedprice * (1.0 + l_tax)) - l_extendedprice) AS DECIMAL(38,4))) AS DOUBLE) AS sq_error_sum,
           | CAST(sum(CAST(abs((l_extendedprice * (1.0 + l_tax)) - l_extendedprice) AS DECIMAL(32,6))) AS DOUBLE) / count(*) FILTER (WHERE l_extendedprice IS NOT NULL) AS mae,
           | CAST(sum(CAST(((l_extendedprice * (1.0 + l_tax)) - l_extendedprice) * ((l_extendedprice * (1.0 + l_tax)) - l_extendedprice) AS DECIMAL(38,4))) AS DOUBLE) / count(*) FILTER (WHERE l_extendedprice IS NOT NULL) AS mse,
           | sqrt(CAST(sum(CAST(((l_extendedprice * (1.0 + l_tax)) - l_extendedprice) * ((l_extendedprice * (1.0 + l_tax)) - l_extendedprice) AS DECIMAL(38,4))) AS DOUBLE) / count(*) FILTER (WHERE l_extendedprice IS NOT NULL)) AS rmse
           | FROM lineitem""".stripMargin.replaceAll("\n", " ")))

  /** AccuracyEstimator (reference performance estimation): per-segment
    * reference accuracies weighted by target proportions. Counts and
    * single-step double divisions are engine-exact; the weighted total is
    * reported per segment (no cross-row float summation in the oracle). */
  private def qAccuracyEstimator = Q(
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val tl = F.when(F.col("o_orderstatus") === "F", "1").otherwise("0")
      val pl = F.when(F.col("o_totalprice") < 150000.0, "1").otherwise("0")
      val ref = orders.filter(F.col("o_orderkey") % 2 === 0)
      val cms = ref.groupBy(F.col("o_orderpriority").as("seg"),
        tl.as("target"), pl.as("prediction"))
        .agg(F.count(F.lit(1)).as("n")).collect()
        .groupBy(_.getAs[String]("seg"))
        .map { case (seg, rows) =>
          seg -> graft.profile.ConfusionMatrixSummary(rows.map(r =>
            (r.getAs[String]("target"), r.getAs[String]("prediction")) ->
              (r.getAs[Long]("n"), 0.0)).toMap)
        }
      val tgtCounts = orders.filter(F.col("o_orderkey") % 2 =!= 0)
        .groupBy(F.col("o_orderpriority").as("seg")).count().collect()
        .map(r => r.getAs[String]("seg") -> r.getAs[Long]("count")).toMap
      val result = AccuracyEstimator.estimate(cms, tgtCounts)
      import s.implicits._
      result.segments.map(e => (e.segment, e.targetCount, e.refCorrect,
        e.refTotal, e.refAccuracy, e.contribution))
        .toDF("segment", "target_n", "ref_correct", "ref_total",
          "ref_accuracy", "contribution")
        .orderBy("segment")
    },
    Some("""WITH ref AS (SELECT o_orderpriority AS seg,
           |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS t,
           |  CASE WHEN o_totalprice < 150000.0 THEN 1 ELSE 0 END AS p
           |  FROM orders WHERE o_orderkey % 2 = 0),
           | refagg AS (SELECT seg, count(*) FILTER (WHERE t = p) AS correct, count(*) AS total FROM ref GROUP BY seg),
           | tgt AS (SELECT o_orderpriority AS seg, count(*) AS cnt FROM orders WHERE o_orderkey % 2 <> 0 GROUP BY seg),
           | tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM tgt)
           | SELECT tgt.seg AS segment, tgt.cnt AS target_n,
           |  refagg.correct AS ref_correct, refagg.total AS ref_total,
           |  CAST(refagg.correct AS DOUBLE) / refagg.total AS ref_accuracy,
           |  (tgt.cnt / tot.n) * (CAST(refagg.correct AS DOUBLE) / refagg.total) AS contribution
           | FROM tgt JOIN refagg USING (seg), tot ORDER BY segment""".stripMargin.replaceAll("\n", " ")))

  // ------------------------------------------------------------------
  // ranking metrics (reference log_batch_ranking_metrics)
  // ------------------------------------------------------------------

  /** Per-user row-metrics fixture shared by the ranking queries:
    * domain = the user's events in (ts, event_id) order, score =
    * event_id % 97 (deliberate collisions exercise the stable
    * tie-break), graded relevance 2/1/0 by event type; metrics via
    * [[Ranking.logBatchRankingMetrics]] in score+target mode with k=10.
    * The operator itself is map-only array expressions — the one
    * groupBy here only BUILDS the fixture arrays. */
  private def rankingRowMetrics(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events").select(
      F.col("user_id"), F.col("ts"), F.col("event_id"),
      (F.col("event_id") % 97).cast("double").as("score"),
      F.when(F.col("event_type") === "purchase", 2.0)
        .when(F.col("event_type") === "click", 1.0)
        .otherwise(0.0).as("rel"))
    val byUser = raw.groupBy("user_id").agg(
      F.sort_array(F.collect_list(F.struct(
        F.col("ts"), F.col("event_id"), F.col("score"), F.col("rel"))))
        .as("evs"))
      .select(F.col("user_id"),
        F.transform(F.col("evs"), _.getField("score")).as("scores"),
        F.transform(F.col("evs"), _.getField("rel")).as("rels"))
    Ranking.logBatchRankingMetrics(byUser,
      targetCol = Some("rels"), scoreCol = Some("scores"), k = Some(10),
      clampK = false)
      .select(F.col("user_id"),
        F.round(F.col("recall_k_10"), 8).as("recall_k_10"),
        F.round(F.col("precision_k_10"), 8).as("precision_k_10"),
        F.col("top_rank"),
        F.round(F.col("average_precision_k_10"), 8)
          .as("average_precision_k_10"),
        F.round(F.col("norm_dis_cumul_gain_k_10"), 8)
          .as("norm_dis_cumul_gain_k_10"),
        F.round(F.col("sum_gain_k_10"), 8).as("sum_gain_k_10"),
        F.round(F.col("reciprocal_rank"), 8).as("reciprocal_rank"))
  }

  /** The shared relational CTE prefix reproducing [[rankingRowMetrics]]
    * in ANSI SQL (k=10). */
  private val rankingOracleCtes =
    """WITH e AS (
      |  SELECT user_id, ts, event_id,
      |   CAST(event_id % 97 AS DOUBLE) AS score,
      |   CASE WHEN event_type = 'purchase' THEN 2.0
      |        WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS rel
      |  FROM events),
      | r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY user_id ORDER BY score DESC, ts, event_id) AS rnk
      |  FROM e),
      | m AS (
      |  SELECT user_id,
      |   count(*) FILTER (WHERE rnk <= 10 AND rel <> 0) AS c_at_k,
      |   count(*) FILTER (WHERE rel <> 0) AS c_all,
      |   min(rnk) FILTER (WHERE rel <> 0) AS top_rank,
      |   coalesce(sum(rel) FILTER (WHERE rnk <= 10), 0) AS sum_gain,
      |   coalesce(sum(rel / log2(rnk + 1)) FILTER (WHERE rnk <= 10), 0) AS dcg
      |  FROM r GROUP BY 1),
      | ideal AS (
      |  SELECT user_id, sum(rel / log2(pos + 1)) AS idcg FROM (
      |   SELECT user_id, rel, row_number() OVER (
      |     PARTITION BY user_id ORDER BY rel DESC) AS pos FROM e)
      |  WHERE pos <= 10 GROUP BY 1),
      | ap AS (
      |  SELECT user_id, avg(rn / CAST(rnk AS DOUBLE)) AS ap FROM (
      |   SELECT user_id, rnk, row_number() OVER (
      |     PARTITION BY user_id ORDER BY rnk) AS rn
      |   FROM r WHERE rel <> 0 AND rnk <= 10) GROUP BY 1),
      | fin AS (
      |  SELECT m.user_id,
      |   round(CASE WHEN m.c_all = 0 THEN NULL
      |     ELSE m.c_at_k / CAST(m.c_all AS DOUBLE) END, 8) AS recall_k_10,
      |   round(m.c_at_k / 10.0, 8) AS precision_k_10,
      |   CAST(m.top_rank AS BIGINT) AS top_rank,
      |   round(coalesce(ap.ap, 0), 8) AS average_precision_k_10,
      |   round(CASE WHEN coalesce(ideal.idcg, 0) = 0 THEN 1.0
      |     ELSE m.dcg / ideal.idcg END, 8) AS norm_dis_cumul_gain_k_10,
      |   round(m.sum_gain, 8) AS sum_gain_k_10,
      |   round(coalesce(1.0 / m.top_rank, 0), 8) AS reciprocal_rank
      |  FROM m LEFT JOIN ideal ON m.user_id = ideal.user_id
      |         LEFT JOIN ap ON m.user_id = ap.user_id)""".stripMargin

  /** Ranking metrics, score+target mode (reference
    * `log_batch_ranking_metrics` with `score_column`,
    * `experimental/api/logger/__init__.py:289-296`): recall@10,
    * precision@10, AP@10, NDCG@10, sum-gain@10, top rank and
    * reciprocal rank per user. */
  private def qRankingMetrics = Q(
    (s, dir) => rankingRowMetrics(s, dir).orderBy("user_id"),
    Some((rankingOracleCtes +
      """
        | SELECT * FROM fin ORDER BY user_id""").stripMargin
      .replaceAll("\n", " ")))

  /** Ranking metrics, string mode (the reference's
    * `convert_non_numeric`, `__init__.py:31-35,66-94`): per user the
    * ranked item list is their event types by frequency (ties
    * alphabetical), the relevant set is types seen ≥ 14 times; k=3.
    * Covers membership relevance, uncovered-target NDCG padding, and
    * the empty-relevant-set edges (null recall, NDCG 1). */
  private def qRankingMetricsStrings = Q(
    (s, dir) => {
      val cnt = t(s, dir, "events")
        .groupBy("user_id", "event_type").agg(F.count(F.lit(1)).as("n"))
      val byUser = cnt.groupBy("user_id").agg(
        F.transform(F.array_sort(F.collect_list(F.struct(
          (F.col("n") * -1).as("negn"), F.col("event_type").as("ty")))),
          _.getField("ty")).as("preds"),
        F.sort_array(F.collect_list(
          F.when(F.col("n") >= 14, F.col("event_type")))).as("tgts"))
      Ranking.logBatchRankingMetrics(byUser,
        predictionCol = Some("preds"), targetCol = Some("tgts"),
        k = Some(3), clampK = false)
        .select(F.col("user_id"),
          F.round(F.col("recall_k_3"), 8).as("recall_k_3"),
          F.round(F.col("precision_k_3"), 8).as("precision_k_3"),
          F.col("top_rank"),
          F.round(F.col("average_precision_k_3"), 8)
            .as("average_precision_k_3"),
          F.round(F.col("norm_dis_cumul_gain_k_3"), 8)
            .as("norm_dis_cumul_gain_k_3"),
          F.round(F.col("sum_gain_k_3"), 8).as("sum_gain_k_3"),
          F.round(F.col("reciprocal_rank"), 8).as("reciprocal_rank"))
        .orderBy("user_id")
    },
    Some("""WITH c AS (
           |  SELECT user_id, event_type, count(*) AS n
           |  FROM events GROUP BY 1, 2),
           | r AS (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY user_id ORDER BY n DESC, event_type) AS pos,
           |   (n >= 14) AS relv FROM c),
           | m AS (
           |  SELECT user_id,
           |   count(*) FILTER (WHERE pos <= 3 AND relv) AS c_at_k,
           |   count(*) FILTER (WHERE relv) AS c_all,
           |   min(pos) FILTER (WHERE relv) AS top_rank,
           |   coalesce(sum(1.0 / log2(pos + 1))
           |     FILTER (WHERE pos <= 3 AND relv), 0) AS dcg
           |  FROM r GROUP BY 1),
           | ap AS (
           |  SELECT user_id, avg(rn / CAST(pos AS DOUBLE)) AS ap FROM (
           |   SELECT user_id, pos, row_number() OVER (
           |     PARTITION BY user_id ORDER BY pos) AS rn
           |   FROM r WHERE relv AND pos <= 3) GROUP BY 1),
           | ideal AS (
           |  SELECT user_id, CASE least(3, c_all)
           |   WHEN 0 THEN 0.0 WHEN 1 THEN 1.0
           |   WHEN 2 THEN 1.0 + 1.0 / log2(3)
           |   ELSE 1.0 + 1.0 / log2(3) + 0.5 END AS idcg FROM m)
           | SELECT m.user_id,
           |  round(CASE WHEN m.c_all = 0 THEN NULL
           |    ELSE m.c_at_k / CAST(m.c_all AS DOUBLE) END, 8) AS recall_k_3,
           |  round(m.c_at_k / 3.0, 8) AS precision_k_3,
           |  CAST(m.top_rank AS BIGINT) AS top_rank,
           |  round(coalesce(ap.ap, 0), 8) AS average_precision_k_3,
           |  round(CASE WHEN ideal.idcg = 0 THEN 1.0
           |    ELSE m.dcg / ideal.idcg END, 8) AS norm_dis_cumul_gain_k_3,
           |  round(CAST(m.c_at_k AS DOUBLE), 8) AS sum_gain_k_3,
           |  round(coalesce(1.0 / m.top_rank, 0), 8) AS reciprocal_rank
           | FROM m JOIN ideal ON m.user_id = ideal.user_id
           |        LEFT JOIN ap ON m.user_id = ap.user_id
           | ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** Segmented ranking metrics (reference logs ranking metrics through
    * segmented schemas, `__init__.py:356-369`): the per-user row
    * metrics flow through the SAME segmented profiler as any other
    * column set — counts, null counts and exact min/max per segment. */
  private def qRankingMetricsSegmented = Q(
    (s, dir) => {
      val seg = rankingRowMetrics(s, dir)
        .withColumn("seg", (F.col("user_id") % 4).cast("string"))
      val prof = new Profiler().profileSegmentedDF(
        seg.select("seg", "recall_k_10", "average_precision_k_10",
          "reciprocal_rank"), Seq("seg"))
      prof.select(F.col("segment_seg").as("seg"),
        F.col("reciprocal_rank.counts.n").as("n"),
        F.col("recall_k_10.counts.nulls").as("recall_nulls"),
        F.col("reciprocal_rank.distribution.min").as("rr_min"),
        F.col("reciprocal_rank.distribution.max").as("rr_max"),
        F.col("average_precision_k_10.distribution.min").as("ap_min"),
        F.col("average_precision_k_10.distribution.max").as("ap_max"))
        .orderBy("seg")
    },
    Some((rankingOracleCtes +
      """
        | SELECT CAST(user_id % 4 AS VARCHAR) AS seg, count(*) AS n,
        |  count(*) FILTER (WHERE recall_k_10 IS NULL) AS recall_nulls,
        |  min(reciprocal_rank) AS rr_min, max(reciprocal_rank) AS rr_max,
        |  min(average_precision_k_10) AS ap_min,
        |  max(average_precision_k_10) AS ap_max
        | FROM fin GROUP BY 1 ORDER BY 1""").stripMargin
      .replaceAll("\n", " ")))

  // ------------------------------------------------------------------
  // drift
  // ------------------------------------------------------------------

  /** Summary-drift-report data (reference
    * `NotebookProfileVisualizer.summary_drift_report` via
    * `viz/utils/profile_viz_calculations.py:159-242`): one row per
    * common column — drift score + category, feature-stats panel, and
    * the comparison artwork (KLL histogram pair for continuous columns,
    * zero-padded FI overlay for discrete ones). Sketch-derived (KLL
    * histogram counts, HLL distinct %) ⇒ rows-only; the exact
    * constituents are hash-checked elsewhere (profile_summary_exact,
    * drift_chi2_stat, profile_moments). */
  private def qVizSummaryReport = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      // approx_percentile: the split point only has to be a reasonable
      // mid-value, and exact percentile() buffers EVERY value in one
      // aggregation buffer — a memory bomb at 100× scale.
      val median = li.agg(F.expr("approx_percentile(l_orderkey, 0.5D)"))
        .collect()(0).getLong(0).toDouble
      val parts = new Profiler().profileSegmented(
        li.withColumn("__half", F.col("l_orderkey") <= median), Seq("__half"))
      val target = parts(Seq("true"))
      val overall = Viz.overallStats(target)
      import s.implicits._
      Viz.summaryDriftReport(target, parts(Seq("false"))).map { r =>
        (r.column, r.isDiscrete, r.algorithm.getOrElse(""),
          r.statistic.getOrElse(-1.0), r.pValue.getOrElse(-1.0),
          r.category.getOrElse(""),
          r.stats.totalCount.getOrElse(0L), r.stats.missing.getOrElse(0L),
          r.stats.distinctPct.getOrElse(-1.0),
          r.stats.descriptive.map(_.mean).getOrElse(0.0),
          r.stats.descriptive.map(_.stddev).getOrElse(0.0),
          r.histogram.map(_.counts.size).getOrElse(0),
          r.histogram.map(_.counts.sum).getOrElse(0L),
          r.refHistogram.map(_.counts.size).getOrElse(0),
          r.frequentItems.size, overall.observations)
      }.toDF("column_name", "is_discrete", "algorithm", "statistic", "p_value",
        "category", "total_count", "missing", "distinct_pct", "mean", "stddev",
        "hist_buckets", "hist_count_sum", "ref_hist_buckets", "fi_items",
        "observations")
        .orderBy("column_name")
    },
    None)

  private def qDriftScores = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      // approx_percentile, not percentile: the split's exactness is
      // immaterial here and the exact form buffers all values (scale bomb).
      val median = li.agg(F.expr("approx_percentile(l_orderkey, 0.5D)"))
        .collect()(0).getLong(0).toDouble
      // drift consumes only distribution (KS/Hellinger) + frequent items
      // (χ²): resolve just those, skipping the HLL/counts/ints updates
      val driftResolver = ResolverSpec(byKind = k =>
        ResolverSpec.standard(k).filter(m =>
          m == Namespace.Distribution || m == Namespace.FrequentItems))
      val parts = new Profiler(resolver = driftResolver).profileSegmented(
        li.withColumn("__half", F.col("l_orderkey") <= median), Seq("__half"))
      val target = parts(Seq("true"))
      val ref = parts(Seq("false"))
      import s.implicits._
      Drift.scores(target, ref)
        .map(d => (d.column, d.algorithm, d.statistic, d.pValue.getOrElse(-1.0),
          d.category.toString))
        .toDF("column_name", "algorithm", "statistic", "p_value", "category")
        .orderBy("column_name", "algorithm")
    },
    None)

  /** χ² drift statistic, oracle-checked: on low-cardinality columns the
    * FI estimates are exact (unpurged map — same coupon-range argument as
    * `cardinality`), and the statistic is plain arithmetic over those
    * counts (reference `viz/utils/frequent_items_calculations.py:63-90`).
    * Both engines accumulate the per-key terms in sorted key order
    * (DuckDB via `sum(... ORDER BY k)`), so the double sums are
    * bit-identical. */
  private def qDriftChi2Stat = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = new Profiler()
      val cols = Seq("l_returnflag", "l_linestatus")
      val target = p.profile(li.filter(F.col("l_orderkey") % 3 === 0), Some(cols))
      val ref = p.profile(li.filter(F.col("l_orderkey") % 3 =!= 0), Some(cols))
      import s.implicits._
      cols.sorted.map { c =>
        val tf = target.columns(c).frequentItems.get
        val rf = ref.columns(c).frequentItems.get
        val dof = (tf.items.map(_.value).toSet ++ rf.items.map(_.value)).size - 1
        val (stat, _) = Drift.chiSquare(tf, rf)
        (c, dof.toLong, stat)
      }.toDF("col_name", "dof", "chi2_stat").orderBy("col_name")
    },
    Some {
      Seq("l_returnflag", "l_linestatus").sorted.map { c =>
        s"""SELECT * FROM (
           | WITH t AS (SELECT CAST($c AS VARCHAR) AS k, CAST(count(*) AS DOUBLE) AS o
           |   FROM lineitem WHERE l_orderkey % 3 = 0 AND $c IS NOT NULL GROUP BY 1),
           | r AS (SELECT CAST($c AS VARCHAR) AS k, CAST(count(*) AS DOUBLE) AS c
           |   FROM lineitem WHERE l_orderkey % 3 <> 0 AND $c IS NOT NULL GROUP BY 1),
           | j AS (SELECT COALESCE(t.k, r.k) AS k, COALESCE(o, 0) AS o, COALESCE(c, 0) AS c
           |   FROM t FULL OUTER JOIN r ON t.k = r.k),
           | tot AS (SELECT (SELECT sum(o) FROM t) AS tt, (SELECT sum(c) FROM r) AS rt)
           | SELECT '$c' AS col_name, (SELECT count(*) FROM j) - 1 AS dof,
           |   (SELECT sum(CASE WHEN c / rt * tt > 0
           |     THEN (o - c / rt * tt) * (o - c / rt * tt) / (c / rt * tt)
           |     ELSE 0 END ORDER BY k) FROM j, tot) AS chi2_stat
           |)""".stripMargin.replaceAll("\n", " ")
      }.mkString("", " UNION ALL ", " ORDER BY col_name")
    })

  /** Exact two-sample KS drift statistic, oracle-checked: D over the raw
    * column via [[DriftExact.ksStat]] (distributed prefix-sum ECDF — see
    * its scaladoc for the 100 TB shape). The numerator stays integral
    * until one final division, so Spark and DuckDB produce bit-identical
    * doubles with no rounding compromise. Same target/ref split as
    * `drift_chi2_stat` (l_orderkey mod 3), closing the drift-algorithm
    * trio: KS here, χ² in drift_chi2_stat, Hellinger in
    * drift_hellinger_exact; the production sketch path over the same
    * algorithms is `drift_scores`. */
  private def qDriftKsExact = Q(
    (s, dir) => liDrift(s, dir, "ks_stat")(DriftExact.ksStats(_, _, _)).orderBy("col_name"),
    Some {
      liDriftCols.sorted.map { c =>
        s"""SELECT * FROM (
           | WITH g AS (SELECT $c AS v,
           |     sum(CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS ca,
           |     sum(CASE WHEN l_orderkey % 3 <> 0 THEN 1 ELSE 0 END) AS cb
           |   FROM lineitem WHERE $c IS NOT NULL GROUP BY 1),
           | t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM g),
           | c AS (SELECT sum(ca) OVER (ORDER BY v) AS cca,
           |       sum(cb) OVER (ORDER BY v) AS ccb FROM g)
           | SELECT '$c' AS col_name,
           |   CAST(max(abs(cca * nb - ccb * na)) AS DOUBLE)
           |     / CAST(na * nb AS DOUBLE) AS ks_stat,
           |   CAST(na AS BIGINT) AS n_target, CAST(nb AS BIGINT) AS n_ref
           | FROM c, t GROUP BY na, nb
           |)""".stripMargin.replaceAll("\n", " ")
      }.mkString("", " UNION ALL ", " ORDER BY col_name")
    })

  /** Exact Hellinger drift distance, oracle-checked: H over exact
    * fixed-width histogram bins via [[DriftExact.hellingerStat]]. Both
    * engines bin with the identical fp formula
    * min(floor((v−lo)/width), nBins−1) and accumulate the ≤ 30 per-bin
    * terms in ascending bin order (DuckDB `sum(... ORDER BY bin)`), so
    * the double sums are bit-identical — the `drift_chi2_stat`
    * convention. */
  private def qDriftHellingerExact = Q(
    (s, dir) => liDrift(s, dir, "hellinger")(DriftExact.hellingerStats(_, _, _)).orderBy("col_name"),
    Some(liBinnedDriftOracle(c =>
      s"""d AS (SELECT bin,
         |     sqrt(CAST(ca AS DOUBLE) / na) - sqrt(CAST(cb AS DOUBLE) / nb) AS dd
         |   FROM g, t)
         | SELECT '$c' AS col_name,
         |   sqrt(sum(dd * dd ORDER BY bin) / 2) AS hellinger,
         |   CAST((SELECT na FROM t) AS BIGINT) AS n_target,
         |   CAST((SELECT nb FROM t) AS BIGINT) AS n_ref
         | FROM d""")))

  /** Population Stability Index over the same exact 30-bin histogram as
    * `drift_hellinger_exact` ([[DriftExact.psiStats]]). Same two-scan /
    * broadcast-envelope plan; the oracle replays the per-bin terms with
    * an ordered sum so the float accumulation order matches the
    * driver-side ascending-bin fold. */
  private def qDriftPsi = Q(
    (s, dir) => liDrift(s, dir, "psi")(DriftExact.psiStats(_, _, _)).orderBy("col_name"),
    Some(liBinnedDriftOracle(c =>
      s"""d AS (SELECT bin,
         |     GREATEST(CAST(ca AS DOUBLE) / na, 0.0001) AS pa,
         |     GREATEST(CAST(cb AS DOUBLE) / nb, 0.0001) AS pb
         |   FROM g, t)
         | SELECT '$c' AS col_name,
         |   sum((pa - pb) * ln(pa / pb) ORDER BY bin) AS psi,
         |   CAST((SELECT na FROM t) AS BIGINT) AS n_target,
         |   CAST((SELECT nb FROM t) AS BIGINT) AS n_ref
         | FROM d""")))

  /** Exact Jensen–Shannon divergence ([[DriftExact.jsdStats]]) over the
    * PSI query's fixed 30-bin layout and slice split — the symmetric,
    * ln2-bounded drift score that needs no eps floor. The oracle replays
    * bins, probabilities and the ascending-bin `acc += ta + tb` fold
    * with the 1e-9 ln floor. */
  private def qDriftJsd = Q(
    (s, dir) => liDrift(s, dir, "jsd")(DriftExact.jsdStats(_, _, _)).orderBy("col_name"),
    Some(liBinnedDriftOracle(c =>
      s"""d AS (SELECT bin, CAST(ca AS DOUBLE) / na AS pa, CAST(cb AS DOUBLE) / nb AS pb FROM g, t),
         | j AS (SELECT bin,
         |     (CASE WHEN pa > 0 THEN 0.5 * (pa * (floor(ln(pa / ((pa + pb) / 2)) * 1000000000.0) / 1000000000.0)) ELSE 0.0 END)
         |   + (CASE WHEN pb > 0 THEN 0.5 * (pb * (floor(ln(pb / ((pa + pb) / 2)) * 1000000000.0) / 1000000000.0)) ELSE 0.0 END) AS term
         |   FROM d)
         | SELECT '$c' AS col_name,
         |   (SELECT sum(term ORDER BY bin) FROM j) AS jsd,
         |   CAST((SELECT na FROM t) AS BIGINT) AS n_target,
         |   CAST((SELECT nb FROM t) AS BIGINT) AS n_ref""")))

  /** Exact normalized grid EMD ([[DriftExact.emdStats]]) on the PSI
    * query's layout: integer cross-multiplied CDF gaps summed over all
    * 30 bins (empty bins included), one final division — no float
    * caveats at all. */
  private def qDriftEmd = Q(
    (s, dir) => liDrift(s, dir, "emd")(DriftExact.emdStats(_, _, _)).orderBy("col_name"),
    Some(liBinnedDriftOracle(c =>
      s"""bb AS (SELECT unnest(range(0, 30)) AS bin),
         | d AS (SELECT bb.bin AS bin, COALESCE(g.ca, 0) AS ca, COALESCE(g.cb, 0) AS cb
         |   FROM bb LEFT JOIN g ON bb.bin = g.bin),
         | cc AS (SELECT bin,
         |     sum(ca) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cuma,
         |     sum(cb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cumb
         |   FROM d),
         | s AS (SELECT sum(abs(cuma * (SELECT nb FROM t) - cumb * (SELECT na FROM t))) AS acc FROM cc)
         | SELECT '$c' AS col_name,
         |   CAST(acc AS DOUBLE) / (CAST((SELECT na FROM t) AS DOUBLE) * CAST((SELECT nb FROM t) AS DOUBLE) * 30.0) AS emd,
         |   CAST((SELECT na FROM t) AS BIGINT) AS n_target,
         |   CAST((SELECT nb FROM t) AS BIGINT) AS n_ref
         | FROM s""")))

  /** Tukey-fence outlier counts per column
    * ([[graft.analysis.Outliers.iqrOutliers]]); quartiles via the
    * distributed exact-quantile path, fences and counts bit-exact. */
  private def qIqrOutliers = Q(
    (s, dir) => graft.analysis.Outliers.iqrOutliers(
      t(s, dir, "lineitem"), Seq("l_extendedprice", "l_quantity", "l_tax"))
      .orderBy("col_name"),
    Some {
      Seq("l_extendedprice", "l_quantity", "l_tax").map { c =>
        s"""SELECT * FROM (
           | WITH v AS (SELECT CAST($c AS DOUBLE) AS v FROM lineitem
           |   WHERE $c IS NOT NULL),
           | q AS (SELECT quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3 FROM v)
           | SELECT '$c' AS col_name, q1, q3, q3 - q1 AS iqr,
           |   q1 - 1.5*(q3 - q1) AS lo_fence, q3 + 1.5*(q3 - q1) AS hi_fence,
           |   count(*) AS n,
           |   CAST(sum(CASE WHEN v < q1 - 1.5*(q3 - q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           |   CAST(sum(CASE WHEN v > q3 + 1.5*(q3 - q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           |   CAST(sum(CASE WHEN v < q1 - 1.5*(q3 - q1) OR v > q3 + 1.5*(q3 - q1)
           |     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
           | FROM v, q GROUP BY q1, q3
           |)""".stripMargin.replaceAll("\n", " ")
      }.mkString("", " UNION ALL ", " ORDER BY col_name")
    })

  /** Exact KS drift PER SEGMENT ([[DriftExact.ksStatsByKey]]): every
    * event_type's target/ref slices compared in ONE scan — the group key
    * takes the role the column name plays in `drift_ks_exact`. Integer
    * numerator until one division ⇒ bit-exact oracle. */
  private def qDriftKsSegmented = Q(
    (s, dir) => segmentDrift(s, dir, "ks_stat")(DriftExact.ksStatsByKey(_, _, _, _)).orderBy("segment"),
    Some("""WITH g AS (SELECT event_type AS seg, value AS v,
           |    sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) AS ca,
           |    sum(CASE WHEN event_id % 3 <> 0 THEN 1 ELSE 0 END) AS cb
           |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
           |  GROUP BY 1, 2),
           | t AS (SELECT seg, sum(ca) AS na, sum(cb) AS nb FROM g GROUP BY 1),
           | c AS (SELECT seg, sum(ca) OVER (PARTITION BY seg ORDER BY v) AS cca,
           |       sum(cb) OVER (PARTITION BY seg ORDER BY v) AS ccb FROM g)
           | SELECT c.seg AS segment,
           |   CAST(max(abs(cca * nb - ccb * na)) AS DOUBLE)
           |     / CAST(na * nb AS DOUBLE) AS ks_stat,
           |   CAST(na AS BIGINT) AS n_target, CAST(nb AS BIGINT) AS n_ref
           | FROM c JOIN t ON c.seg = t.seg
           | GROUP BY c.seg, na, nb ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** Exact PSI PER SEGMENT ([[DriftExact.psiStatsByKey]]): each
    * event_type scored over its own [min, max] fixed-width bins, one
    * scan for all segments. psi rounded to 8 on both sides (ln() ulp
    * parity, as in the other PSI queries). */
  private def qDriftPsiSegmented = Q(
    (s, dir) => segmentDrift(s, dir, "psi")(DriftExact.psiStatsByKey(_, _, _, _))
      .select(F.col("segment"), F.round(F.col("psi"), 8).as("psi"),
        F.col("n_target"), F.col("n_ref"))
      .orderBy("segment"),
    Some(s"""WITH $segmentBinnedCtes,
           | d AS (SELECT g.seg, bin,
           |   GREATEST(CAST(ca AS DOUBLE)/na, 0.0001) AS pa,
           |   GREATEST(CAST(cb AS DOUBLE)/nb, 0.0001) AS pb, na, nb
           |  FROM g JOIN t ON g.seg = t.seg)
           | SELECT seg AS segment,
           |  round(sum((pa - pb) * ln(pa / pb) ORDER BY bin), 8) AS psi,
           |  CAST(max(na) AS BIGINT) AS n_target, CAST(max(nb) AS BIGINT) AS n_ref
           | FROM d GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** Per-segment exact JSD ([[DriftExact.jsdStatsByKey]]) on the
    * segmented-PSI layout; quantized ln ⇒ exact oracle match, no
    * rounding. */
  private def qDriftJsdSegmented = Q(
    (s, dir) => segmentDrift(s, dir, "jsd")(DriftExact.jsdStatsByKey(_, _, _, _)).orderBy("segment"),
    Some(s"""WITH $segmentBinnedCtes,
           | d AS (SELECT g.seg, bin,
           |   CAST(ca AS DOUBLE)/na AS pa, CAST(cb AS DOUBLE)/nb AS pb, na, nb
           |  FROM g JOIN t ON g.seg = t.seg)
           | SELECT seg AS segment,
           |  sum((CASE WHEN pa > 0 THEN 0.5 * (pa * (floor(ln(pa / ((pa + pb) / 2)) * 1000000000.0) / 1000000000.0)) ELSE 0.0 END)
           |   + (CASE WHEN pb > 0 THEN 0.5 * (pb * (floor(ln(pb / ((pa + pb) / 2)) * 1000000000.0) / 1000000000.0)) ELSE 0.0 END) ORDER BY bin) AS jsd,
           |  CAST(max(na) AS BIGINT) AS n_target, CAST(max(nb) AS BIGINT) AS n_ref
           | FROM d GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** Per-segment exact normalized EMD ([[DriftExact.emdStatsByKey]]) on
    * the segmented-PSI layout — integer CDF gaps per segment envelope,
    * empty bins included. */
  private def qDriftEmdSegmented = Q(
    (s, dir) => segmentDrift(s, dir, "emd")(DriftExact.emdStatsByKey(_, _, _, _)).orderBy("segment"),
    Some(s"""WITH $segmentBinnedCtes,
           | grid AS (SELECT t.seg, b.range AS bin FROM t, range(30) b),
           | d AS (SELECT grid.seg, grid.bin, COALESCE(g.ca, 0) AS ca, COALESCE(g.cb, 0) AS cb
           |  FROM grid LEFT JOIN g ON grid.seg = g.seg AND grid.bin = g.bin),
           | cc AS (SELECT seg, bin,
           |   sum(ca) OVER (PARTITION BY seg ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cuma,
           |   sum(cb) OVER (PARTITION BY seg ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cumb
           |  FROM d),
           | s AS (SELECT cc.seg, sum(abs(cuma * t.nb - cumb * t.na)) AS acc,
           |    max(t.na) AS na, max(t.nb) AS nb
           |  FROM cc JOIN t ON cc.seg = t.seg GROUP BY 1)
           | SELECT seg AS segment,
           |  CAST(acc AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * 30.0) AS emd,
           |  CAST(na AS BIGINT) AS n_target, CAST(nb AS BIGINT) AS n_ref
           | FROM s ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** Per-segment drift ALERT report: segmented exact KS and PSI fused
    * into one monitoring table with the conventional thresholds (KS
    * 0.1/0.2 per the reference's drift config bands; PSI 0.1/0.25,
    * Siddiqi 2006) — the table a monitoring loop actually pages on.
    * Status logic is pure CASE over already-bit-exact stats. */
  private def qDriftAlertReport = Q(
    (s, dir) => {
      import s.implicits._
      val ev = events(s, dir)
      val isT = F.col("event_id") % 3 === 0
      val ks = DriftExact.ksStatsByKey(ev, F.col("event_type"), "value", isT)
      val psi = DriftExact.psiStatsByKey(ev, F.col("event_type"), "value", isT)
      val segs = (ks.keySet ++ psi.keySet).toSeq.sorted
      segs.map { g =>
        val (d, na, nb) = ks.getOrElse(g, (0.0, 0L, 0L))
        val (p, _, _) = psi.getOrElse(g, (0.0, 0L, 0L))
        (g, d, p, na, nb)
      }.toDF("segment", "ks_stat", "psi0", "n_target", "n_ref")
        // round FIRST, derive statuses from the rounded value — both
        // engines then threshold the identical double
        .withColumn("psi", F.round(F.col("psi0"), 8))
        .select(F.col("segment"), F.col("ks_stat"), F.col("psi"),
          F.when(F.col("ks_stat") >= 0.2, "drift")
            .when(F.col("ks_stat") >= 0.1, "possible_drift")
            .otherwise("no_drift").as("ks_status"),
          F.when(F.col("psi") >= 0.25, "shifted")
            .when(F.col("psi") >= 0.1, "drifting")
            .otherwise("stable").as("psi_status"),
          F.col("n_target"), F.col("n_ref"))
        .orderBy("segment")
    },
    Some("""WITH b AS (SELECT event_type AS seg, CAST(value AS DOUBLE) AS v,
           |   CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS ta
           |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
           | kg AS (SELECT seg, v, sum(ta) AS ca, sum(1 - ta) AS cb FROM b GROUP BY 1, 2),
           | kt AS (SELECT seg, sum(ca) AS na, sum(cb) AS nb FROM kg GROUP BY 1),
           | kc AS (SELECT seg, sum(ca) OVER (PARTITION BY seg ORDER BY v) AS cca,
           |        sum(cb) OVER (PARTITION BY seg ORDER BY v) AS ccb FROM kg),
           | ks AS (SELECT kc.seg,
           |   CAST(max(abs(cca * nb - ccb * na)) AS DOUBLE) / CAST(na * nb AS DOUBLE) AS ks_stat,
           |   CAST(na AS BIGINT) AS n_target, CAST(nb AS BIGINT) AS n_ref
           |  FROM kc JOIN kt ON kc.seg = kt.seg GROUP BY kc.seg, na, nb),
           | mm AS (SELECT seg, min(v) AS lo, max(v) AS hi FROM b GROUP BY 1),
           | p AS (SELECT seg, lo, CASE WHEN hi > lo THEN (hi - lo)/30 ELSE 1.0 END AS wd FROM mm),
           | g AS (SELECT b.seg, LEAST(CAST(floor((v - lo)/wd) AS BIGINT), 29) AS bin,
           |   sum(ta) AS ca, sum(1 - ta) AS cb FROM b JOIN p ON b.seg = p.seg GROUP BY 1, 2),
           | t AS (SELECT seg, sum(ca) AS na, sum(cb) AS nb FROM g GROUP BY 1),
           | d AS (SELECT g.seg, bin,
           |   GREATEST(CAST(ca AS DOUBLE)/na, 0.0001) AS pa,
           |   GREATEST(CAST(cb AS DOUBLE)/nb, 0.0001) AS pb FROM g JOIN t ON g.seg = t.seg),
           | psi AS (SELECT seg, round(sum((pa - pb) * ln(pa / pb) ORDER BY bin), 8) AS psi
           |  FROM d GROUP BY 1)
           | SELECT ks.seg AS segment, ks.ks_stat, psi.psi,
           |  CASE WHEN ks.ks_stat >= 0.2 THEN 'drift'
           |       WHEN ks.ks_stat >= 0.1 THEN 'possible_drift'
           |       ELSE 'no_drift' END AS ks_status,
           |  CASE WHEN psi.psi >= 0.25 THEN 'shifted'
           |       WHEN psi.psi >= 0.1 THEN 'drifting'
           |       ELSE 'stable' END AS psi_status,
           |  ks.n_target, ks.n_ref
           | FROM ks JOIN psi ON ks.seg = psi.seg
           | ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** PSI over reference-decile bins ([[DriftExact.psiQuantileStats]]):
    * the equal-population-bin PSI configuration, with edges from the
    * distributed [[graft.analysis.ExactQuantiles]] (bit-equal to DuckDB
    * quantile_cont, so the oracle rebuilds the identical bins). psi
    * rounded to 8 on both sides to absorb 1-ulp ln() divergence. */
  private def qDriftPsiQuantile = Q(
    (s, dir) => liDrift(s, dir, "psi")(DriftExact.psiQuantileStats(_, _, _))
      .select(F.col("col_name"), F.round(F.col("psi"), 8).as("psi"),
        F.col("n_target"), F.col("n_ref"))
      .orderBy("col_name"),
    Some {
      liDriftCols.sorted.map { c =>
        val edges = (1 to 9).map(i =>
          s"quantile_cont(v, 0.$i) AS e$i").mkString(", ")
        val binSum = (1 to 9).map(i =>
          s"CASE WHEN v >= e$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""SELECT * FROM (
           | WITH b AS (SELECT CAST($c AS DOUBLE) AS v,
           |     CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE 0 END AS ta
           |   FROM lineitem WHERE $c IS NOT NULL),
           | e AS (SELECT $edges FROM b WHERE ta = 0),
           | g AS (SELECT ($binSum) AS bin,
           |     sum(ta) AS ca, sum(1 - ta) AS cb FROM b, e GROUP BY 1),
           | t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM g),
           | d AS (SELECT bin,
           |     GREATEST(CAST(ca AS DOUBLE) / na, 0.0001) AS pa,
           |     GREATEST(CAST(cb AS DOUBLE) / nb, 0.0001) AS pb
           |   FROM g, t)
           | SELECT '$c' AS col_name,
           |   round(sum((pa - pb) * ln(pa / pb) ORDER BY bin), 8) AS psi,
           |   CAST((SELECT na FROM t) AS BIGINT) AS n_target,
           |   CAST((SELECT nb FROM t) AS BIGINT) AS n_ref
           | FROM d
           |)""".stripMargin.replaceAll("\n", " ")
      }.mkString("", " UNION ALL ", " ORDER BY col_name")
    })

  /** Exact KS drift between every consecutive pair of daily windows of
    * `events.value` ([[DriftExact.ksTimeline]]) — the monitoring loop as
    * one distributed query. Integer numerator until one division ⇒
    * bit-exact oracle; day keys compared as strings. */
  private def qDriftTimelineKs = Q(
    (s, dir) => DriftExact.ksTimeline(
      events(s, dir),
      F.date_trunc("day", F.col("ts")).cast("date"),
      F.col("value"),
      b => F.date_add(b, 1))
      .select(F.col("bucket").cast("string").as("day"),
        F.col("ks_stat"), F.col("n_cur"), F.col("n_prev"))
      .orderBy("day"),
    Some("""WITH e AS (
           |  SELECT CAST(date_trunc('day', ts) AS DATE) AS b, CAST(value AS DOUBLE) AS v
           |  FROM events WHERE value IS NOT NULL),
           | u AS (
           |  SELECT b AS p, v, 1 AS ca, 0 AS cb FROM e
           |  UNION ALL
           |  SELECT b + 1 AS p, v, 0 AS ca, 1 AS cb FROM e),
           | g AS (SELECT p, v, sum(ca) AS ca, sum(cb) AS cb FROM u GROUP BY 1, 2),
           | t AS (SELECT p, CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb FROM g GROUP BY 1),
           | c AS (SELECT p, sum(ca) OVER (PARTITION BY p ORDER BY v) AS cca,
           |       sum(cb) OVER (PARTITION BY p ORDER BY v) AS ccb FROM g)
           | SELECT CAST(p AS VARCHAR) AS day,
           |  CAST(max(abs(cca * nb - ccb * na)) AS DOUBLE) / CAST(na * nb AS DOUBLE) AS ks_stat,
           |  na AS n_cur, nb AS n_prev
           | FROM c JOIN t USING (p)
           | WHERE na > 0 AND nb > 0
           | GROUP BY p, na, nb ORDER BY day""".stripMargin.replaceAll("\n", " ")))

  // ------------------------------------------------------------------
  // dedup / similarity / text / multimodal
  // ------------------------------------------------------------------

  private def qDedupExact = Q(
    (s, dir) => Dedup.exact(t(s, dir, "documents"), "text", "doc_id").orderBy("doc_id"),
    Some("""SELECT doc_id, md5(text) AS text_hash,
           | count(*) OVER (PARTITION BY md5(text)) AS dup_count,
           | (row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1) AS keep
           | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Fuzzy-exact dedup over [[Dedup.normalizeText]]-normalized content
    * (case/punctuation/whitespace-insensitive). The oracle replays the
    * normalization with RE2 classes chosen to agree with Java regex. */
  private def qDedupNormalized = Q(
    (s, dir) => Dedup.normalizedExact(t(s, dir, "documents"), "text", "doc_id")
      .orderBy("doc_id"),
    Some("""WITH n AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
           |   lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS norm_hash
           |  FROM documents)
           | SELECT doc_id, norm_hash,
           | count(*) OVER (PARTITION BY norm_hash) AS dup_count,
           | (row_number() OVER (PARTITION BY norm_hash ORDER BY doc_id) = 1) AS keep
           | FROM n ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  private def qDedupMinhashSig = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(F.col("doc_id"), Dedup.shingleIds(F.col("text")).as("sh"))
        .withColumn("sig", Dedup.minHashSignature(F.col("sh"), 16))
        .select(F.col("doc_id"), F.col("sig").getItem(0).as("sig0"),
          F.col("sig").getItem(1).as("sig1"), F.col("sig").getItem(2).as("sig2"),
          F.col("sig").getItem(3).as("sig3"))
        .orderBy("doc_id")
    },
    None)

  private def qDedupSimhash = Q(
    (s, dir) => Dedup.withSimHash(t(s, dir, "documents"), "text")
      .select("doc_id", "simhash").orderBy("doc_id"),
    None)

  /** Oracle-checked MinHash bridge: the same min-wise-hashing semantics
    * as `dedup_minhash_sig` (per permutation j, signature element j =
    * min over the document's shingle set of h_j(shingle)) with
    * h_j(g) = md5("j:" ++ g) in place of the native multiply-shift
    * permutations, so DuckDB reproduces every element verbatim — the md5
    * hex string's lexicographic min is the same min in both engines.
    * Pins the FAMILY's shingle→permute→min semantics; the production
    * path is the codegen'd MinHashSignature expression (one
    * multiply-add per gram instead of P md5 calls). */
  private def qDedupMinhashSigMd5 = Q(
    (s, dir) => {
      val sh = Dedup.shingles(F.col("text"), 3)
      val sigs = (0 until 4).map { j =>
        F.array_min(F.transform(sh, g =>
          F.md5(F.concat(F.lit(s"$j:"), g)))).as(s"sig$j")
      }
      t(s, dir, "documents").select(F.col("doc_id") +: sigs: _*).orderBy("doc_id")
    },
    Some {
      val sigs = (0 until 4).map { j =>
        s"list_min(list_transform(g, x -> md5('$j:' || x))) AS sig$j"
      }.mkString(", ")
      s"""WITH $tokCte,
         | sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
         |   for i in range(1, greatest(len(w) - 1, 1))]) AS g FROM tok)
         | SELECT doc_id, $sigs FROM sh ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    })

  /** Oracle-checked SimHash bridge: the same majority-vote-per-bit
    * semantics as `dedup_simhash` (bit b of the signature = sign of the
    * sum over tokens of ±1 according to bit b of the token's hash) at 16
    * bits with the per-bit hash derived from md5("b:" ++ token) — the
    * vote is +1 iff the first hex char is >= '8' (the hash's top bit),
    * a pure string comparison both engines evaluate identically. Ties
    * (vote sum 0) are bit 0 in both. Pins the FAMILY's
    * tokenize→vote→sign semantics; production is the one-pass native
    * SimHash64 expression. */
  private def qDedupSimhashMd5 = Q(
    (s, dir) => {
      val toks = Dedup.tokens(F.col("text"))
      val sim = (0 until 16).map { b =>
        val votes = F.aggregate(toks, F.lit(0), (acc, w) =>
          acc + F.when(F.substring(F.md5(F.concat(F.lit(s"$b:"), w)), 1, 1) >= "8", 1)
            .otherwise(-1))
        F.when(votes > 0, F.lit(1L << b)).otherwise(F.lit(0L))
      }.reduce(_ + _)
      t(s, dir, "documents")
        .select(F.col("doc_id"), sim.as("simhash_md5")).orderBy("doc_id")
    },
    Some {
      val bits = (0 until 16).map { b =>
        s"CASE WHEN COALESCE(list_sum(list_transform(w, t -> CASE WHEN substr(md5('$b:' || t), 1, 1) >= '8' THEN 1 ELSE -1 END)), 0) > 0 THEN ${1L << b} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH $tokCte
         | SELECT doc_id, CAST($bits AS BIGINT) AS simhash_md5 FROM tok ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    })

  private def qNgramJaccard = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(F.col("doc_id"), Dedup.shingles(F.col("text"), 3).as("sh"))
      val a = docs.select(F.col("doc_id").as("a"), F.col("sh").as("sha"))
      val b = docs.select(F.col("doc_id").as("b"), F.col("sh").as("shb"))
      a.join(b, F.col("b") === F.col("a") + 1)
        .select(F.col("a"), F.col("b"),
          Dedup.jaccard(F.col("sha"), F.col("shb")).as("jaccard"))
        .orderBy("a")
    },
    Some(s"""WITH ${shingleCte()}
           | SELECT a.doc_id AS a, b.doc_id AS b,
           |  $jaccardSql AS jaccard
           | FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 ORDER BY a""".stripMargin.replaceAll("\n", " ")))

  /** Flagship near-dup pipeline (LSH banding + exact-Jaccard verify).
    * threshold=0.5 sits in the wide empty band between the corpus noise
    * floor (max non-dup Jaccard ≈ 0.03) and the planted duplicates
    * (≥ 0.88), and bands=32 × rows=2 gives miss probability
    * (1−J²)³² ≈ 2e-22 per planted pair — so the LSH output provably
    * equals the exact all-pairs oracle on this corpus. */
  private def qDedupNear = Q(
    (s, dir) => {
      // The corpus arrives as ONE parquet split locally, which would run
      // the minhash map stage single-threaded; a real 100 TB corpus has
      // thousands of splits. Spread the small file across the cores.
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, F.col("doc_id"))
      Dedup.minHashNearDups(docs, "text", "doc_id",
        numPerm = 64, bands = 32, threshold = 0.5)
        .orderBy("a", "b")
    },
    Some(nearDupPairsOracle("", "b.doc_id > a.doc_id")))

  /** Train/eval split-leakage audit
    * ([[graft.pipeline.Decontaminate.splitLeakage]]): the corpus under
    * the standard deterministic 80/10/10 hash split, listing every
    * near-dup pair that straddles splits — eval contamination. Same
    * provable-equality regime as `dedup_near` (bimodal corpus), with
    * the split labels replayed from md5 thresholds like
    * `sample_split`. */
  private def qSplitLeakage = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, F.col("doc_id"))
        .withColumn("split", Sampling.hashSplit(F.col("doc_id"), "split",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      Decontaminate.splitLeakage(docs, "text", "doc_id", "split")
        .orderBy("a", "b")
    },
    Some(s"""WITH sp AS (SELECT doc_id,
           |   CASE WHEN h < 'cccccccd' THEN 'train'
           |        WHEN h < 'e6666666' THEN 'val'
           |        ELSE 'test' END AS split
           |  FROM (SELECT doc_id, substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h FROM documents)),
           | ${shingleCte()},
           | pr AS (SELECT a.doc_id AS a, b.doc_id AS b,
           |   $jaccardSql AS jaccard
           |  $nearDupJoinSql)
           | SELECT pr.a, pr.b, pr.jaccard, sa.split AS split_a, sb.split AS split_b
           | FROM pr JOIN sp sa ON pr.a = sa.doc_id JOIN sp sb ON pr.b = sb.doc_id
           | WHERE sa.split <> sb.split ORDER BY a, b""".stripMargin.replaceAll("\n", " ")))

  /** Incremental dedup: the src1 slice as the arriving batch, the rest
    * of the corpus as a stored [[Dedup.minHashIndex]] — the ingestion
    * pattern where only the batch is ever re-shingled. Same provable-
    * equality regime as `dedup_near` (bimodal corpus, miss-prob 2e-22). */
  private def qDedupIncremental = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, F.col("doc_id"))
      val index = Dedup.minHashIndex(
        docs.filter(F.col("source") =!= "src1"), "text", "doc_id")
      Dedup.nearDupsAgainstIndex(
        docs.filter(F.col("source") === "src1"), index, "text", "doc_id",
        numPerm = 64, bands = 32, threshold = 0.5)
        .orderBy("a", "b")
    },
    Some(nearDupPairsOracle(", source", "a.source = 'src1' AND b.source <> 'src1'")))

  /** Near-dup CLUSTERS: the pair set of `dedup_near` closed under
    * transitivity (alternating large-star/small-star — see
    * [[graft.pipeline.ConnectedComponents]]), with the canonical-keep
    * decision per cluster. Oracle: recursive-CTE min-label reachability
    * over the identical exact-Jaccard pair set, so equality holds under
    * the same 2e-22 LSH miss-probability argument as `dedup_near`. */
  private def qDedupClusters = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, F.col("doc_id"))
      Dedup.nearDupClusters(docs, "text", "doc_id",
        numPerm = 64, bands = 32, threshold = 0.5)
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE ${nearDupComponentsCte()},
           | sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
           | SELECT c.id AS doc_id, c.component, s.cluster_size, c.id = c.component AS keep
           | FROM comp c JOIN sizes s USING (component) ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Keep-best cluster selection: identical clustering to
    * `dedup_clusters`, keeper = (n_chars desc, doc_id asc) argmax per
    * component — the policy production pipelines actually run (keep the
    * longest/highest-quality member, drop the rest). */
  private def qDedupKeepBest = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, F.col("doc_id"))
      Dedup.nearDupClustersKeepBest(docs, "text", "doc_id", "n_chars",
        numPerm = 64, bands = 32, threshold = 0.5)
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE ${nearDupComponentsCte()},
           | sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
           | SELECT c.id AS doc_id, c.component, s.cluster_size,
           |  CAST(d.n_chars AS DOUBLE) AS score,
           |  row_number() OVER (PARTITION BY c.component
           |    ORDER BY d.n_chars DESC, c.id ASC) = 1 AS keep
           | FROM comp c JOIN sizes s USING (component)
           | JOIN documents d ON d.doc_id = c.id
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Dedup APPLIED as a corpus filter ([[graft.pipeline.Dedup.dropNearDups]]):
    * the documents table minus every clustered non-best member — the
    * anti-join shape a 100 TB pipeline runs (the drop list is bounded
    * by duplicates found, never corpus-sized identity rows). Oracle:
    * the `dedup_keep_best` recursive-CTE clustering, inverted into a
    * NOT IN filter. */
  private def qDedupApply = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, F.col("doc_id"))
      Dedup.dropNearDups(docs, "text", "doc_id", scoreCol = Some("n_chars"),
        numPerm = 64, bands = 32, threshold = 0.5)
        .select("doc_id", "source").orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE ${nearDupComponentsCte()},
           | keepers AS (
           |   SELECT c.id,
           |    row_number() OVER (PARTITION BY c.component
           |      ORDER BY d.n_chars DESC, c.id ASC) = 1 AS keep
           |   FROM comp c JOIN documents d ON d.doc_id = c.id)
           | SELECT doc_id, source FROM documents
           | WHERE doc_id NOT IN (SELECT id FROM keepers WHERE NOT keep)
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Paragraph dedup over deterministic multi-paragraph documents: the
    * fixture's texts carry no newlines, so 3 consecutive docs join into
    * one document per `doc_id div 3` — reproducible verbatim in SQL, so
    * the oracle replays the whole pipeline (assembly, split, md5,
    * canonical election) exactly. Duplicate paragraphs = duplicate
    * original texts, which the fixture contains by construction. */
  private def qDedupParagraphs = Q(
    (s, dir) => Dedup.paragraphDedup(paragraphFixture(s, dir), "text", "gid")
      .orderBy("id", "para_idx"),
    Some(s"""$paragraphOracleCte
           | SELECT id, para_idx, para, para_hash,
           |  count(*) OVER (PARTITION BY para_hash) AS occurrences,
           |  row_number() OVER (PARTITION BY para_hash ORDER BY id, para_idx) = 1 AS keep
           | FROM h ORDER BY id, para_idx""".stripMargin.replaceAll("\n", " ")))

  /** The count-only paragraph variant
    * ([[graft.pipeline.Dedup.paragraphDedupCounts]]): identical
    * occurrence counts and keep verdicts, no string payload in any
    * exchange — the shape a 100 TB masking pass runs before
    * anti-joining `keep = false` positions back against the corpus. */
  private def qDedupParagraphsCounts = Q(
    (s, dir) => Dedup.paragraphDedupCounts(paragraphFixture(s, dir), "text", "gid")
      .orderBy("id", "para_idx"),
    Some(s"""$paragraphOracleCte
           | SELECT id, para_idx, para_hash,
           |  count(*) OVER (PARTITION BY para_hash) AS occurrences,
           |  row_number() OVER (PARTITION BY para_hash ORDER BY id, para_idx) = 1 AS keep
           | FROM h ORDER BY id, para_idx""".stripMargin.replaceAll("\n", " ")))

  /** Deterministic multi-paragraph documents for both paragraph-dedup
    * queries: 3 consecutive single-line docs join into one document per
    * `doc_id div 3`. */
  private def paragraphFixture(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(F.expr("doc_id div 3").as("gid"))
      .agg(F.array_join(
        F.transform(
          F.array_sort(F.collect_list(F.struct(F.col("doc_id"), F.col("text")))),
          x => x.getField("text")), "\n").as("text"))

  private val paragraphOracleCte: String =
    """WITH g AS (
      |  SELECT doc_id // 3 AS id, string_agg(text, chr(10) ORDER BY doc_id) AS text
      |  FROM documents GROUP BY doc_id // 3),
      | p AS (
      |  SELECT id, CAST(u.i - 1 AS BIGINT) AS para_idx, u.p AS para FROM (
      |   SELECT id, unnest([{'i': i, 'p': parts[i]} for i in range(1, len(parts) + 1)]) AS u
      |   FROM (SELECT id, string_split(text, chr(10)) AS parts FROM g))
      |  WHERE trim(u.p) <> ''),
      | h AS (SELECT id, para_idx, para, md5(para) AS para_hash FROM p)""".stripMargin

  /** Domain balancing: at most 3 docs per source, chosen by the
    * deterministic md5 rank — the DuckDB oracle replays the identical
    * hash and window, so the surviving row set matches exactly. */
  private def qSampleDomainCap = Q(
    (s, dir) =>
      Sampling.capPerKey(t(s, dir, "documents"),
        F.col("source"), F.col("doc_id"), cap = 3)
        .select("doc_id", "source").orderBy("doc_id"),
    Some("""SELECT doc_id, source FROM (
           |  SELECT doc_id, source,
           |   row_number() OVER (PARTITION BY source
           |     ORDER BY substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk
           |  FROM documents) WHERE rk <= 3 ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Deterministic corpus shuffle/sharding
    * ([[graft.pipeline.Sampling.deterministicShuffle]]): the
    * reproducible (shard, pos) training order — shard from digest hex
    * 9–12 mod 8, within-shard order from hex 1–8 with key tie-break.
    * Pure md5/string/integer ops; DuckDB parses the shard nibble via a
    * 0x-literal cast and replays the permutation exactly. */
  private def qCorpusShuffle = Q(
    (s, dir) =>
      Sampling.deterministicShuffle(t(s, dir, "documents"),
        F.col("doc_id"), numShards = 8)
        .select("doc_id", "shard", "pos").orderBy("doc_id"),
    Some("""SELECT doc_id, shard, pos FROM (
           |  SELECT doc_id,
           |   CAST('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 9, 4) AS INTEGER) % 8 AS shard,
           |   CAST(row_number() OVER (
           |     PARTITION BY CAST('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 9, 4) AS INTEGER) % 8
           |     ORDER BY substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS BIGINT) AS pos
           |  FROM documents) ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Size-balanced shard planning ([[Sampling.balancedShards]]): the
    * 64 heaviest docs dealt by global serpentine, the tail by an
    * golden-ratio rotation of in-group weight ranks over per-shard
    * deficit quotas — per-shard token totals near-equal even with
    * indivisible outliers, with every rank window bounded (64-row
    * top-k; corpus/4 per salt group). The oracle replays the top-k
    * rank, boustrophedon arithmetic, integer quota fold and the
    * integer rotation exactly. */
  private def qCorpusShards = Q(
    (s, dir) =>
      Sampling.balancedShards(
          t(s, dir, "documents")
            .select(F.col("doc_id"),
              TextAnalysis.tokenCount(F.col("text")).cast("long").as("tokens")),
          F.col("doc_id"), F.col("tokens"), numShards = 8, saltGroups = 4)
        .select("doc_id", "tokens", "shard").orderBy("doc_id"),
    Some(corpusShardsCte + " SELECT doc_id, tokens, shard FROM a ORDER BY doc_id"))

  private val corpusShardsCte: String =
    """WITH w AS (SELECT doc_id,
      |   CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS BIGINT) AS tokens
      |  FROM documents),
      | t AS (SELECT doc_id, tokens,
      |   row_number() OVER (ORDER BY tokens DESC, doc_id) - 1 AS tr FROM w),
      | top AS (SELECT doc_id, tokens,
      |   CAST(CASE WHEN tr % 16 < 8 THEN tr % 16 ELSE 15 - tr % 16 END AS INT) AS shard
      |  FROM t WHERE tr < 64),
      | tt AS (SELECT shard, CAST(sum(tokens) AS BIGINT) AS tw FROM top GROUP BY 1),
      | q AS (SELECT s.shard,
      |   greatest(0, (SELECT CAST(sum(tokens) AS BIGINT) FROM w) - 8 * coalesce(tt.tw, 0)) AS d
      |  FROM (SELECT unnest(range(0, 8)) AS shard) s LEFT JOIN tt USING (shard)),
      | qq AS (SELECT shard, CAST(sum(d) OVER (ORDER BY shard ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM q),
      | qn AS (SELECT shard, CAST(cum AS DOUBLE) / CASE WHEN (SELECT max(cum) FROM qq) = 0
      |   THEN 1 ELSE (SELECT max(cum) FROM qq) END AS thr FROM qq),
      | rest AS (SELECT doc_id, tokens,
      |   CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 4 AS grp
      |  FROM t WHERE tr >= 64),
      | rr AS (SELECT doc_id, tokens, grp,
      |   row_number() OVER (PARTITION BY grp ORDER BY tokens DESC, doc_id) - 1 AS r0 FROM rest),
      | ru AS (SELECT doc_id, tokens,
      |   ((r0 * 2654435761 + grp * 1013904223) % 4294967296) / 4294967296.0 AS u FROM rr),
      | ra AS (SELECT doc_id, tokens,
      |   CAST((SELECT min(shard) FROM qn WHERE ru.u < qn.thr OR qn.shard = 7) AS INT) AS shard
      |  FROM ru),
      | a AS (SELECT doc_id, tokens, shard FROM top UNION ALL SELECT doc_id, tokens, shard FROM ra)""".stripMargin
      .replaceAll("\n", " ")

  /** Per-shard rollup of [[qCorpusShards]]' plan — the balance report a
    * shard writer checks before committing: docs and token totals per
    * shard. */
  private def qCorpusShardStats = Q(
    (s, dir) =>
      Sampling.balancedShards(
          t(s, dir, "documents")
            .select(F.col("doc_id"),
              TextAnalysis.tokenCount(F.col("text")).cast("long").as("tokens")),
          F.col("doc_id"), F.col("tokens"), numShards = 8, saltGroups = 4)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).as("n_docs"), F.sum("tokens").as("total_tokens"))
        .orderBy("shard"),
    Some(corpusShardsCte +
      """ SELECT shard, count(*) AS n_docs,
        | CAST(sum(tokens) AS BIGINT) AS total_tokens
        | FROM a GROUP BY 1 ORDER BY shard""".stripMargin.replaceAll("\n", " ")))

  /** Token-budget mixture planning ([[Sampling.mixtureWeights]]) over
    * four sources at the feasible budget (maxEpochs = 2). Shares are
    * dyadic (0.5/0.25/0.125) so normalization is exact in binary and
    * the oracle's CASE literals equal Spark's computed shares bit-for-
    * bit; `tokens` sums integers (exact in double), and every
    * downstream expression is replayed operation-for-operation. */
  private def qMixtureWeights = Q(
    (s, dir) =>
      Sampling.mixtureWeights(t(s, dir, "documents"),
        F.col("source"), F.col("n_chars"),
        targets = Map("src0" -> 0.5, "src1" -> 0.25,
          "src2" -> 0.125, "src3" -> 0.125),
        budget = None, maxEpochs = 2.0)
        .select(F.col("domain"), F.col("tokens"), F.col("target_share"),
          F.round(F.col("budget_tokens"), 6).as("budget_tokens"),
          F.round(F.col("rate"), 6).as("rate"), F.col("capped"))
        .orderBy("domain"),
    Some("""WITH s AS (
           |  SELECT source AS domain, CAST(sum(n_chars) AS DOUBLE) AS tokens,
           |   CASE source WHEN 'src0' THEN 0.5::DOUBLE WHEN 'src1' THEN 0.25::DOUBLE
           |     WHEN 'src2' THEN 0.125::DOUBLE WHEN 'src3' THEN 0.125::DOUBLE END AS target_share
           |  FROM documents WHERE source IN ('src0','src1','src2','src3') GROUP BY source),
           | b AS (SELECT min(tokens * 2.0::DOUBLE / target_share) AS budget_total FROM s)
           | SELECT domain, tokens, target_share,
           |  round(target_share * budget_total, 6) AS budget_tokens,
           |  round(least(target_share * budget_total / tokens, 2.0::DOUBLE), 6) AS rate,
           |  target_share * budget_total / tokens > 2.0::DOUBLE AS capped
           | FROM s, b ORDER BY domain""".stripMargin.replaceAll("\n", " ")))

  /** Mixture application ([[Sampling.applyMixture]]): per-domain rates
    * spanning every branch — full upsample (2.0), fractional upsample
    * (1.4), downsample (0.4), drop (0.0), pass-through default. The
    * oracle replays the epoch fanout and the per-epoch md5 threshold
    * draw verbatim (thresholds below are the library's own
    * [[Sampling.thresholdHex]] values). */
  private def qMixtureApply = Q(
    (s, dir) =>
      Sampling.applyMixture(t(s, dir, "documents"),
        F.col("source"), F.col("doc_id"),
        rates = Map("src0" -> 2.0, "src1" -> 1.4, "src2" -> 0.4, "src3" -> 0.0))
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch"),
    Some {
      def thr(r: Double): String =
        Sampling.thresholdHex(math.min(math.max(r - math.floor(r), 0.0), 1.0))
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |   CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 2
         |     WHEN 'src2' THEN 1 WHEN 'src3' THEN 1 ELSE 1 END AS cc,
         |   CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
         |     WHEN 'src2' THEN 0 WHEN 'src3' THEN 0 ELSE 1 END AS nfull,
         |   CASE source WHEN 'src0' THEN '${thr(2.0)}' WHEN 'src1' THEN '${thr(1.4)}'
         |     WHEN 'src2' THEN '${thr(0.4)}' WHEN 'src3' THEN '${thr(0.0)}'
         |     ELSE '${thr(1.0)}' END AS thr
         |  FROM documents),
         | e AS (SELECT doc_id, source, nfull, thr,
         |   unnest(generate_series(0, cc - 1)) AS epoch FROM r)
         | SELECT doc_id, source, CAST(epoch AS INT) AS epoch FROM e
         | WHERE epoch < nfull
         |  OR substr(md5('mix:' || epoch || ':' || doc_id), 1, 8) < thr
         | ORDER BY doc_id, epoch""".stripMargin.replaceAll("\n", " ")
    })

  /** The over-cap branch under the oracle: a 30-copy mega-cluster planted
    * from doc 0 makes every one of its 32 band buckets exceed cap=8, so
    * candidate generation switches to [[Dedup.lshPairs]] star edges — the
    * branch no natural sf bucket reaches. Equality with the exact-Jaccard
    * clustering oracle holds because (a) the mega-cluster is mutually
    * identical: every star edge (rep=0, member) verifies at jaccard 1.0
    * and the closure recovers the whole 31-member component; (b) every
    * OTHER bucket stays far under cap (natural clusters here are ≤3 and
    * noise band-collisions are (J≈0.03)² per pair), so the rest of the
    * corpus follows `dedup_clusters`' 2e-22 miss-probability argument
    * unchanged. */
  private def qDedupNearCapped = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val copies = docs.filter(F.col("doc_id") === 0)
        .select(F.explode(F.sequence(F.lit(1L), F.lit(30L))).as("k"), F.col("text"))
        .select((F.col("k") + 1000000L).as("doc_id"), F.col("text"))
      val corpus = docs.select("doc_id", "text").unionByName(copies)
        .repartition(s.sparkContext.defaultParallelism, F.col("doc_id"))
      Dedup.nearDupClusters(corpus, "text", "doc_id",
        numPerm = 64, bands = 32, threshold = 0.5, maxBucketSize = 8)
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT 1000000 + t.k AS doc_id, d.text FROM documents d, range(1, 31) t(k) WHERE d.doc_id = 0),
           | ${nearDupComponentsCte("corpus")},
           | sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
           | SELECT c.id AS doc_id, c.component, s.cluster_size, c.id = c.component AS keep
           | FROM comp c JOIN sizes s USING (component) ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  private def qEmbeddingTopK = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(F.col("vec_id") < 20), k = 5)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
    Some(embeddingTopKOracle()))

  private def qEmbeddingIvf = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(F.col("vec_id") < 20),
        numCentroids = 8, nprobe = 3, k = 5)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
    None)

  /** IVF with EXHAUSTIVE probing (nprobe = numCentroids): every cell is
    * probed, so the candidate set is the whole corpus and the result
    * must equal brute force exactly — the DuckDB all-pairs top-k oracle
    * states that in SQL (same ordering contract (sim desc, id desc) as
    * `embedding_topk`). An oracle-checked pin for the IVF
    * assignment/scoring path; the pruned production shape stays the
    * recall-gated `embedding_ivf`. */
  private def qEmbeddingIvfExhaustive = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(F.col("vec_id") < 20),
        numCentroids = 8, nprobe = 8, k = 5)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
    Some(embeddingTopKOracle()))

  /** PQ with EXHAUSTIVE re-rank (rerank >= corpus): every ADC candidate
    * survives to the exact-cosine re-scoring, so the result must equal
    * brute force — the documented "re-rank depth ⇒ exactness" contract
    * of [[Similarity.pqTopK]], stated in SQL. The re-rank scores on
    * double-cast vectors, so the oracle casts too (tie semantics:
    * distinct vectors never tie within 1e-16; identical vectors tie
    * exactly in both engines and break by id desc). Production stays
    * the bounded-rerank `embedding_pq` + recall gate. */
  private def qEmbeddingPqExhaustive = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(F.col("vec_id") < 20),
        m = 16, ksub = 16, k = 5, rerank = 1000000)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
    Some(embeddingTopKOracle("::DOUBLE[]")))

  /** Composed IVF-PQ ([[Similarity.ivfPqTopK]]) with EXHAUSTIVE
    * probing AND re-rank (nprobe = numCentroids, rerank ≥ corpus): all
    * cells probed ⇒ the candidate set is the whole corpus; all
    * candidates exactly re-ranked ⇒ the result must equal brute force
    * REGARDLESS of what the coarse quantizer and the residual PQ did —
    * the FAISS-IVFADC composition's end-to-end correctness contract,
    * stated in SQL (same ordering contract and double-cast cosine as
    * `embedding_pq_exhaustive`). Production stays the pruned
    * `embedding_ivfpq` + recall gate below. */
  private def qEmbeddingIvfPqExhaustive = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(F.col("vec_id") < 20),
        numCentroids = 8, nprobe = 8, m = 16, ksub = 16, k = 5,
        rerank = 1000000)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
    Some(embeddingTopKOracle("::DOUBLE[]")))

  /** IVF-PQ ANN AT INGESTION ([[Similarity.ivfPqStream]]): query
    * vectors arrive as a stream, the compressed index is static, and
    * each micro-batch is answered with full batch semantics inside
    * foreachBatch (the search's TWO bounded top-k aggregations cannot
    * chain as stream aggregations; per-query results are
    * batch-independent, so streamed ≡ batch). Exhaustive config ⇒ the
    * streamed results must equal brute force — the SAME oracle as
    * `embedding_ivfpq_exhaustive`, so the streaming deployment shares
    * the composition's exactness contract verbatim. */
  private def qStreamingIvfPq = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ix = Similarity.ivfPqBuild(emb, numCentroids = 8, m = 16, ksub = 16)
      val sdf = st(s, dir, "embeddings")
        .filter(F.col("vec_id") < 20)
      val out = scratch("ivfpq_")
      val q = Similarity.ivfPqStream(ix, sdf, "vec_id", "embedding", out,
        nprobe = 8, k = 5, rerank = 1000000)
      q.awaitTermination()
      s.read.parquet(out)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
    qEmbeddingIvfPqExhaustive.oracle)

  /** IVF-PQ INDEX MAINTENANCE AT INGESTION ([[Similarity.ivfPqIngest]]):
    * the corpus ARRIVES AS A STREAM and is encoded map-only against
    * frozen codebooks into a cell-partitioned parquet store (a true
    * streaming append sink — no aggregation, exactly-once via the sink
    * manifest); the store is then read back as the searchable index
    * and probed exhaustively, so the results must equal brute force —
    * the same oracle as `embedding_ivfpq_exhaustive`. Certifies the
    * full index lifecycle: train → stream-ingest codes → search. */
  private def qStreamingIvfPqIngest = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ix0 = Similarity.ivfPqBuild(emb, numCentroids = 8, m = 16, ksub = 16)
      val sdf = st(s, dir, "embeddings")
      val base = scratch("ivfpqstore_")
      val q = Similarity.ivfPqIngest(ix0, sdf, "vec_id", "embedding",
        s"$base/store", s"$base/ckpt")
      q.awaitTermination()
      val ix = ix0.withEncoded(s.read.parquet(s"$base/store"),
        emb.select(F.col("vec_id").as("neighbor_id"),
          F.col("embedding").cast("array<double>").as("__cv")))
      Similarity.ivfPqSearch(ix, emb.filter(F.col("vec_id") < 20),
          nprobe = 8, k = 5, rerank = 1000000)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
    qEmbeddingIvfPqExhaustive.oracle)

  /** IVF-PQ INDEX PERSISTENCE ([[Similarity.ivfPqSave]] /
    * [[Similarity.ivfPqLoad]]): build → save the codebooks (two
    * KB-scale parquet tables + ksub) → write the codes as a
    * cell-partitioned store → RELOAD everything from disk and search.
    * The loaded index's search must equal brute force under the
    * exhaustive config — same oracle as `embedding_ivfpq_exhaustive` —
    * which certifies the save/load round-trip bit-exactly (doubles
    * round-trip parquet exactly; any codebook/centroid/ksub drift
    * would re-rank different candidates). Closes the lifecycle: a
    * fresh session can now search a store it didn't build. */
  private def qIvfPqPersistedSearch = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val ix0 = Similarity.ivfPqBuild(emb, numCentroids = 8, m = 16, ksub = 16)
      val base = scratch("ivfpqix_")
      Similarity.ivfPqSave(ix0, s"$base/index")
      ix0.encoded.write.partitionBy("__cell").parquet(s"$base/store")
      // from here on, nothing from ix0 is used — codebooks, codes and
      // re-rank vectors all come from disk/base tables, as a fresh
      // session would
      val ix = Similarity.ivfPqLoad(s, s"$base/index", s"$base/store", emb)
      Similarity.ivfPqSearch(ix, emb.filter(F.col("vec_id") < 20),
          nprobe = 8, k = 5, rerank = 1000000)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
    qEmbeddingIvfPqExhaustive.oracle)

  /** Pruned IVF-PQ (rows-only: codebooks are data-trained; the shape
    * is nprobe 4 of 8 cells × rerank 50 ADC candidates — the actual
    * compressed-and-pruned production scan). Recall vs brute force is
    * gated ≥ 0.8 in IvfPqSpec; the exactness contract is pinned by
    * `embedding_ivfpq_exhaustive` above. */
  private def qEmbeddingIvfPq = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(F.col("vec_id") < 20),
        numCentroids = 8, nprobe = 4, m = 16, ksub = 16, k = 5, rerank = 50)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
    None)

  /** EmbeddingMetric (per-reference distance distributions + closest
    * counts): first 4 corpus vectors are the labeled references. The
    * oracle recomputes cosine distance with the explicit
    * dot/(sqrt·sqrt) formula so both engines accumulate doubles in the
    * same order — values are bit-identical, not just rank-identical. */
  /** Embedding-cosine near-dup, exact variant: all pairs at sim ≥ τ via
    * broadcast self-join — the oracle baseline (the LSH variant below is
    * the scale path). τ=0.4 sits in this corpus's top-similarity tail
    * (59 pairs at sf0.01); near-dup thresholds on real embedding spaces
    * are data-dependent. */
  private def qDedupEmbedding = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cosineNearDupExact(emb, "vec_id", "embedding", tau = 0.4)
        .orderBy("a", "b")
    },
    Some("""SELECT a.vec_id AS a, b.vec_id AS b,
           | list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
           |  (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
           |   sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS sim
           | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           | WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
           |  (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
           |   sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.4
           | ORDER BY a, b""".stripMargin.replaceAll("\n", " ")))

  /** Oracle-checked cosine-LSH bridge
    * ([[Similarity.rademacherBands]]): hyperplane components are
    * md5-derived ±1 (Rademacher), so DuckDB re-derives the identical
    * planes, bucket keys, candidate set and exact-cosine verdicts —
    * pinning the FAMILY's band → bucket-join → verify semantics
    * end-to-end (candidate recall under these fixed planes is whatever
    * it is — both engines agree on it exactly). `maxBucketSize = 0`
    * disables the star-edge cap so the pair set is the plain
    * per-bucket closure the SQL replays. Production stays the native
    * seeded Gaussian hyperplanes (rows-only + recall gate below). */
  private def qDedupEmbeddingLshMd5 = Q(
    (s, dir) => Similarity.cosineNearDupBanded(
      t(s, dir, "embeddings"), "vec_id", "embedding",
      v => Similarity.rademacherBands(v, dim = 64, bitsPerBand = 8, bands = 8),
      tau = 0.4, maxBucketSize = 0)
      .orderBy("a", "b"),
    Some("""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           | keys AS (
           |  SELECT vec_id, b,
           |    string_agg(CASE WHEN dot >= 0 THEN '1' ELSE '0' END, '' ORDER BY k) AS bucket
           |  FROM (
           |    SELECT v.vec_id, bb.b AS b, kk.k AS k,
           |      list_dot_product(
           |        [CASE WHEN substr(md5(CAST(bb.b AS VARCHAR) || ':' || CAST(kk.k AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1) >= '8' THEN 1.0 ELSE -1.0 END for d in range(0, 64)],
           |        v.e) AS dot
           |    FROM v, (SELECT unnest(range(0, 8)) AS b) bb, (SELECT unnest(range(0, 8)) AS k) kk)
           |  GROUP BY vec_id, b),
           | p AS (SELECT DISTINCT ka.vec_id AS a, kb.vec_id AS b
           |   FROM keys ka JOIN keys kb ON ka.b = kb.b AND ka.bucket = kb.bucket
           |     AND ka.vec_id < kb.vec_id)
           | SELECT a, b,
           |   list_dot_product(va.e, vb.e) /
           |    (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e))) AS sim
           | FROM p JOIN v va ON p.a = va.vec_id JOIN v vb ON p.b = vb.vec_id
           | WHERE list_dot_product(va.e, vb.e) /
           |    (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e))) >= 0.4
           | ORDER BY a, b""".stripMargin.replaceAll("\n", " ")))

  /** LSH-bucketed cosine near-dup (random hyperplanes): deliberately
    * rows-only. Unlike `dedup_near` (bimodal corpus: noise ≈0.03 vs
    * planted ≥0.88 ⇒ miss-prob 2e-22, oracle equality provable), this
    * corpus's pairs cluster AT the τ=0.4 threshold (0.40–0.51 at
    * sf0.01), so P(find all | redrawn planes) is only ~0.85 even at 32
    * bands and near-1 needs 64 bands ≈ 2.7× the band-exchange cost.
    * PipelineSpec gates recall ≥ 0.9 against the exact variant instead. */
  private def qDedupEmbeddingLsh = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // low τ needs wide bands: 24 bands × 4 bits ⇒ find-prob ≥ 0.98 at
      // sim 0.4 (see Similarity.cosineNearDupLsh scaladoc)
      Similarity.cosineNearDupLsh(emb, "vec_id", "embedding",
        tau = 0.4, bitsPerBand = 4, bands = 24)
        .orderBy("a", "b")
    },
    None)

  /** Quantitative recall gate for the LSH near-dup path, oracle-checked:
    * hits = |LSH pairs| (LSH verifies candidates with exact cosine, so
    * LSH ⊆ exact), total = |exact pairs|. At 64 bands × 4 bits a pair at
    * the worst observed sim (0.40) is missed with prob (1−0.631⁴)⁶⁴ ≈
    * 1.6e-5 — with ~60 true pairs and a FIXED hyperplane seed the result
    * is recall = 1.0 deterministically, which the exact-cosine oracle can
    * state in SQL. (The narrower 24-band production default is gated at
    * ≥0.9 in PipelineSpec; this row pins the wide-band configuration.) */
  private def qDedupEmbeddingLshRecall = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // the exact pair list feeds BOTH the hit join and the total count —
      // materialize it once or the O(n²) all-pairs pass runs twice
      val exact = Similarity.cosineNearDupExact(emb, "vec_id", "embedding", tau = 0.4)
        .select("a", "b").transform(Checkpoint.pin(_, eager = true))
      val lsh = Similarity.cosineNearDupLsh(emb, "vec_id", "embedding",
        tau = 0.4, bitsPerBand = 4, bands = 64).select("a", "b")
      val hits = exact.join(lsh, Seq("a", "b")).agg(F.count(F.lit(1)).as("hits"))
      val total = exact.agg(F.count(F.lit(1)).as("total"))
      hits.crossJoin(total)
        .select(F.col("hits"), F.col("total"),
          (F.col("hits").cast("double") / F.col("total")).as("recall"))
    },
    Some("""SELECT count(*) AS hits, count(*) AS total, CAST(1.0 AS DOUBLE) AS recall
           | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           | WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
           |  (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
           |   sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= 0.4""".stripMargin.replaceAll("\n", " ")))

  /** SemDeDup (Abbas et al. 2023), single-cluster configuration — the
    * oracle-checkable baseline: with `numClusters = 1` the trained
    * "codebook" degenerates to the corpus mean (seed = first vector,
    * every Lloyd iteration reassigns all to it), so DuckDB can restate
    * the whole pipeline exactly — elementwise-mean centroid, cosine to
    * it, and the paper's keep-low-centroid-similarity rule over exact
    * near-dup pairs at τ=0.4. `centroid_sim` is rounded to 6 dp: the two
    * engines sum the 500-row mean in different orders (≈1e-15 relative
    * drift); every OTHER comparison (pairwise τ, keepability) is over
    * identically-ordered dot products and bit-exact, same as
    * `dedup_embedding`. */
  private def qSemDedup = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semDeDup(emb, "vec_id", "embedding", numClusters = 1, tau = 0.4)
        .select(F.col("id").as("doc_id"),
          F.round(F.col("centroid_sim"), 6).as("centroid_sim"), F.col("keep"))
        .orderBy("doc_id")
    },
    Some(semDedupExactSql))

  /** The single-cluster SemDeDup restatement shared by `semdedup` and
    * `semdedup_auto_exact` (see [[qSemDedup]] for the derivation). */
  private val semDedupExactSql =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           | m AS (SELECT i, sum(x) / count(*) AS mu FROM (
           |         SELECT unnest(e) AS x, unnest(generate_series(1, len(e))) AS i FROM v)
           |       GROUP BY i),
           | cent AS (SELECT list(mu ORDER BY i) AS c FROM m),
           | cs AS (SELECT vec_id, list_dot_product(e, c) /
           |          (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(c, c))) AS s
           |        FROM v, cent),
           | drops AS (
           |   SELECT DISTINCT m.vec_id
           |   FROM v m JOIN cs mc ON mc.vec_id = m.vec_id
           |   JOIN v x ON x.vec_id <> m.vec_id
           |   JOIN cs xc ON xc.vec_id = x.vec_id
           |   WHERE (xc.s < mc.s OR (xc.s = mc.s AND x.vec_id < m.vec_id))
           |     AND list_dot_product(m.e, x.e) /
           |         (sqrt(list_dot_product(m.e, m.e)) * sqrt(list_dot_product(x.e, x.e))) >= 0.4)
           | SELECT cs.vec_id AS doc_id, round(cs.s, 6) AS centroid_sim,
           |        d.vec_id IS NULL AS keep
           | FROM cs LEFT JOIN drops d ON d.vec_id = cs.vec_id
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")

  /** [[qSemDedupAuto]]'s auto-k path driven to the oracle-checkable
    * configuration: `targetClusterSize = Int.MaxValue` makes
    * `autoClusters(n) = 1` for any corpus, so the auto wrapper — count
    * pre-pass, k rule, then the shared pipeline — must replay
    * `semdedup`'s exact single-cluster oracle verbatim. A hash-matched
    * bridge proving the wrapper changes only the k derivation, never
    * the dedup semantics. */
  private def qSemDedupAutoExact = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semDeDupAuto(emb, "vec_id", "embedding", tau = 0.4,
        targetClusterSize = Int.MaxValue)
        .select(F.col("id").as("doc_id"),
          F.round(F.col("centroid_sim"), 6).as("centroid_sim"), F.col("keep"))
        .orderBy("doc_id")
    },
    Some(semDedupExactSql))

  /** SemDeDup, clustered production shape (8 cells): rows-only — the
    * cluster boundaries come from the sampled k-means codebook, which is
    * deterministic but not SQL-expressible. SemDeDupSpec pins the
    * semantics (single-cluster equivalence to a brute-force reference,
    * drop soundness under clustering and anchor caps). */
  private def qSemDedupClustered = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semDeDup(emb, "vec_id", "embedding", numClusters = 8, tau = 0.4)
        .select(F.col("id").as("doc_id"), F.col("cluster_id"), F.col("keep"))
        .orderBy("doc_id")
    },
    None)

  /** SemDeDup with the size-derived cluster count
    * ([[graft.pipeline.Similarity.semDeDupAuto]]): numClusters =
    * ceil(n / 64) here, so k grows with the corpus and the per-cluster
    * member × anchor product stays bounded by construction — the shape
    * ScaleProbe exercises at 20× data. Rows-only for the same reason as
    * `semdedup_clustered` (sampled-codebook cluster boundaries);
    * SemDeDupSpec pins the k rule and the equivalence to [[semDeDup]]
    * at the derived k. */
  private def qSemDedupAuto = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semDeDupAuto(emb, "vec_id", "embedding", tau = 0.4,
        targetClusterSize = 64)
        .select(F.col("id").as("doc_id"), F.col("cluster_id"), F.col("keep"))
        .orderBy("doc_id")
    },
    None)

  /** Both PCA reference selectors over the embeddings table: one row per
    * produced reference with its label and basic geometry. Rows-only
    * (principal axes are eigenvector outputs with sign indeterminacy —
    * not SQL-expressible); exact subspace/linearity properties are
    * pinned in PcaSelectorsSpec. */
  private def qEmbeddingPcaRefs = Q(
    (s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
      val cent = Embeddings.pcaCentroidReferences(
        emb, "embedding", "label", nComponents = 2)
        .map { case (l, v) => ("pca_centroids", l, v.length, norm(v)) }
      val km = Embeddings.pcaKmeansReferences(
        emb, "vec_id", "embedding", nClusters = 4, nComponents = 2)
        .map { case (l, v) => ("pca_kmeans", l, v.length, norm(v)) }
      (cent ++ km).toDF("selector", "label", "dim", "l2_norm")
        .orderBy("selector", "label")
    },
    None)

  /** Hash-matched bridge for the PCA centroid selector: a 496-row
    * balanced ±scale grid in R⁴ derived from doc_id bits — mean exactly
    * 0, covariance exactly diagonal with well-separated eigenvalues
    * (64 > 16 > 4 > 1) — so the top-2 principal subspace is analytically
    * span(e1, e2) and the selector's round-tripped label centroids are
    * (avg x1, avg x2, 0, 0), which the oracle computes directly. All
    * sums are exact (±scale doubles), eigen-solver noise is absorbed by
    * round(·, 6) (+0.0 normalizes any −0.0); the production selector
    * over real embeddings stays `embedding_pca_refs` (rows-only:
    * eigenvectors of arbitrary data are not SQL-expressible). */
  private def qEmbeddingPcaRefsExact = Q(
    (s, dir) => {
      import s.implicits._
      def sgn(bit: Int): Column =
        F.when(F.shiftright(F.col("doc_id"), bit) % 2 === 0, F.lit(-1.0))
          .otherwise(F.lit(1.0))
      val fix = t(s, dir, "documents").filter(F.col("doc_id") < 496)
        .select(F.col("doc_id"),
          F.array(sgn(0) * 8.0, sgn(1) * 4.0, sgn(2) * 2.0, sgn(3) * 1.0)
            .as("vec"),
          F.concat(F.lit("L"), (F.col("doc_id") % 3).cast("string"))
            .as("label"))
      def rnd(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .toDouble + 0.0
      Embeddings.pcaCentroidReferences(fix, "vec", "label", nComponents = 2)
        .map { case (l, v) => (l, rnd(v(0)), rnd(v(1)), rnd(v(2)), rnd(v(3))) }
        .toDF("label", "c1", "c2", "c3", "c4")
        .orderBy("label")
    },
    Some("""WITH f AS (
           |  SELECT 'L' || CAST(doc_id % 3 AS VARCHAR) AS label,
           |   CASE WHEN doc_id % 2 = 0 THEN -8.0 ELSE 8.0 END AS x1,
           |   CASE WHEN (doc_id // 2) % 2 = 0 THEN -4.0 ELSE 4.0 END AS x2
           |  FROM documents WHERE doc_id < 496)
           | SELECT label, round(avg(x1), 6) + 0.0 AS c1,
           |  round(avg(x2), 6) + 0.0 AS c2, 0.0 AS c3, 0.0 AS c4
           | FROM f GROUP BY label ORDER BY label""".stripMargin.replaceAll("\n", " ")))

  private def qEmbeddingMetric = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val refs = Embeddings.referencesFromCorpus(emb, "vec_id", "embedding", 4)
      val agg = emb.agg(Embeddings.aggColumn(F.col("embedding"), refs))
      val e = F.col("embedding")
      val stacked = refs.map { case (label, _) =>
        val sub = e.getField(s"${label}_distance")
        val cl = e.getField("closest").getField("frequent_items").getField("items")
        F.struct(F.lit(label).as("label"),
          sub.getField("counts").getField("n").as("n"),
          sub.getField("distribution").getField("min").as("dist_min"),
          sub.getField("distribution").getField("max").as("dist_max"),
          F.coalesce(
            F.element_at(F.filter(cl, it => it.getField("value") === label), 1)
              .getField("estimate"), F.lit(0L)).as("closest_cnt"))
      }
      agg.select(F.col("embedding").as("embedding"))
        .select(F.explode(F.array(stacked: _*)).as("r")).select("r.*")
        .orderBy("label")
    },
    Some("""WITH refs AS (SELECT vec_id AS rid, embedding AS rvec FROM embeddings WHERE vec_id < 4),
           | d AS (SELECT e.vec_id, r.rid,
           |   1.0 - (list_dot_product(e.embedding::DOUBLE[], r.rvec::DOUBLE[]) /
           |     (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
           |      sqrt(list_dot_product(r.rvec::DOUBLE[], r.rvec::DOUBLE[])))) AS dist
           |  FROM embeddings e CROSS JOIN refs r),
           | cl AS (SELECT vec_id, rid AS crid FROM
           |   (SELECT vec_id, rid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, rid) AS rn FROM d)
           |   WHERE rn = 1)
           | SELECT 'ref' || CAST(r.rid AS VARCHAR) AS label,
           |  (SELECT count(*) FROM embeddings) AS n,
           |  min(d.dist) AS dist_min, max(d.dist) AS dist_max,
           |  (SELECT count(*) FROM cl WHERE cl.crid = r.rid) AS closest_cnt
           | FROM refs r JOIN d ON d.rid = r.rid
           | GROUP BY r.rid ORDER BY label""".stripMargin.replaceAll("\n", " ")))

  /** Deterministic query subset for the recall gates: a hash-sample of
    * the first 20 corpus vectors. The gate's statistical power doesn't
    * need every query — recall is a per-(query, neighbor) hit rate, and
    * a fixed hash-chosen subset gives the same threshold test at ~1/4
    * the brute-force-oracle cost (the oracle is the expensive arm: full
    * corpus × |Q| exact cosine). Same ids at every SF (the sample is a
    * pure function of vec_id), so the gate stays reproducible. */
  private def recallQueries(emb: DataFrame): DataFrame =
    Sampling.hashSample(emb.filter(F.col("vec_id") < 20), F.col("vec_id"),
      fraction = 0.3, salt = "recall-gate")

  /** IVF quality gate: recall@5 of the IVF search vs the brute-force
    * oracle over a hash-sampled query subset (non-SQL-expressible →
    * rows-only; PipelineSpec asserts recall ≥ 0.9). */
  private def qEmbeddingIvfRecall = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = recallQueries(emb)
      val bf = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select("query_id", "neighbor_id")
      val ivf = Similarity.ivfTopK(emb, qs, numCentroids = 8, nprobe = 5, k = 5)
        .select("query_id", "neighbor_id")
      val hits = bf.join(ivf, Seq("query_id", "neighbor_id"))
        .agg(F.count(F.lit(1)).as("hits"))
      val total = bf.agg(F.count(F.lit(1)).as("total"))
      hits.crossJoin(total)
        .select(F.col("hits"), F.col("total"),
          (F.col("hits").cast("double") / F.col("total")).as("recall"))
    },
    None)

  /** PQ-ADC + exact re-rank top-k (rows-only: codebook is data-trained;
    * recall vs brute force gated below and in PipelineSpec). */
  private def qEmbeddingPq = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(F.col("vec_id") < 20), k = 5)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
    None)

  /** Recall@5 of the PQ pipeline against brute force — the measured
    * accuracy cost of scanning 2% of the bytes. */
  private def qEmbeddingPqRecall = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = recallQueries(emb)
      val bf = Similarity.bruteForceTopK(emb, qs, k = 5)
        .select("query_id", "neighbor_id")
      val pq = Similarity.pqTopK(emb, qs, k = 5)
        .select("query_id", "neighbor_id")
      val hits = bf.join(pq, Seq("query_id", "neighbor_id"))
        .agg(F.count(F.lit(1)).as("hits"))
      val total = bf.agg(F.count(F.lit(1)).as("total"))
      hits.crossJoin(total)
        .select(F.col("hits"), F.col("total"),
          (F.col("hits").cast("double") / F.col("total")).as("recall"))
    },
    None)

  // --- shared DuckDB fragments for the text-analysis oracles ---
  /** Whitespace regex as a VALUE (plain-literal escape rules), so the
    * interpolated fragments below never re-process backslashes. */
  private val WsPat = "\\s+"
  private def wsTokensSql: String =
    s"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '$WsPat')) END"
  private def alphaRatioSql: String =
    "CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END"
  private def meanTokenLenSql: String =
    s"CASE WHEN len(string_split_regex(trim(text), '$WsPat')) = 0 THEN 0.0 ELSE CAST(length(text) - len(string_split_regex(trim(text), '$WsPat')) + 1 AS DOUBLE) / CAST(len(string_split_regex(trim(text), '$WsPat')) AS DOUBLE) END"
  private def qualityOkSql: String =
    s"(len(string_split_regex(trim(text), '$WsPat')) >= 5 AND ($alphaRatioSql) > 0.5 AND ($meanTokenLenSql) < 15.0)"
  private def langCaseSql: String = {
    val hits = TextAnalysis.StopWords.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ",", "]")
      lang -> s"len(list_filter(string_split_regex(lower(trim(text)), '$WsPat'), t -> list_contains($list, t)))"
    }
    val byLangAsc = hits.sortBy(_._1)
    val maxExpr = s"greatest(${hits.map(_._2).mkString(", ")})"
    val whens = byLangAsc.map { case (l, h) => s"WHEN $h = $maxExpr THEN '$l'" }
    s"CASE WHEN $maxExpr <= 0 THEN 'und' ${whens.mkString(" ")} END"
  }

  /** Flagship composition: the full training-data pipeline — language
    * ID → quality rules → exact dedup → corpus stats — end-to-end in
    * TWO scans (one for the dataset-level counts, one for the per-hash
    * canonical aggregation; at 100 TB each stage stays map-only until
    * the single dedup exchange). Every stage is exact (regex counts,
    * integer thresholds, md5 groups), so the whole pipeline
    * hash-matches the oracle. */
  private def qCorpusPipeline = Q(
    (s, dir) => {
      // the synthetic corpus plants NEAR-dups but no byte-identical
      // ones; re-ingest the first 50 docs under new ids (a re-crawled
      // shard, the standard exact-dup source) so stage 4 is exercised
      val base = t(s, dir, "documents")
      val docs = base.unionByName(
        base.filter(F.col("doc_id") < 50)
          .withColumn("doc_id", F.col("doc_id") + 10000))
      // pruned + materialized once: `totals` and `canon` both consume
      // this frame, and without the checkpoint each would re-run the
      // whole quality + langId expression chain over the corpus
      val enriched = TextAnalysis.withQuality(docs, "text")
        .withColumn("lang_guess", TextAnalysis.langId(F.col("text")))
        .withColumn("__pass",
          F.col("quality_ok") && F.col("lang_guess") === F.lit("en"))
        .select(F.col("doc_id"), F.md5(F.col("text")).as("__th"),
          F.col("n_tokens"), F.col("n_chars"), F.col("__pass"))
        .transform(Checkpoint.pin(_, eager = true))
      val totals = enriched.agg(
        F.count(F.lit(1)).as("input_docs"),
        count_where(F.col("__pass")).as("pass_docs"))
      // canonical row per text hash among passing docs: min doc_id wins;
      // its token/char counts ride along via min_by
      val canon = enriched.filter(F.col("__pass"))
        .groupBy(F.col("__th").as("__h"))
        .agg(F.min("doc_id").as("kid"),
          F.min_by(F.col("n_tokens"), F.col("doc_id")).as("ktok"),
          F.min_by(F.col("n_chars"), F.col("doc_id")).as("kchars"))
        .agg(F.count(F.lit(1)).as("unique_docs"),
          F.sum("ktok").cast("long").as("final_tokens"),
          F.sum("kchars").cast("long").as("final_chars"))
      import s.implicits._
      val r = totals.crossJoin(canon).collect()(0)
      Seq(
        ("1_input_docs", r.getAs[Long]("input_docs")),
        ("2_lang_quality_pass", r.getAs[Long]("pass_docs")),
        ("3_unique_docs", r.getAs[Long]("unique_docs")),
        ("4_dup_docs_removed", r.getAs[Long]("pass_docs") - r.getAs[Long]("unique_docs")),
        ("5_final_ws_tokens", r.getAs[Long]("final_tokens")),
        ("6_final_chars", r.getAs[Long]("final_chars")))
        .toDF("stage", "value").orderBy("stage")
    },
    Some {
      s"""WITH d AS (SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50),
         | a AS (SELECT doc_id, text, length(text) AS n_chars,
         | $wsTokensSql AS n_tokens,
         | ($qualityOkSql AND ($langCaseSql) = 'en') AS pass FROM d),
         | p AS (SELECT * FROM a WHERE pass),
         | u AS (SELECT md5(text) AS h, min(doc_id) AS kid FROM p GROUP BY 1),
         | ft AS (SELECT count(*) AS unique_docs,
         |   CAST(sum(p.n_tokens) AS BIGINT) AS final_tokens,
         |   CAST(sum(p.n_chars) AS BIGINT) AS final_chars FROM p JOIN u ON p.doc_id = u.kid),
         | c AS (SELECT count(*) AS input_docs FROM a),
         | pc AS (SELECT count(*) AS pass_docs FROM p)
         | SELECT '1_input_docs' AS stage, input_docs AS value FROM c
         | UNION ALL SELECT '2_lang_quality_pass', pass_docs FROM pc
         | UNION ALL SELECT '3_unique_docs', unique_docs FROM ft
         | UNION ALL SELECT '4_dup_docs_removed', pass_docs - unique_docs FROM pc, ft
         | UNION ALL SELECT '5_final_ws_tokens', final_tokens FROM ft
         | UNION ALL SELECT '6_final_chars', final_chars FROM ft
         | ORDER BY stage""".stripMargin.replaceAll("\n", " ")
    })

  /** Gopher repetition filters over documents, hash-checked: every
    * value is an integer count or one int/int division, and the tie
    * break on the top bigram (lexicographically smallest among max
    * count) is replayed by the oracle's min(g)-at-max(c). ASCII corpus:
    * Java UTF-16 vs DuckDB UTF-8 byte order agree (documented caveat
    * for supplementary-plane text). */
  private def qTextRepetition = Q(
    (s, dir) => {
      TextAnalysis.withRepetition(t(s, dir, "documents"), "text")
        .select(F.col("doc_id"),
          F.col("n_words").cast("long").as("n_words"),
          F.col("n_distinct_words").cast("long").as("n_distinct_words"),
          F.col("word_rep_ratio"), F.col("top2_count"),
          F.col("top2_frac"), F.col("dup3_frac"))
        .orderBy("doc_id")
    },
    Some(s"""WITH $tokCte,
           | base AS (
           |  SELECT doc_id, len(w) AS nw, len(list_distinct(w)) AS nd,
           |   length(array_to_string(w, ' ')) AS norm_chars FROM tok),
           | bi AS (
           |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
           |  FROM tok WHERE len(w) >= 2),
           | bic AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g),
           | bimax AS (SELECT doc_id, max(c) AS topc FROM bic GROUP BY doc_id),
           | bitop AS (
           |  SELECT b.doc_id, m.topc, min(b.g) AS topg FROM bic b
           |  JOIN bimax m ON b.doc_id = m.doc_id AND b.c = m.topc
           |  GROUP BY b.doc_id, m.topc),
           | tri AS (
           |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS g
           |  FROM tok WHERE len(w) >= 3),
           | tric AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY doc_id, g),
           | tridup AS (SELECT doc_id, sum(c * length(g)) AS dupchars FROM tric WHERE c > 1 GROUP BY doc_id)
           | SELECT b.doc_id, b.nw AS n_words, b.nd AS n_distinct_words,
           |  CASE WHEN b.nw = 0 THEN 0.0 ELSE 1.0 - CAST(b.nd AS DOUBLE) / b.nw END AS word_rep_ratio,
           |  COALESCE(t.topc, 0) AS top2_count,
           |  CASE WHEN b.norm_chars = 0 THEN 0.0
           |   ELSE CAST(COALESCE(t.topc * length(t.topg), 0) AS DOUBLE) / b.norm_chars END AS top2_frac,
           |  CASE WHEN b.norm_chars = 0 THEN 0.0
           |   ELSE CAST(COALESCE(d.dupchars, 0) AS DOUBLE) / b.norm_chars END AS dup3_frac
           | FROM base b LEFT JOIN bitop t USING (doc_id) LEFT JOIN tridup d USING (doc_id)
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** C4 line-level cleaning ([[graft.pipeline.TextAnalysis.c4Clean]]):
    * the synthetic corpus has no line structure, so the fixture builds a
    * deterministic 5-line page per doc from text substrings — one good
    * line, one too-short line, one without terminal punctuation, one
    * javascript-or-good line, one sometimes-empty line, with a
    * lorem-ipsum doc-ban salted by doc_id — exercising every rule and
    * both verdicts. Cleaned text is hash-compared via md5. */
  private def qC4Clean = Q(
    (s, dir) => {
      val d = t(s, dir, "documents").select(F.col("doc_id"), F.col("text"))
      val synth = F.concat_ws("\n",
        F.concat(F.substring(F.col("text"), 1, 50), F.lit("."),
          F.when(F.col("doc_id") % 11 === 0, " lorem ipsum").otherwise("")),
        F.lit("short line"),
        F.substring(F.col("text"), 51, 60),
        F.when(F.col("doc_id") % 7 === 0, F.lit("enable javascript to view."))
          .otherwise(F.concat(F.substring(F.col("text"), 111, 40), F.lit("?"))),
        F.when(F.col("doc_id") % 3 === 0,
          F.concat(F.substring(F.col("text"), 151, 45), F.lit("!")))
          .otherwise(F.lit("")))
      TextAnalysis.c4Clean(d.withColumn("page", synth), "page",
        minSentences = 3)
        .select(F.col("doc_id"), F.col("n_lines"), F.col("n_lines_kept"),
          F.col("n_sentences"), F.col("c4_keep"), F.col("c4_drop_reason"),
          F.md5(F.col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (
           | SELECT doc_id,
           |  substr(text, 1, 50) || '.' ||
           |    CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum' ELSE '' END AS l1,
           |  'short line' AS l2,
           |  substr(text, 51, 60) AS l3,
           |  CASE WHEN doc_id % 7 = 0 THEN 'enable javascript to view.'
           |       ELSE substr(text, 111, 40) || '?' END AS l4,
           |  CASE WHEN doc_id % 3 = 0 THEN substr(text, 151, 45) || '!'
           |       ELSE '' END AS l5
           | FROM documents),
           | k AS (
           | SELECT doc_id, [l1, l2, l3, l4, l5] AS ls,
           |  list_filter([l1, l2, l3, l4, l5], x ->
           |    regexp_matches(rtrim(x), '[.!?"]$')
           |    AND len(regexp_split_to_array(trim(x), '\s+')) >= 3
           |    AND NOT contains(lower(x), 'javascript')) AS kept,
           |  contains(lower(l1 || chr(10) || l2 || chr(10) || l3 || chr(10)
           |    || l4 || chr(10) || l5), 'lorem ipsum') AS docban
           | FROM d),
           | c AS (
           | SELECT doc_id, len(ls) AS n_lines, len(kept) AS n_lines_kept,
           |  coalesce(array_to_string(kept, chr(10)), '') AS clean, docban
           | FROM k)
           | SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
           |  CAST(n_lines_kept AS BIGINT) AS n_lines_kept,
           |  CAST(len(regexp_extract_all(clean, '[.!?]')) AS BIGINT) AS n_sentences,
           |  (NOT docban AND len(regexp_extract_all(clean, '[.!?]')) >= 3) AS c4_keep,
           |  CASE WHEN docban THEN 'banned_content'
           |       WHEN len(regexp_extract_all(clean, '[.!?]')) < 3
           |       THEN 'too_few_sentences' END AS c4_drop_reason,
           |  md5(clean) AS clean_md5
           | FROM c ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** CCNet-style LM quality score
    * ([[graft.pipeline.TextAnalysis.charBigramCrossEntropy]]): per-doc
    * character-bigram cross-entropy against the corpus's own bigram
    * distribution — the deterministic core of perplexity filtering.
    * log2 sums rounded to 8 places; everything else exact counts. */
  private def qCharlmScore = Q(
    (s, dir) => graft.pipeline.TextAnalysis.charBigramCrossEntropy(
      t(s, dir, "documents"), "doc_id", "text")
      .select(F.col("doc_id"), F.col("n_bigrams"),
        F.round(F.col("bits_per_bigram"), 8).as("bits_per_bigram"))
      .orderBy("doc_id"),
    Some("""WITH n AS (
           | SELECT doc_id,
           |  regexp_replace(lower(text), '[^a-z ]', '#', 'g') AS t
           | FROM documents),
           | ex AS (
           | SELECT doc_id, substr(t, CAST(i AS INT), 2) AS bg FROM (
           |  SELECT doc_id, t, unnest(range(1, length(t))) AS i FROM n)),
           | c AS (SELECT bg, count(*) AS c FROM ex GROUP BY 1),
           | tot AS (SELECT sum(c) AS t FROM c)
           | SELECT ex.doc_id, count(*) AS n_bigrams,
           |  round(-sum(log2(c.c / CAST(tot.t AS DOUBLE))) / count(*), 8)
           |    AS bits_per_bigram
           | FROM ex JOIN c USING (bg), tot
           | GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** Gopher-rules corpus filter
    * ([[graft.pipeline.TextAnalysis.gopherQualityFilter]]): signals,
    * keep verdict AND the first-failing-rule reason string, all
    * oracle-reproducible (integers + single divisions; thresholds
    * compared on bit-identical doubles). The oracle recomputes the
    * repetition signals with the same CTEs `text_repetition` pins. */
  private def qQualityFilter = Q(
    (s, dir) => TextAnalysis.gopherQualityFilter(
      t(s, dir, "documents"), "doc_id", "text",
      // fixture docs run 20-90 words; drop the floor so both verdicts
      // and several distinct failure reasons appear in the output
      minWords = 30).orderBy("doc_id"),
    Some(s"""WITH $tokCte,
           | base AS (
           |  SELECT doc_id, len(w) AS nw,
           |   length(array_to_string(w, ' ')) AS norm_chars,
           |   len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS alpha_words
           |  FROM tok),
           | bi AS (
           |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
           |  FROM tok WHERE len(w) >= 2),
           | bic AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g),
           | bimax AS (SELECT doc_id, max(c) AS topc FROM bic GROUP BY doc_id),
           | bitop AS (
           |  SELECT b.doc_id, m.topc, min(b.g) AS topg FROM bic b
           |  JOIN bimax m ON b.doc_id = m.doc_id AND b.c = m.topc
           |  GROUP BY b.doc_id, m.topc),
           | tri AS (
           |  SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS g
           |  FROM tok WHERE len(w) >= 3),
           | tric AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY doc_id, g),
           | tridup AS (SELECT doc_id, sum(c * length(g)) AS dupchars FROM tric WHERE c > 1 GROUP BY doc_id),
           | sig AS (
           |  SELECT b.doc_id, b.nw,
           |   CASE WHEN b.nw = 0 THEN 0.0
           |    ELSE CAST(b.norm_chars - b.nw + 1 AS DOUBLE) / b.nw END AS mean_word_len,
           |   CASE WHEN b.nw = 0 THEN 0.0
           |    ELSE CAST(b.alpha_words AS DOUBLE) / b.nw END AS alpha_frac,
           |   CASE WHEN b.norm_chars = 0 THEN 0.0
           |    ELSE CAST(COALESCE(t.topc * length(t.topg), 0) AS DOUBLE) / b.norm_chars END AS top2_frac,
           |   CASE WHEN b.norm_chars = 0 THEN 0.0
           |    ELSE CAST(COALESCE(d.dupchars, 0) AS DOUBLE) / b.norm_chars END AS dup3_frac
           |  FROM base b LEFT JOIN bitop t USING (doc_id) LEFT JOIN tridup d USING (doc_id))
           | SELECT doc_id, CAST(nw AS BIGINT) AS n_words, mean_word_len,
           |  alpha_frac, top2_frac, dup3_frac,
           |  (nw BETWEEN 30 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
           |   AND alpha_frac >= 0.8 AND top2_frac <= 0.20 AND dup3_frac <= 0.20 AS keep,
           |  CASE WHEN NOT (nw BETWEEN 30 AND 100000) THEN 'word_count'
           |   WHEN NOT (mean_word_len BETWEEN 3.0 AND 10.0) THEN 'mean_word_len'
           |   WHEN alpha_frac < 0.8 THEN 'alpha_frac'
           |   WHEN top2_frac > 0.20 THEN 'top2_frac'
           |   WHEN dup3_frac > 0.20 THEN 'dup3_frac'
           |   ELSE 'ok' END AS reason
           | FROM sig ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** BM25 ranked retrieval ([[graft.pipeline.TextAnalysis.bm25TopDocs]]):
    * top-10 docs for a three-term query at the textbook k1=1.5/b=0.75
    * (both exactly-representable doubles). The oracle replays
    * tokenize → tf → df → idf → length-normalized term score →
    * ascending-term ordered sum, operation for operation; ties (exact
    * duplicate docs score identically) break by doc_id. idf is floored
    * at 1e-9 granularity on both sides — the one libm-dependent step
    * (ln) measurably differs by 1 ulp between the JVM and glibc for
    * some arguments, and floor(x*1e9)/1e9 is an exactly-specified IEEE
    * chain that absorbs it (production default keeps pure ln). */
  private def qBm25TopDocs = Q(
    (s, dir) => TextAnalysis.bm25TopDocs(
      t(s, dir, "documents"), "doc_id", "text", Seq("join", "vector", "window"),
      idfQuantize = Some(1e9)),
    Some("""WITH base AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS toks
           |  FROM documents),
           | bd AS (SELECT doc_id, toks, len(toks) AS dl FROM base),
           | st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM bd),
           | tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
           |   FROM (SELECT doc_id, dl, unnest(toks) AS term FROM bd)
           |   WHERE term IN ('join', 'vector', 'window') GROUP BY 1, 2, 3),
           | dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
           | sc AS (SELECT doc_id, term,
           |   (floor(ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0) * 1000000000.0) / 1000000000.0)
           |     * (CAST(tf AS DOUBLE) * 2.5)
           |     / (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS term_score
           |   FROM tf JOIN dfq USING (term), st),
           | agg AS (SELECT doc_id, sum(term_score ORDER BY term) AS score,
           |     CAST(count(*) AS BIGINT) AS n_terms_hit FROM sc GROUP BY 1)
           | SELECT doc_id, score, n_terms_hit,
           |   CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
           | FROM agg ORDER BY score DESC, doc_id LIMIT 10""".stripMargin.replaceAll("\n", " ")))

  /** Bloom-filter membership dedup ([[graft.pipeline.Dedup.bloomBuild]] /
    * [[graft.pipeline.Dedup.bloomProbe]]): build a 2^16-bit / 4-hash
    * bloom over the even-doc_id half's content keys (md5 of text), probe
    * EVERY doc — ref docs must flag maybe_dup (no false negatives, the
    * Bloom guarantee), the rest flag only on (deterministically
    * replayed) collisions. The oracle derives the identical position
    * sets from md5 hex substrings and tests them with list_has_all —
    * bit-for-bit the same membership verdicts, false positives
    * included. */
  private def qDedupBloom = Q(
    (s, dir) => {
      val key = F.md5(F.col("text"))
      val pos = Dedup.bloomPositionsMd5(key, numHashes = 4, hexChars = 4)
      val docs = t(s, dir, "documents")
      val ref = docs.filter(F.col("doc_id") % 2 === 0)
      val bloom = Dedup.bloomBuild(ref, pos, numBits = 65536)
      val refKeys = ref.select(key.as("ck")).distinct()
        .withColumn("in_ref", F.lit(true))
      Dedup.bloomProbe(docs.select(F.col("doc_id"), key.as("ck")),
          Dedup.bloomPositionsMd5(F.col("ck"), 4, 4), bloom)
        .join(F.broadcast(refKeys), Seq("ck"), "left")
        .withColumn("exact_dup", F.coalesce(F.col("in_ref"), F.lit(false)))
        .select(F.col("doc_id"), F.col("maybe_dup"), F.col("exact_dup"),
          (F.col("maybe_dup") && !F.col("exact_dup")).as("false_positive"))
        .orderBy("doc_id")
    },
    Some("""WITH ref AS (SELECT md5(text) AS ck FROM documents WHERE doc_id % 2 = 0),
           | rp AS (SELECT DISTINCT unnest([substr(md5(CAST(j AS VARCHAR) || ':' || ck), 1, 4) for j in range(0, 4)]) AS p FROM ref),
           | rl AS (SELECT list(p) AS allp FROM rp),
           | rk AS (SELECT list(DISTINCT ck) AS allk FROM ref),
           | pr AS (SELECT doc_id, md5(text) AS ck,
           |     [substr(md5(CAST(j AS VARCHAR) || ':' || md5(text)), 1, 4) for j in range(0, 4)] AS ps
           |   FROM documents)
           | SELECT doc_id,
           |   list_has_all(allp, ps) AS maybe_dup,
           |   list_contains(allk, ck) AS exact_dup,
           |   list_has_all(allp, ps) AND NOT list_contains(allk, ck) AS false_positive
           | FROM pr, rl, rk ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Sharded Bloom dedup ([[graft.pipeline.Dedup.bloomBuildSharded]] /
    * [[graft.pipeline.Dedup.bloomProbeSharded]]) — the past-broadcast-
    * budget path: 4 independent 2^16-bit blooms keyed by an md5-derived
    * shard of the content key, probes co-partitioned by the same shard
    * (shuffle join, no broadcast). The oracle derives the identical
    * shard routing and per-shard position sets from md5 hex substrings,
    * so membership verdicts — false positives included — replay
    * bit-for-bit. */
  private def qDedupBloomSharded = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.filter(F.col("doc_id") % 2 === 0)
      // one keyer derives shard AND positions — mismatched key
      // expressions between the two are unrepresentable
      val keyer = Dedup.BloomKeyer.md5(numShards = 4, numHashes = 4, hexChars = 4)
      val bloom = Dedup.bloomBuildKeyed(ref, F.md5(F.col("text")), keyer)
      Dedup.bloomProbeKeyed(
          docs.select(F.col("doc_id"), F.md5(F.col("text")).as("ck")),
          F.col("ck"), keyer, bloom)
        .select("doc_id", "maybe_dup")
        .orderBy("doc_id")
    },
    Some("""WITH ref AS (SELECT md5(text) AS ck FROM documents WHERE doc_id % 2 = 0),
           | rs AS (SELECT ck, CAST('0x' || substr(md5('shard:' || ck), 1, 7) AS BIGINT) % 4 AS shard FROM ref),
           | rp AS (SELECT shard, list(p) AS allp FROM (
           |     SELECT DISTINCT shard, unnest([substr(md5(CAST(j AS VARCHAR) || ':' || ck), 1, 4) for j in range(0, 4)]) AS p FROM rs)
           |   GROUP BY shard),
           | pr AS (SELECT doc_id, md5(text) AS ck,
           |     [substr(md5(CAST(j AS VARCHAR) || ':' || md5(text)), 1, 4) for j in range(0, 4)] AS ps
           |   FROM documents),
           | pq AS (SELECT doc_id, ps, CAST('0x' || substr(md5('shard:' || ck), 1, 7) AS BIGINT) % 4 AS shard FROM pr)
           | SELECT pq.doc_id, coalesce(list_has_all(rp.allp, pq.ps), false) AS maybe_dup
           | FROM pq LEFT JOIN rp ON rp.shard = pq.shard ORDER BY pq.doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Zipf-law corpus fit ([[graft.pipeline.TextAnalysis.zipfFit]]):
    * least-squares ln(count)-vs-ln(rank) slope + intercept over the top
    * 1000 terms. ln floored at 1e-9 (cross-libm bridge); the oracle
    * replays the rank-ordered five-sum fold and the exact formula
    * chain. */
  private def qZipfFit = Q(
    (s, dir) => TextAnalysis.zipfFit(t(s, dir, "documents"), "text",
      topK = 1000, lnQuantize = Some(1e9)),
    Some("""WITH tf AS (
           |  SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM (
           |    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0)) AS term
           |    FROM documents) GROUP BY 1 ORDER BY cnt DESC, term LIMIT 1000),
           | ranked AS (SELECT CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank, cnt FROM tf),
           | xy AS (SELECT rank,
           |   floor(ln(CAST(rank AS DOUBLE)) * 1000000000.0) / 1000000000.0 AS x,
           |   floor(ln(CAST(cnt AS DOUBLE)) * 1000000000.0) / 1000000000.0 AS y FROM ranked),
           | st AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
           |   sum(x ORDER BY rank) AS sx, sum(y ORDER BY rank) AS sy,
           |   sum(x * x ORDER BY rank) AS sxx, sum(x * y ORDER BY rank) AS sxy FROM xy)
           | SELECT n_terms,
           |  (CAST(n_terms AS DOUBLE) * sxy - sx * sy) / (CAST(n_terms AS DOUBLE) * sxx - sx * sx) AS slope,
           |  (sy - ((CAST(n_terms AS DOUBLE) * sxy - sx * sy) / (CAST(n_terms AS DOUBLE) * sxx - sx * sx)) * sx) / CAST(n_terms AS DOUBLE) AS intercept
           | FROM st""".stripMargin.replaceAll("\n", " ")))

  /** Unigram-entropy quality signal
    * ([[graft.pipeline.TextAnalysis.unigramEntropy]]) per document, with
    * token counts for context. ln floored at 1e-9 on both sides (the
    * cross-libm bridge); the oracle replays the ascending-token ordered
    * fold exactly. */
  /** Linear quality-classifier scoring
    * ([[graft.pipeline.QualityClassifier.scoreDocs]], the GPT-3/CCNet
    * learned-filter shape) with the md5-derived DYADIC weight vector:
    * every per-token weight has 16 fractional bits, so the map-only
    * logit fold is exact and order-independent in both engines — the
    * oracle re-derives the 1024 weights and each token's feature id
    * from md5 hex substrings and replays the sum bit-for-bit.
    * Production scoring swaps in trained weights + xxhash64 features
    * ([[QualityClassifier.featureXx]]); `quality_classifier_train`
    * exercises that full path. */
  private def qQualityClassifierScore = Q(
    (s, dir) => QualityClassifier.scoreDocs(
        t(s, dir, "documents"), "text", "doc_id",
        QualityClassifier.md5Weights(1024).toSeq,
        bias = 0.0, dim = 1024, md5Mode = true)
      .orderBy("doc_id"),
    Some("""WITH w AS (SELECT j, (CAST('0x' || substr(md5('w:' || CAST(j AS VARCHAR)), 1, 4) AS INT) - 32768) / 65536.0 AS wt
           |   FROM generate_series(0, 1023) g(j)),
           | tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> len(t) > 0)) AS t
           |   FROM documents),
           | f AS (SELECT doc_id, CAST('0x' || substr(md5('f:' || t), 1, 4) AS INT) % 1024 AS j FROM tok),
           | sc AS (SELECT doc_id, sum(wt) AS logit FROM f JOIN w USING (j) GROUP BY 1)
           | SELECT d.doc_id, coalesce(sc.logit, 0.0) AS logit,
           |   coalesce(sc.logit, 0.0) >= 0 AS keep
           | FROM documents d LEFT JOIN sc USING (doc_id)
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** End-to-end distributed training of the quality classifier
    * ([[graft.pipeline.QualityClassifier.train]]): batch logistic GD —
    * one cached featurized scan + one dim-bounded feature exchange per
    * iteration — against a deterministic stand-in label (docs whose
    * token stream contains `spark`, playing the "trusted corpus"
    * role), then scoring with the learned weights. Rows-only: gradient
    * sums are float-order sensitive (≈1e-15), so train is specified by
    * QualityClassifierSpec (driver-side GD parity to 1e-12, ≥0.95
    * held-out accuracy on a marker corpus) rather than hash equality;
    * the exact-scoring sibling is `quality_classifier_score`. */
  private def qQualityClassifierTrain = Q(
    (s, dir) => {
      val labeled = t(s, dir, "documents").withColumn("label",
        F.array_contains(
          F.split(F.lower(F.trim(F.col("text"))), "\\s+"), "spark").cast("double"))
      val (w, b) = QualityClassifier.train(
        labeled, "text", "label", dim = 1 << 12, iters = 10, lr = 1.0)
      QualityClassifier.scoreDocs(labeled, "text", "doc_id",
          w.toSeq, b, dim = 1 << 12)
        .join(labeled.select("doc_id", "label"), Seq("doc_id"))
        .select(F.col("doc_id"), F.col("label"),
          F.round(F.col("logit"), 3).as("logit_r"),
          F.col("keep").as("pred"))
        .orderBy("doc_id")
    },
    None)

  /** Trigram LM cross-entropy scoring
    * ([[graft.pipeline.TextAnalysis.ngramLmScore]], the CCNet
    * perplexity-filter shape) with the corpus as its own trusted
    * training set: add-0.5-smoothed `P(w3 | w1 w2)` over corpus-wide
    * gram/context counts, per-doc nats. Every probability is a ratio
    * of exact integers-plus-dyadic-k, each ln floored at 1e-9 (the
    * established cross-libm bridge), and both engines sum each doc's
    * contributions in ascending-gram order — hash-matched end to end.
    * Production at 100 TB sets `hashGrams = true` (8-byte gram ids in
    * every exchange; NgramLmSpec pins parity). */
  private def qTrigramLmScore = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.ngramLmScore(docs, docs, "text", "doc_id",
          n = 3, addK = 0.5, lnQuantize = Some(1e9))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS w
           |   FROM documents),
           | g3 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS g
           |   FROM tok WHERE len(w) >= 3),
           | gc AS (SELECT g, count(*) AS cg FROM g3 GROUP BY g),
           | cc AS (SELECT array_to_string(string_split(g, ' ')[1:2], ' ') AS ctx, sum(cg) AS ccnt FROM gc GROUP BY 1),
           | v AS (SELECT count(DISTINCT t) AS vs FROM (SELECT unnest(w) AS t FROM tok)),
           | p AS (SELECT g3.doc_id, g3.g,
           |     floor(ln((coalesce(gc.cg, 0) + 0.5) / (coalesce(cc.ccnt, 0) + 0.5 * v.vs)) * 1000000000.0) / 1000000000.0 AS lnp
           |   FROM g3 LEFT JOIN gc USING (g)
           |   LEFT JOIN cc ON cc.ctx = array_to_string(string_split(g3.g, ' ')[1:2], ' ')
           |   CROSS JOIN v),
           | agg AS (SELECT doc_id, count(*) AS n_grams, -sum(lnp ORDER BY g) AS sce FROM p GROUP BY 1)
           | SELECT d.doc_id, coalesce(agg.n_grams, 0) AS n_grams,
           |   coalesce(agg.sce / agg.n_grams, 0.0) AS cross_entropy
           | FROM documents d LEFT JOIN agg USING (doc_id)
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Stupid-backoff trigram LM scoring
    * ([[graft.pipeline.TextAnalysis.stupidBackoffScore]], Brants et
    * al. 2007 — the backoff built FOR distributed count tables):
    * highest-order nonzero count wins, each backoff step damped by
    * `alpha = 0.5` (dyadic, so `alpha` and `alpha²` are the same
    * binary64 in both engines — 0.4² is not), add-0.5 unigram base.
    * The oracle rebuilds all three count tables and replays the
    * CASE cascade, quantized ln, and ordered per-doc sum. */
  private def qBackoffLmScore = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.stupidBackoffScore(docs, docs, "text", "doc_id",
          n = 3, alpha = 0.5, addK = 0.5, lnQuantize = Some(1e9))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS w
           |   FROM documents),
           | c1 AS (SELECT g, count(*) AS c FROM (SELECT unnest(w) AS g FROM tok) GROUP BY g),
           | nv AS (SELECT sum(c) AS n, count(*) AS v FROM c1),
           | c2 AS (SELECT g, count(*) AS c FROM (
           |     SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g FROM tok WHERE len(w) >= 2)
           |   GROUP BY g),
           | g3r AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS g
           |   FROM tok WHERE len(w) >= 3),
           | c3 AS (SELECT g, count(*) AS c FROM g3r GROUP BY g),
           | p AS (SELECT s.doc_id, s.g,
           |     CASE WHEN t3.c IS NOT NULL THEN CAST(t3.c AS DOUBLE) / CAST(d3.c AS DOUBLE)
           |          WHEN t2.c IS NOT NULL THEN 0.5 * CAST(t2.c AS DOUBLE) / CAST(d2.c AS DOUBLE)
           |          ELSE 0.25 * (coalesce(t1.c, 0) + 0.5) / (nv.n + 0.5 * nv.v) END AS pr
           |   FROM g3r s
           |   LEFT JOIN c3 t3 ON t3.g = s.g
           |   LEFT JOIN c2 d3 ON d3.g = array_to_string(string_split(s.g, ' ')[1:2], ' ')
           |   LEFT JOIN c2 t2 ON t2.g = array_to_string(string_split(s.g, ' ')[2:3], ' ')
           |   LEFT JOIN c1 d2 ON d2.g = string_split(s.g, ' ')[2]
           |   LEFT JOIN c1 t1 ON t1.g = string_split(s.g, ' ')[3]
           |   CROSS JOIN nv),
           | q AS (SELECT doc_id, g, floor(ln(pr) * 1000000000.0) / 1000000000.0 AS lnp FROM p),
           | agg AS (SELECT doc_id, count(*) AS n_grams, -sum(lnp ORDER BY g) AS sce FROM q GROUP BY 1)
           | SELECT d.doc_id, coalesce(agg.n_grams, 0) AS n_grams,
           |   coalesce(agg.sce / agg.n_grams, 0.0) AS cross_entropy
           | FROM documents d LEFT JOIN agg USING (doc_id)
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Within-document repeated-line trimming
    * ([[graft.pipeline.TextAnalysis.dropRepeatedLines]], the Dolma/C4
    * in-page cleanup): the fixture wraps every document in a repeated
    * nav/footer shape (text, footer, text again, unique tail), and the
    * oracle replays the first-occurrence filter with DuckDB's indexed
    * list lambda — exact string semantics, so verdicts, counts and the
    * reassembled text all hash-match. Map-only (no exchange). */
  /** One-row corpus report card
    * ([[graft.pipeline.TextAnalysis.corpusReport]]): docs, exact-dup
    * docs + fraction, vocabulary/hapax stats, mean tokens/doc, top
    * language + share — integers and single divisions only, replayed
    * verbatim. */
  private def qCorpusReport = Q(
    (s, dir) => TextAnalysis.corpusReport(
      t(s, dir, "documents"), "text", "doc_id"),
    Some("""WITH d AS (SELECT count(*) AS n_docs FROM documents),
           | dup AS (SELECT coalesce(sum(c), 0) AS n_dup_docs FROM (
           |     SELECT count(*) AS c FROM documents GROUP BY md5(text) HAVING count(*) > 1)),
           | vt AS (SELECT term, count(*) AS cnt FROM (
           |     SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0)) AS term
           |     FROM documents) GROUP BY term),
           | vs AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size, CAST(sum(cnt) AS BIGINT) AS total_tokens,
           |     CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
           |     CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS hapax_frac
           |   FROM vt),
           | lg AS (SELECT lang AS top_lang, count(*) AS lc FROM documents GROUP BY lang ORDER BY lc DESC, top_lang ASC LIMIT 1)
           | SELECT CAST(d.n_docs AS BIGINT) AS n_docs, CAST(dup.n_dup_docs AS BIGINT) AS n_dup_docs,
           |   CAST(dup.n_dup_docs AS DOUBLE) / d.n_docs AS dup_frac,
           |   vs.vocab_size, vs.total_tokens, vs.hapax_count, vs.hapax_frac,
           |   CAST(vs.total_tokens AS DOUBLE) / d.n_docs AS mean_doc_tokens,
           |   lg.top_lang, CAST(lg.lc AS DOUBLE) / d.n_docs AS top_lang_frac
           | FROM d, dup, vs, lg""".stripMargin.replaceAll("\n", " ")))

  private def qDocLineDedup = Q(
    (s, dir) => {
      val fx = t(s, dir, "documents").select(F.col("doc_id"),
        F.concat_ws("\n", F.col("text"), F.lit("boilerplate footer"),
          F.col("text"), F.concat(F.lit("unique "), F.col("doc_id"))).as("text"))
      TextAnalysis.dropRepeatedLines(fx, "text", "doc_id").orderBy("doc_id")
    },
    Some("""WITH fx AS (SELECT doc_id, text || chr(10) || 'boilerplate footer' || chr(10) || text || chr(10) || 'unique ' || CAST(doc_id AS VARCHAR) AS text
           |   FROM documents),
           | l AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM fx),
           | k AS (SELECT doc_id, len(lines) AS n_lines,
           |     list_filter(lines, (x, i) -> list_position(lines, x) = i) AS kept
           |   FROM l)
           | SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
           |   CAST(len(kept) AS BIGINT) AS n_kept,
           |   array_to_string(kept, chr(10)) AS text
           | FROM k ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  private def qTextEntropy = Q(
    (s, dir) => t(s, dir, "documents")
      .select(F.col("doc_id"),
        TextAnalysis.tokenCount(F.col("text")).cast("long").as("n_tokens"),
        F.size(F.array_distinct(F.filter(TextAnalysis.tokens(F.col("text")),
          w => F.length(w) > 0))).cast("long").as("n_distinct"),
        TextAnalysis.unigramEntropy(F.col("text"), lnQuantize = Some(1e9)).as("entropy"))
      .orderBy("doc_id"),
    Some("""WITH tok AS (
           |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS toks
           |  FROM documents),
           | term AS (SELECT doc_id, len(toks) AS n, unnest(list_sort(list_distinct(toks))) AS t, toks FROM tok),
           | contrib AS (SELECT doc_id, t,
           |   (CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE) / CAST(n AS DOUBLE))
           |     * (floor(ln(CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000000.0) / 1000000000.0) AS c
           |  FROM term),
           | ent AS (SELECT doc_id, -sum(c ORDER BY t) AS entropy FROM contrib GROUP BY 1)
           | SELECT tok.doc_id,
           |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
           |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           |  COALESCE(ent.entropy, 0.0) AS entropy
           | FROM tok JOIN documents USING (doc_id) LEFT JOIN ent ON tok.doc_id = ent.doc_id
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  private def qTextStats = Q(
    (s, dir) => {
      TextAnalysis.analyze(t(s, dir, "documents"), "doc_id", "text")
        .select(F.col("doc_id"),
          F.col("n_chars").cast("long").as("n_chars"),
          F.col("n_tokens").cast("long").as("n_tokens"),
          F.col("n_alpha").cast("long").as("n_alpha"),
          F.col("n_digits").cast("long").as("n_digits"),
          F.col("n_punct").cast("long").as("n_punct"),
          F.col("alpha_ratio"), F.col("mean_token_len"),
          F.col("quality_ok"), F.col("lang_guess"))
        .orderBy("doc_id")
    },
    Some {
      val langCase = {
        val hits = TextAnalysis.StopWords.map { case (lang, words) =>
          val list = words.map(w => s"'$w'").mkString("[", ",", "]")
          lang -> s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> list_contains($list, t)))"
        }
        val byLangAsc = hits.sortBy(_._1)
        val maxExpr = s"greatest(${hits.map(_._2).mkString(", ")})"
        val whens = byLangAsc.map { case (l, h) => s"WHEN $h = $maxExpr THEN '$l'" }
        s"CASE WHEN $maxExpr <= 0 THEN 'und' ${whens.mkString(" ")} END"
      }
      s"""SELECT doc_id,
         | length(text) AS n_chars,
         | CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         | length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
         | length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
         | length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')) AS n_punct,
         | CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS alpha_ratio,
         | CASE WHEN len(string_split_regex(trim(text), '\\s+')) = 0 THEN 0.0 ELSE CAST(length(text) - len(string_split_regex(trim(text), '\\s+')) + 1 AS DOUBLE) / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) END AS mean_token_len,
         | (len(string_split_regex(trim(text), '\\s+')) >= 5
         |   AND (CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END) > 0.5
         |   AND (CASE WHEN len(string_split_regex(trim(text), '\\s+')) = 0 THEN 0.0 ELSE CAST(length(text) - len(string_split_regex(trim(text), '\\s+')) + 1 AS DOUBLE) / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) END) < 15.0) AS quality_ok,
         | $langCase AS lang_guess
         | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    })

  /** Token counting both ways the brief's pipelines use it: whitespace
    * tokens and a BPE-style pre-tokenizer match count (the cheap LLM
    * token-cost proxy). Pure codegen'd regex expressions, map-only; the
    * oracle evaluates the identical pattern under RE2 (see
    * [[TextAnalysis.BpeTokenPattern]] for the dialect-portability
    * constraints). */
  private def qTokenCounts = Q(
    (s, dir) => {
      val d = t(s, dir, "documents")
      d.select(F.col("doc_id"),
        TextAnalysis.tokenCount(F.col("text")).cast("long").as("ws_tokens"),
        TextAnalysis.bpeTokenCount(F.col("text")).cast("long").as("bpe_tokens"))
        .orderBy("doc_id")
    },
    Some {
      val pat = TextAnalysis.BpeTokenPattern.replace("'", "''")
      s"""SELECT doc_id,
         | CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS ws_tokens,
         | len(regexp_extract_all(text, '$pat')) AS bpe_tokens
         | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    })

  /** Deterministic stratified sampling: downsample head languages, keep
    * the tail, via md5-threshold hashing ([[Sampling]]). The oracle runs
    * the IDENTICAL predicate — same md5, same hex comparison — so the
    * row set matches exactly, the property that makes the sample
    * re-derivable on any engine. */
  private def qSampleStratified = Q(
    (s, dir) => Sampling.stratifiedHashSample(
      t(s, dir, "documents"), F.col("doc_id"), F.col("lang"),
      fractions = Map("en" -> 0.5, "zh" -> 0.125),
      defaultFraction = 0.25, salt = "graft")
      .select("doc_id", "lang").orderBy("doc_id"),
    Some("""SELECT doc_id, lang FROM documents
           | WHERE substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8) <
           |  CASE WHEN lang = 'en' THEN '80000000'
           |       WHEN lang = 'zh' THEN '20000000'
           |       ELSE '40000000' END
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Deterministic train/val/test split by cumulative hash range; checked
    * as per-(split, lang) counts. Same key+salt ⇒ same assignment on
    * every run — the property that keeps eval sets leak-free across
    * pipeline rebuilds. */
  private def qSampleSplit = Q(
    (s, dir) => t(s, dir, "documents")
      .withColumn("split", Sampling.hashSplit(F.col("doc_id"), "split",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      .groupBy("split", "lang").agg(F.count(F.lit(1)).as("n"))
      .orderBy("split", "lang"),
    Some("""SELECT CASE WHEN h < 'cccccccd' THEN 'train'
           |            WHEN h < 'e6666666' THEN 'val'
           |            ELSE 'test' END AS split, lang, count(*) AS n
           | FROM (SELECT lang, substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h FROM documents)
           | GROUP BY 1, 2 ORDER BY split, lang""".stripMargin.replaceAll("\n", " ")))

  /** Stratum-balanced deterministic sample
    * ([[graft.pipeline.Sampling.balancedSample]]): every language kept
    * at rate n_min/n_lang via pure-integer modular thresholds, so the
    * exact selected set is engine-reproducible (no pow() rounding).
    * Checked row-by-row, not just by counts. */
  private def qSampleBalanced = Q(
    (s, dir) => Sampling.balancedSample(
      t(s, dir, "documents"), F.col("doc_id"), F.col("lang"), salt = "bal")
      .select("doc_id", "lang").orderBy("doc_id"),
    Some("""WITH c AS (SELECT lang AS s, count(*) AS n FROM documents GROUP BY 1),
           | m AS (SELECT min(n) AS nmin FROM c)
           | SELECT d.doc_id, d.lang FROM documents d JOIN c ON d.lang = c.s, m
           | WHERE CAST('0x' || substr(md5('bal:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % c.n < m.nmin
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Temperature-scaled sampling at α=0.5
    * ([[graft.pipeline.Sampling.temperatureSample]]): per-stratum
    * thresholds ⌊√(n_min/n_s)·n_s⌋ (√ is IEEE-exact on both engines),
    * then the same integer modular selection as `sample_balanced` —
    * checked row-by-row. */
  private def qSampleTemperature = Q(
    (s, dir) => Sampling.temperatureSample(
      t(s, dir, "documents"), F.col("doc_id"), F.col("lang"),
      alpha = 0.5, salt = "temp")
      .select("doc_id", "lang").orderBy("doc_id"),
    Some("""WITH c AS (SELECT lang AS s, count(*) AS n FROM documents GROUP BY 1),
           | m AS (SELECT min(n) AS nmin FROM c),
           | t AS (SELECT s, n, CAST(floor(sqrt(CAST(nmin AS DOUBLE) / n) * n) AS BIGINT) AS thr
           |   FROM c, m)
           | SELECT d.doc_id, d.lang FROM documents d JOIN t ON d.lang = t.s
           | WHERE CAST('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % t.n < t.thr
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Semi-structured ingest: profile a field extracted from the JSON
    * `events.props` column (`get_json_object` is codegen'd and map-only;
    * the reference reaches the same shape through its pandas
    * `json_normalize` pre-pass). All-integer outputs ⇒ exact oracle. */
  private def qJsonPropsProfile = Q(
    (s, dir) => {
      val k = F.get_json_object(F.col("props"), "$.k").cast("long")
      events(s, dir).select(F.col("event_type"), k.as("k"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.col("k").isNull.cast("long")).as("k_nulls"),
          F.min("k").as("k_min"), F.max("k").as("k_max"),
          F.sum("k").as("k_sum"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
           | CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_nulls,
           | min(k) AS k_min, max(k) AS k_max, CAST(sum(k) AS BIGINT) AS k_sum
           | FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
           | GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** Decontamination: 13-gram overlap of the corpus (source ≠ src0)
    * against the src0 "benchmark" slice. The oracle recomputes the
    * overlap on shingle STRINGS; the Spark side matches 64-bit shingle
    * ids — equal modulo xxhash64 collisions (~|pairs|/2⁶⁴). */
  /** Per-document 13-gram novelty ([[Dedup.novelty]]): fraction of each
    * doc's distinct grams appearing in no other doc. Spark matches
    * 64-bit gram hashes; the oracle rebuilds grams as strings (same
    * construction as `decontaminate`). */
  private def qDocNovelty = Q(
    (s, dir) => Dedup.novelty(t(s, dir, "documents"), "text", "doc_id", n = 13)
      .orderBy("doc_id"),
    Some("""WITH g AS (
           |  SELECT doc_id,
           |   list_distinct([array_to_string(words[i:i+12], ' ')
           |                  for i in range(1, greatest(len(words) - 11, 1))]) AS ng
           |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS words FROM documents)),
           | u AS (SELECT doc_id, unnest(ng) AS gram FROM g),
           | h AS (SELECT gram, count(*) AS docs FROM u GROUP BY 1),
           | p AS (SELECT u.doc_id, count(*) AS n_grams,
           |     CAST(sum(CASE WHEN h.docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
           |   FROM u JOIN h USING (gram) GROUP BY 1)
           | SELECT g.doc_id, CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
           |   CAST(COALESCE(p.n_shared, 0) AS BIGINT) AS n_shared,
           |   1.0 - CAST(COALESCE(p.n_shared, 0) AS DOUBLE)
           |     / GREATEST(CAST(COALESCE(p.n_grams, 0) AS DOUBLE), 1.0) AS novelty
           | FROM g LEFT JOIN p USING (doc_id)
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  private def qDecontaminate = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      Decontaminate.overlaps(
        docs.filter(F.col("source") =!= "src0"),
        docs.filter(F.col("source") === "src0"),
        "text", "doc_id", n = 13)
        .orderBy("doc_id")
    },
    Some("""WITH g AS (
           |  SELECT doc_id, source,
           |   list_distinct([array_to_string(words[i:i+12], ' ')
           |                  for i in range(1, greatest(len(words) - 11, 1))]) AS ng
           |  FROM (SELECT doc_id, source, string_split_regex(lower(trim(text)), '\s+') AS words FROM documents)),
           | ev AS (SELECT DISTINCT unnest(ng) AS gram FROM g WHERE source = 'src0')
           | SELECT u.doc_id, any_value(u.n_grams) AS n_grams, count(*) AS hits,
           |  CAST(count(*) AS DOUBLE) / CAST(any_value(u.n_grams) AS DOUBLE) AS contamination
           | FROM (SELECT doc_id, len(ng) AS n_grams, unnest(ng) AS gram FROM g WHERE source <> 'src0') u
           | JOIN ev USING (gram) GROUP BY u.doc_id ORDER BY u.doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Sequence packing: global token offsets + 512-token chunk ids via
    * the two-pass distributed prefix sum (see [[Packing]] — no
    * single-partition global window). Oracle: the single-window cumsum
    * DuckDB runs happily at sf0.01. */
  /** Sliding-window long-document chunking
    * ([[graft.pipeline.Packing.chunkTokens]]): 24-token windows every 16
    * tokens (8-token overlap). Pure integer arithmetic + token slices;
    * the oracle replays window count, starts, slices and the joined
    * chunk text verbatim. */
  private def qCorpusChunks = Q(
    (s, dir) => Packing.chunkTokens(t(s, dir, "documents"),
      "text", window = 24, stride = 16)
      .select("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text")
      .orderBy("doc_id", "chunk_idx"),
    Some("""WITH tok AS (
           |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), w -> len(w) > 0) AS toks
           |  FROM documents),
           | base AS (SELECT doc_id, toks, len(toks) AS n,
           |   CASE WHEN len(toks) <= 24 THEN 1
           |     ELSE CAST(floor(CAST(len(toks) - 24 + 15 AS DOUBLE) / 16.0) AS BIGINT) + 1 END AS nc
           |  FROM tok),
           | ch AS (SELECT doc_id, unnest(range(0, nc)) AS chunk_idx, toks FROM base)
           | SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           |   CAST(len(list_slice(toks, chunk_idx * 16 + 1, chunk_idx * 16 + 24)) AS BIGINT) AS n_chunk_tokens,
           |   array_to_string(list_slice(toks, chunk_idx * 16 + 1, chunk_idx * 16 + 24), ' ') AS chunk_text
           | FROM ch ORDER BY doc_id, chunk_idx""".stripMargin.replaceAll("\n", " ")))

  /** End-to-end curation tail: per-domain cap
    * ([[Sampling.capPerKey]]) → deterministic shuffle/sharding
    * ([[Sampling.deterministicShuffle]]) → sliding-window chunking
    * ([[Packing.chunkTokens]]) → per-shard manifest (docs, chunks,
    * tokens). Three composed operators, each already oracle-pinned
    * alone; this query pins that they COMPOSE — the md5 rank the cap
    * keeps, the shard each kept doc lands in, and the chunk fan-out all
    * replay in SQL as one CTE chain, pure integer/string ops
    * throughout. */
  private def qCurationE2e = Q(
    (s, dir) => {
      val kept = Sampling.capPerKey(t(s, dir, "documents"),
        F.col("source"), F.col("doc_id"), cap = 100)
      val sharded = Sampling.deterministicShuffle(kept, F.col("doc_id"), numShards = 4)
      Packing.chunkTokens(sharded, "text", window = 24, stride = 16)
        .groupBy("shard")
        .agg(F.count_distinct(F.col("doc_id")).as("n_docs"),
          F.count(F.lit(1)).as("n_chunks"),
          F.sum("n_chunk_tokens").as("n_tokens"))
        .orderBy("shard")
    },
    Some("""WITH kept AS (
           |  SELECT doc_id, text FROM (
           |    SELECT doc_id, text,
           |      row_number() OVER (PARTITION BY source
           |        ORDER BY substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk
           |    FROM documents) WHERE rk <= 100),
           | sh AS (SELECT doc_id,
           |   CAST('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 9, 4) AS INTEGER) % 4 AS shard,
           |   list_filter(string_split_regex(trim(text), '\s+'), w -> len(w) > 0) AS toks
           |  FROM kept),
           | base AS (SELECT doc_id, shard, toks, len(toks) AS n,
           |   CASE WHEN len(toks) <= 24 THEN 1
           |     ELSE CAST(floor(CAST(len(toks) - 24 + 15 AS DOUBLE) / 16.0) AS BIGINT) + 1 END AS nc
           |  FROM sh),
           | ch AS (SELECT doc_id, shard, unnest(range(0, nc)) AS ci, toks FROM base)
           | SELECT shard, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           |   count(*) AS n_chunks,
           |   CAST(sum(len(list_slice(toks, ci * 16 + 1, ci * 16 + 24))) AS BIGINT) AS n_tokens
           | FROM ch GROUP BY shard ORDER BY shard""".stripMargin.replaceAll("\n", " ")))

  private def qCorpusPack = Q(
    (s, dir) => Packing.withOffsets(
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, F.col("doc_id")),
      "doc_id", TextAnalysis.tokenCount(F.col("text")), capacity = 512L)
      .select("doc_id", "n_tokens", "offset", "chunk_id")
      .orderBy("doc_id"),
    Some("""SELECT doc_id, n_tokens,
           |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset,
           |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS chunk_id
           | FROM (SELECT doc_id,
           |   CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
           |   FROM documents)
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  private def qDocFingerprint = Q(
    (s, dir) => t(s, dir, "documents")
      .select(F.col("doc_id"), rolling_min_hash(F.col("text"), 16).as("fingerprint"))
      .orderBy("doc_id"),
    None)

  /** Exact duplicated-substring spans ([[graft.pipeline.Dedup.duplicateSpans]],
    * n = 5 tokens): every (doc, position) whose 5-gram occurs more than
    * once in the corpus. The engine joins on xxhash64 of the gram (8-byte
    * shuffle keys); the oracle joins on the gram STRING itself — the
    * results agree exactly unless xxhash64 collides, which at sf0.01 gram
    * counts is ~1e-13. */
  private def qDedupSpans = Q(
    (s, dir) => Dedup.duplicateSpans(t(s, dir, "documents"), "text", "doc_id", n = 5)
      .select(F.col("doc_id"), F.col("pos").cast("long").as("pos"),
        F.col("n_copies"))
      .orderBy("doc_id", "pos"),
    Some(s"""WITH $spanGramCtes,
           | d AS (SELECT gram, count(*) AS n_copies FROM g GROUP BY gram HAVING count(*) > 1)
           | SELECT g.doc_id, CAST(g.pos AS BIGINT) AS pos, d.n_copies
           | FROM g JOIN d USING (gram) ORDER BY doc_id, pos""".stripMargin.replaceAll("\n", " ")))

  /** Duplicated spans merged to maximal token ranges
    * ([[graft.pipeline.Dedup.duplicateSpanRanges]]) — the cut list a
    * dedup pass applies. Oracle reruns the gaps-and-islands merge in
    * SQL over the same string-joined gram positions. */
  private def qDedupSpanRanges = Q(
    (s, dir) => Dedup.duplicateSpanRanges(t(s, dir, "documents"), "text", "doc_id", n = 5)
      .select(F.col("doc_id"), F.col("start_pos").cast("long").as("start_pos"),
        F.col("end_pos").cast("long").as("end_pos"), F.col("n_grams"))
      .orderBy("doc_id", "start_pos"),
    Some(s"""WITH $spanGramCtes,
           | d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
           | f AS (SELECT g.doc_id, g.pos,
           |   g.pos - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS island
           |  FROM g JOIN d USING (gram))
           | SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_pos,
           |  CAST(max(pos) + 4 AS BIGINT) AS end_pos, count(*) AS n_grams
           | FROM f GROUP BY doc_id, island ORDER BY doc_id, start_pos""".stripMargin.replaceAll("\n", " ")))

  /** Duplicated-span REMOVAL ([[graft.pipeline.Dedup.cutDuplicateSpans]],
    * n = 5): drop every token covered by a duplicated 5-gram occurrence
    * except the corpus-wide min-(doc, pos) canonical one, and re-join
    * the survivors — the APPLY step for the `dedup_spans` /
    * `dedup_span_ranges` cut lists. The engine elects canonicals by
    * struct-min over (doc, pos); the oracle uses the numeric key
    * doc·10⁶ + pos, identical ordering while positions stay below 10⁶
    * (the fixture's docs are hundreds of tokens). */
  private def qDedupSpansApply = Q(
    (s, dir) => Dedup.cutDuplicateSpans(t(s, dir, "documents"), "text", "doc_id", n = 5)
      .orderBy("doc_id"),
    Some(s"""WITH $spanGramCtes,
           | d AS (SELECT gram, min(doc_id * 1000000 + pos) AS fk FROM g
           |   GROUP BY gram HAVING count(*) > 1),
           | nc AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)
           |   WHERE g.doc_id * 1000000 + g.pos <> d.fk),
           | cut AS (SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 4)) AS idx FROM nc),
           | tokidx AS (SELECT doc_id, u.idx AS idx, u.t AS t FROM (
           |   SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
           |     i -> struct_pack(idx := i, t := w[i]))) AS u FROM tok)),
           | kept AS (SELECT tk.doc_id, tk.idx, tk.t FROM tokidx tk
           |   LEFT JOIN cut c ON c.doc_id = tk.doc_id AND c.idx = tk.idx
           |   WHERE c.idx IS NULL),
           | clean AS (SELECT doc_id, string_agg(t, ' ' ORDER BY idx) AS text_clean
           |   FROM kept GROUP BY 1),
           | ncut AS (SELECT doc_id, count(*) AS n_cut FROM cut GROUP BY 1)
           | SELECT tok.doc_id, coalesce(clean.text_clean, '') AS text_clean,
           |  CAST(coalesce(ncut.n_cut, 0) AS BIGINT) AS n_cut
           | FROM tok LEFT JOIN clean USING (doc_id) LEFT JOIN ncut USING (doc_id)
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Oracle-checked fingerprint bridge: the same 1-fingerprint winnowing
    * semantic as `doc_fingerprint` (min hash over all k-char windows)
    * with md5 in place of the native rolling hash, so DuckDB reproduces
    * it verbatim and the hex string min is the same lexicographic min in
    * both engines. O(len·k) md5 calls per row — this query exists to
    * hash-pin the fingerprint FAMILY's windowing/min semantics; the
    * production path is the codegen'd rolling_min_hash expression above
    * (one multiply-add per byte). */
  private def qDocFingerprintMd5 = Q(
    (s, dir) => {
      val txt = F.col("text")
      val k = 8
      val count = F.greatest(F.length(txt) - (k - 1), F.lit(1))
      t(s, dir, "documents")
        .select(F.col("doc_id"),
          F.array_min(F.transform(F.sequence(F.lit(1), count),
            i => F.md5(txt.substr(i, F.lit(k))))).as("fp_md5"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           | list_min(list_transform(generate_series(1, greatest(length(text) - 7, 1)),
           |   i -> md5(substr(text, i, 8)))) AS fp_md5
           | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** PII scan, oracle-checked: [[graft.pipeline.Pii.scan]]'s map-only
    * regexp_count pass over a deterministic PII-bearing text built from
    * `customer` (TPC-H c_phone is a real grouped-digit phone shape; the
    * email/IP are synthesized from the key so every row has known
    * ground truth). The patterns live in [[graft.pipeline.Pii.Patterns]]
    * and are spliced into the oracle verbatim — both engines run the
    * same common-dialect regex. */
  private def qPiiScan = Q(
    (s, dir) => Pii.scan(piiText(t(s, dir, "customer")), "text")
      .select(F.col("c_custkey"),
        F.col("pii_email").cast("long").as("pii_email"),
        F.col("pii_phone").cast("long").as("pii_phone"),
        F.col("pii_ipv4").cast("long").as("pii_ipv4"),
        F.col("pii_card").cast("long").as("pii_card"),
        F.col("pii_total").cast("long").as("pii_total"))
      .orderBy("c_custkey"),
    Some {
      val counts = Pii.Patterns.map { case (n, pat) =>
        s"len(regexp_extract_all(text, '$pat')) AS pii_$n"
      }.mkString(", ")
      val total = Pii.Patterns.map { case (n, _) => s"pii_$n" }.mkString(" + ")
      s"""SELECT c_custkey, $counts, $total AS pii_total
         | FROM (SELECT c_custkey, $piiTextSql AS text FROM customer)
         | ORDER BY c_custkey""".stripMargin.replaceAll("\n", " ")
    })

  /** PII redaction, oracle-checked on the md5 of the redacted text:
    * classes apply in [[graft.pipeline.Pii.Patterns]] order in both
    * engines, so the intermediate strings agree at every step. */
  private def qPiiRedact = Q(
    (s, dir) => Pii.redact(piiText(t(s, dir, "customer")), "text")
      .select(F.col("c_custkey"), F.md5(F.col("redacted")).as("redacted_md5"))
      .orderBy("c_custkey"),
    Some {
      val redacted = Pii.Patterns.foldLeft("text") { case (acc, (n, pat)) =>
        s"regexp_replace($acc, '$pat', '[${n.toUpperCase}]', 'g')"
      }
      s"""SELECT c_custkey, md5($redacted) AS redacted_md5
         | FROM (SELECT c_custkey, $piiTextSql AS text FROM customer)
         | ORDER BY c_custkey""".stripMargin.replaceAll("\n", " ")
    })

  /** Corpus-level PII incidence ([[graft.pipeline.Pii.summary]]): the
    * before/after numbers a scrub pass reports. One map-side-combined
    * aggregation; all outputs are counts, so the oracle is exact. */
  private def qPiiSummary = Q(
    (s, dir) => Pii.summary(piiText(t(s, dir, "customer")), "text"),
    Some {
      val per = Pii.Patterns.map { case (n, pat) =>
        s"CAST(sum(CASE WHEN len(regexp_extract_all(text, '$pat')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_$n, " +
          s"CAST(sum(len(regexp_extract_all(text, '$pat'))) AS BIGINT) AS hits_$n"
      }.mkString(", ")
      val any = Pii.Patterns.map { case (_, pat) =>
        s"len(regexp_extract_all(text, '$pat'))"
      }.mkString(" + ")
      s"""SELECT count(*) AS docs,
         | CAST(sum(CASE WHEN $any > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii, $per
         | FROM (SELECT $piiTextSql AS text FROM customer)""".stripMargin.replaceAll("\n", " ")
    })

  /** Deterministic PII-bearing text from `customer`: phone / email / IP /
    * (every third row) card, all derived from c_custkey with
    * multiply-and-mod integer arithmetic only — no division, no float
    * formatting — so the Spark and DuckDB strings agree byte-for-byte.
    * Offsets (100+, 1000+) pin group widths to 3/4 digits without lpad. */
  private def piiText(customer: DataFrame): DataFrame = {
    val c = F.col("c_custkey")
    def g(mul: Int, base: Int, span: Int) =
      (F.lit(base) + (c * mul) % span).cast("string")
    val card = F.when(c % 3 === 0, F.concat(
      F.lit(" card "), g(1, 4000, 1000), F.lit("-"), g(3, 1000, 9000),
      F.lit("-"), g(7, 1000, 9000), F.lit("-"), g(11, 1000, 9000)))
      .otherwise(F.lit(""))
    customer.select(c.as("c_custkey"), F.concat(
      F.col("c_name"), F.lit(" reachable at "),
      g(1, 100, 900), F.lit("-"), g(3, 100, 900), F.lit("-"), g(1, 1000, 9000),
      F.lit(" email "), F.lower(F.col("c_name")), F.lit("@example.com node 10.0."),
      (c % 256).cast("string"), F.lit("."), (c % 100).cast("string"),
      card, F.lit(" segment "), F.col("c_mktsegment")).as("text"))
  }

  private val piiTextSql: String = {
    def g(mul: Int, base: Int, span: Int) =
      s"CAST($base + (c_custkey * $mul) % $span AS VARCHAR)"
    s"""c_name || ' reachable at ' || ${g(1, 100, 900)} || '-' || ${g(3, 100, 900)}
       | || '-' || ${g(1, 1000, 9000)} || ' email ' || lower(c_name)
       | || '@example.com node 10.0.' || CAST(c_custkey % 256 AS VARCHAR)
       | || '.' || CAST(c_custkey % 100 AS VARCHAR)
       | || CASE WHEN c_custkey % 3 = 0 THEN ' card ' || ${g(1, 4000, 1000)}
       |      || '-' || ${g(3, 1000, 9000)} || '-' || ${g(7, 1000, 9000)}
       |      || '-' || ${g(11, 1000, 9000)} ELSE '' END
       | || ' segment ' || c_mktsegment""".stripMargin.replaceAll("\n", " ")
  }

  private def qMultimodalMeta = Q(
    (s, dir) => {
      val bin = t(s, dir, "documents")
        .select(F.col("doc_id"), F.encode(F.col("text"), "UTF-8").as("content"))
      val meta = Multimodal.decodeMetadata(
        Multimodal.withBinaryMetadata(bin, "content"), "content")
      meta.select(F.col("doc_id"), F.col("n_bytes").cast("long").as("n_bytes"),
        F.col("content_sha256"), F.col("width"), F.col("height"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes, sha256(text) AS content_sha256,
           | CAST(64 + octet_length(encode(text)) % 512 AS INT) AS width,
           | CAST(64 + (octet_length(encode(text)) // 7) % 512 AS INT) AS height
           | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  private def qWindowProfile = Q(
    (s, dir) => {
      val ev = events(s, dir)
      ev.groupBy(F.window(F.col("ts"), "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).as("n"),
          count_where(F.col("value").isNull).as("value_nulls"),
          exact_sum(F.col("value")).as("value_sum"),
          F.min("value").as("value_min"), F.max("value").as("value_max"))
        .select(F.unix_timestamp(F.col("window.start")).as("window_start"),
          F.col("event_type"), F.col("n"), F.col("value_nulls"),
          F.col("value_sum"), F.col("value_min"), F.col("value_max"))
        .orderBy("window_start", "event_type")
    },
    Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
           | event_type, count(*) AS n,
           | count(*) FILTER (WHERE value IS NULL) AS value_nulls,
           | CAST(sum(CAST(value AS DECIMAL(33,6))) AS DOUBLE) AS value_sum,
           | min(value) AS value_min, max(value) AS value_max
           | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " ")))

  /** Ordered funnel ([[graft.pipeline.Funnel]]) signup → click →
    * purchase with greedy-earliest semantics; the oracle rebuilds the
    * greedy chain as nested min-joins. Exact integer counts. */
  private def qEventsFunnel = Q(
    (s, dir) => graft.pipeline.Funnel.funnel(
      events(s, dir), "user_id", "ts", "event_type",
      Seq("signup", "click", "purchase"))
      .orderBy("step_idx"),
    Some("""WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
           |   event_type FROM events WHERE user_id IS NOT NULL),
           | t1 AS (SELECT user_id, min(ts_us) AS t FROM e
           |   WHERE event_type = 'signup' GROUP BY 1),
           | t2 AS (SELECT e.user_id, min(ts_us) AS t FROM e JOIN t1 USING (user_id)
           |   WHERE event_type = 'click' AND ts_us >= t1.t GROUP BY 1),
           | t3 AS (SELECT e.user_id, min(ts_us) AS t FROM e JOIN t2 USING (user_id)
           |   WHERE event_type = 'purchase' AND ts_us >= t2.t GROUP BY 1)
           | SELECT 'signup' AS step, CAST(1 AS BIGINT) AS step_idx,
           |   (SELECT count(*) FROM t1) AS users
           | UNION ALL SELECT 'click', 2, (SELECT count(*) FROM t2)
           | UNION ALL SELECT 'purchase', 3, (SELECT count(*) FROM t3)
           | ORDER BY step_idx""".stripMargin.replaceAll("\n", " ")))

  /** Cohort retention ([[graft.pipeline.Retention]]) at day 1 and
    * day 7; exact integer counts over distinct (user, day) activity. */
  private def qEventsRetention = Q(
    (s, dir) => graft.pipeline.Retention.cohortRetention(
      events(s, dir), "user_id", "ts", Seq(1, 7))
      .orderBy("cohort_day"),
    Some("""WITH a AS (SELECT DISTINCT user_id,
           |   epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
           |  FROM events WHERE user_id IS NOT NULL),
           | f AS (SELECT user_id, min(d) AS d0 FROM a GROUP BY 1)
           | SELECT CAST(f.d0 AS BIGINT) AS cohort_day,
           |  count(DISTINCT a.user_id) AS n_users,
           |  count(DISTINCT CASE WHEN a.d = f.d0 + 1 THEN a.user_id END) AS retained_d1,
           |  count(DISTINCT CASE WHEN a.d = f.d0 + 7 THEN a.user_id END) AS retained_d7
           | FROM a JOIN f USING (user_id) GROUP BY 1
           | ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** Point-in-time join ([[graft.pipeline.AsofJoin]]): every event
    * joined to the user's latest purchase at-or-before it — the
    * feature-store leakage-guard join. One exchange by user + local
    * sort; the oracle is DuckDB's native ASOF LEFT JOIN, so the
    * semantics (greatest r.ts ≤ l.ts, equal-ts visible) are checked
    * against an independent implementation, not a SQL re-derivation. */
  private def qAsofJoin = Q(
    (s, dir) => {
      val ev = events(s, dir)
      val right = ev.filter(F.col("event_type") === "purchase")
        .select(F.col("user_id"), F.col("ts"),
          F.col("event_id").as("prev_purchase_id"),
          F.col("value").as("prev_purchase_value"))
      graft.pipeline.AsofJoin.asofLeft(
        ev.select("user_id", "ts", "event_id"), right,
        keyCols = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        rightPayload = Seq("prev_purchase_id", "prev_purchase_value"),
        tieCol = "prev_purchase_id")
        .select(F.col("event_id"), F.col("user_id"),
          F.unix_micros(F.col("ts")).as("ts_us"),
          F.col("prev_purchase_id"), F.col("prev_purchase_value"))
        .orderBy("event_id")
    },
    Some("""SELECT l.event_id, l.user_id,
           | epoch_us(CAST(l.ts AS TIMESTAMP)) AS ts_us,
           | r.event_id AS prev_purchase_id, r.value AS prev_purchase_value
           | FROM events l ASOF LEFT JOIN
           |  (SELECT user_id, ts, event_id, value FROM events
           |   WHERE event_type = 'purchase') r
           | ON l.user_id = r.user_id AND l.ts >= r.ts
           | ORDER BY l.event_id""".stripMargin.replaceAll("\n", " ")))

  /** Bucketed range join ([[graft.pipeline.RangeJoin]]): every event
    * assigned to the session interval containing it. The oracle is the
    * plain BETWEEN inequality join over the session CTE — fine at
    * oracle scale, quadratic-per-key at cluster scale, which is exactly
    * what the bucketed plan avoids. Cross-operator consistency: the
    * assignment equals Sessionize.assign's numbering. */
  private def qRangeJoinSessions = Q(
    (s, dir) => {
      val ev = events(s, dir)
      val points = ev.select(F.col("user_id"), F.col("event_id"),
        F.unix_micros(F.col("ts")).as("ts_us"))
      val intervals = graft.pipeline.Sessionize.sessions(
        ev, "user_id", "ts", 21600L, "event_id", "value", "event_type")
        .select(F.col("user_id"), F.col("session_seq"),
          F.col("start_us"), F.col("end_us"))
      graft.pipeline.RangeJoin.pointInInterval(
        points, intervals, Seq("user_id"), "ts_us", "start_us", "end_us",
        bucketWidth = 21600L * 1000000L)
        .select(F.col("event_id"), F.col("user_id"), F.col("ts_us"),
          F.col("session_seq"))
        .orderBy("event_id")
    },
    Some(s"""WITH e AS (
           |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
           | $sessionSeqCtes,
           | iv AS (SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           |   min(ts_us) AS start_us, max(ts_us) AS end_us FROM s GROUP BY 1, 2)
           | SELECT e.event_id, e.user_id, e.ts_us, iv.session_seq
           | FROM e JOIN iv ON e.user_id = iv.user_id
           |  AND e.ts_us BETWEEN iv.start_us AND iv.end_us
           | ORDER BY e.event_id""".stripMargin.replaceAll("\n", " ")))

  /** Gap-based sessionization ([[graft.pipeline.Sessionize]]): 6h
    * inactivity splits a user's events into sessions; one row per
    * session. All outputs are integers (epoch-micros bounds, integer
    * duration division) so the DuckDB oracle matches bit-for-bit.
    * Windows partition by user — one exchange, no global sort
    * (pinned in PlanSpec). */
  private def qEventsSessionize = Q(
    (s, dir) => graft.pipeline.Sessionize.sessions(
      events(s, dir), "user_id", "ts", gapSeconds = 21600L,
      tieCol = "event_id", valueCol = "value", typeCol = "event_type")
      .orderBy("user_id", "session_seq"),
    Some(s"""WITH e AS (
           |  SELECT user_id, event_id, event_type, value,
           |   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
           | $sessionSeqCtes
           | SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           |  count(*) AS n_events, min(ts_us) AS start_us, max(ts_us) AS end_us,
           |  count(DISTINCT event_type) AS n_event_types,
           |  CAST(sum(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_values,
           |  (max(ts_us) - min(ts_us)) // 1000000 AS duration_secs
           | FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " ")))

  /** Sessionization through a REAL stateful streaming query
    * ([[graft.streaming.SessionStream]], flatMapGroupsWithState with
    * event-time timeout): sessions closed by a gap emit immediately;
    * each user's final open session emits only if the trailing no-data
    * micro-batch's watermark (max event time − 1h) passes its gap
    * horizon. The oracle reproduces exactly that emission rule on top of
    * the batch sessionization SQL — deterministic because the fixture is
    * one file processed as one batch. */
  private def qStreamingSessionize = Q(
    (s, dir) => {
      val sdf = st(s, dir, "events")
        .transform(rebuildTs)
      Streams.toMemory(graft.streaming.SessionStream.sessions(sdf, gapSeconds = 21600L))
        .orderBy("user_id", "session_seq")
    },
    Some(s"""WITH e AS (
           |  SELECT user_id, event_id, event_type, value,
           |   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
           | $sessionSeqCtes,
           | a AS (
           |  SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           |   count(*) AS n_events, min(ts_us) AS start_us, max(ts_us) AS end_us,
           |   count(DISTINCT event_type) AS n_event_types,
           |   CAST(sum(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_values,
           |   (max(ts_us) - min(ts_us)) // 1000000 AS duration_secs
           |  FROM s GROUP BY 1, 2),
           | wm AS (SELECT max(ts_us) // 1000 - 3600000 AS wm_ms FROM e),
           | lastq AS (SELECT user_id, max(session_seq) AS last_seq FROM a GROUP BY 1)
           | SELECT a.user_id, a.session_seq, a.n_events, a.start_us, a.end_us,
           |  a.n_event_types, a.n_values, a.duration_secs
           | FROM a JOIN lastq ON a.user_id = lastq.user_id, wm
           | WHERE a.session_seq < lastq.last_seq
           |   OR (a.end_us + 21600000000) // 1000 + 1 < wm.wm_ms
           | ORDER BY 1, 2""".stripMargin.replaceAll("\n", " ")))

  /** Oracle-checked frame-sampling bridge: the same evenly-spaced-window
    * position arithmetic as `frame_hashes`
    * ([[graft.pipeline.Multimodal.frameSampleHashes]] — frame i starts at
    * 1 + i·max(len−w, 0) div (n−1)) with md5-over-UTF-8 in place of the
    * production xxhash64, and char positions in place of byte offsets, so
    * DuckDB reproduces every frame verbatim (`substring`/`length` are
    * char-based and md5 hashes UTF-8 bytes in both engines; `div` and
    * `//` both floor the non-negative offsets). Pins the FAMILY's
    * sample-position semantics; production stays the binary xxhash64
    * variant. */
  private def qFrameHashesMd5 = Q(
    (s, dir) => {
      val frames = (0 until 4).map { i =>
        F.md5(F.encode(F.expr(
          s"substring(text, 1 + ($i * greatest(char_length(text) - 64, 0)) div 3, 64)"),
          "UTF-8")).as(s"f$i")
      }
      t(s, dir, "documents")
        .select(F.col("doc_id") +: frames: _*).orderBy("doc_id")
    },
    Some {
      val frames = (0 until 4).map { i =>
        s"md5(substring(text, 1 + ($i * greatest(length(text) - 64, 0)) // 3, 64)) AS f$i"
      }.mkString(", ")
      s"SELECT doc_id, $frames FROM documents ORDER BY doc_id"
    })

  /** Streaming exact dedup ([[graft.streaming.DedupStream.exactKeepers]]):
    * keeper election per content hash through a REAL stateful streaming
    * aggregation over a file-source stream. `complete` mode against the
    * memory sink surfaces the final state table, which equals the batch
    * group-by — min(id) keeper election commutes across any micro-batch
    * split, so the oracle is plain SQL. */
  private def qStreamingDedup = Q(
    (s, dir) => {
      val sdf = st(s, dir, "documents")
      Streams.toMemory(graft.streaming.DedupStream.exactKeepers(sdf, "text", "doc_id"),
        "complete").orderBy("text_hash")
    },
    Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
           | count(*) AS dup_count
           | FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin.replaceAll("\n", " ")))

  /** Streaming exact dedup through the PRODUCTION sink
    * ([[graft.streaming.DedupStream.exactKeepersToStore]]): update-mode
    * keeper election upserted into the bucket-partitioned parquet state
    * table, then the table read back — same oracle as
    * `streaming_dedup`, now proven through the foreachBatch upsert
    * instead of a bounded memory sink. */
  private def qStreamingDedupStore = Q(
    (s, dir) => {
      val sdf = st(s, dir, "documents")
      val path = scratch("sds_")
      val q = graft.streaming.DedupStream.exactKeepersToStore(
        sdf, "text", "doc_id", path, numBuckets = 8)
      q.awaitTermination()
      s.read.parquet(s"$path/state")
        .select("text_hash", "keeper_id", "dup_count")
        .orderBy("text_hash")
    },
    Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
           | count(*) AS dup_count
           | FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin.replaceAll("\n", " ")))

  /** Streaming near-dup ingestion
    * ([[graft.streaming.DedupStream.nearDupsAgainstIndex]]): the src1
    * slice arrives as a stream and is band-joined (stream-static,
    * stateless) against the stored MinHash index of the rest of the
    * corpus. Same pairs — and the same provable-equality regime
    * (bimodal corpus, miss-prob 2e-22) — as the batch
    * `dedup_incremental`, whose oracle this reuses verbatim. */
  /** Quality-classifier scoring at INGESTION: the same map-only logit
    * fold as `quality_classifier_score` over a file-source stream —
    * scoring is stateless (weights ride the plan as a literal; no
    * join, no watermark, no state store), so streamed verdicts must
    * equal the batch query's bit-for-bit, and this reuses its exact
    * oracle verbatim. The production shape: score-and-filter documents
    * as they arrive, profile/route on `keep`. */
  private def qStreamingQualityScore = Q(
    (s, dir) => {
      val sdf = st(s, dir, "documents")
      Streams.toMemory(QualityClassifier.scoreDocs(sdf, "text", "doc_id",
          QualityClassifier.md5Weights(1024).toSeq,
          bias = 0.0, dim = 1024, md5Mode = true))
        .orderBy("doc_id")
    },
    qQualityClassifierScore.oracle)

  private def qStreamingNearDedup = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // production stores the index as parquet (minHashIndex scaladoc);
      // this inline build is checkpointed so the two index references
      // (band join + array re-fetch) don't re-shingle the corpus
      Checkpoint.scoped(Dedup.minHashIndex(
          docs.filter(F.col("source") =!= "src1"), "text", "doc_id")) { index =>
        val sdf = st(s, dir, "documents")
          .filter(F.col("source") === "src1")
        Streams.toMemory(graft.streaming.DedupStream.nearDupsAgainstIndex(
          sdf, index, "text", "doc_id", numPerm = 64, bands = 32, threshold = 0.5))
          .orderBy("a", "b")
      }
    },
    Some(nearDupPairsOracle(", source", "a.source = 'src1' AND b.source <> 'src1'")))

  /** SLIDING-window stats (2h windows, 1h slide) — each event lands in
    * exactly two overlapping windows; the oracle replicates the window
    * fanout with a 2-element unnest of the hour-aligned starts. Same
    * exact-sum arithmetic as the tumbling `window_profile`. */
  private def qSlidingWindowProfile = Q(
    (s, dir) => {
      val ev = events(s, dir)
      ev.groupBy(F.window(F.col("ts"), "2 hours", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).as("n"),
          count_where(F.col("value").isNull).as("value_nulls"),
          exact_sum(F.col("value")).as("value_sum"),
          F.min("value").as("value_min"), F.max("value").as("value_max"))
        .select(F.unix_timestamp(F.col("window.start")).as("window_start"),
          F.col("event_type"), F.col("n"), F.col("value_nulls"),
          F.col("value_sum"), F.col("value_min"), F.col("value_max"))
        .orderBy("window_start", "event_type")
    },
    Some("""WITH w AS (SELECT unnest([date_trunc('hour', ts),
           |   date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws, * FROM events)
           | SELECT CAST(epoch(ws) AS BIGINT) AS window_start,
           | event_type, count(*) AS n,
           | count(*) FILTER (WHERE value IS NULL) AS value_nulls,
           | CAST(sum(CAST(value AS DECIMAL(33,6))) AS DOUBLE) AS value_sum,
           | min(value) AS value_min, max(value) AS value_max
           | FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " ")))

  /** Rolling profiles through a REAL Structured Streaming query: file
    * source → watermark + 1h tumbling windows over the profiler's metric
    * aggregates → AvailableNow → memory sink. Every exact field must
    * equal batch SQL over the same events — the property event-time
    * windows buy us over the reference's wall-clock rollover. */
  private def qStreamingWindowProfile = Q(
    (s, dir) => {
      val sdf = st(s, dir, "events")
        .transform(rebuildTs)
      val profiler = new Profiler(MetricConfig(),
        ResolverSpec(byKind = _ => Seq(Namespace.Counts, Namespace.Distribution)))
      val win = graft.streaming.ProfileStream.windowedProfileDF(
        sdf, "ts", "1 hour", watermark = Some("1 hour"),
        profiler = profiler, columns = Some(Seq("value")),
        segmentColumns = Seq("event_type"))
      Streams.toMemory(win, "complete")
        .select(F.unix_timestamp(F.col("window.start")).as("window_start"),
          F.col("segment_event_type").as("event_type"),
          F.col("value.counts.n").as("n"),
          F.col("value.counts.nulls").as("value_nulls"),
          F.col("value.distribution.min").as("value_min"),
          F.col("value.distribution.max").as("value_max"))
        .orderBy("window_start", "event_type")
    },
    Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
           | event_type, count(*) AS n,
           | count(*) FILTER (WHERE value IS NULL) AS value_nulls,
           | min(value) AS value_min, max(value) AS value_max
           | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " ")))

  /** Streaming per-window heavy hitters: the frequent-items sketch
    * aggregating INSIDE Structured Streaming state (partial buffers
    * merge through the state store across micro-batches) — daily
    * event-type leaderboards from a file-source stream. event_type's
    * 5 distinct values sit far inside the lg_max_k=7 map, so estimates
    * are exact counts and the DuckDB oracle is a plain per-day count
    * leaderboard with the same (count desc, value asc) order. */
  private def qStreamingHeavyHitters = Q(
    (s, dir) => {
      val sdf = st(s, dir, "events")
        .transform(rebuildTs)
      val win = sdf
        .groupBy(F.window(F.col("ts"), "1 day"))
        .agg(frequent_items_agg(F.col("event_type"), limit = 8)
          .getField("items").as("items"))
      Streams.toMemory(win, "complete")
        .select(F.unix_timestamp(F.col("window.start")).as("window_start"),
          F.posexplode(F.col("items")).as(Seq("rank0", "item")))
        .select(F.col("window_start"), (F.col("rank0") + 1).cast("long").as("rank"),
          F.col("item.value").as("event_type"), F.col("item.estimate").as("n"))
        .orderBy("window_start", "rank")
    },
    Some("""SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS window_start,
           | CAST(row_number() OVER (PARTITION BY date_trunc('day', ts)
           |   ORDER BY count(*) DESC, event_type) AS BIGINT) AS rank,
           | event_type, count(*) AS n
           | FROM events GROUP BY date_trunc('day', ts), event_type
           | ORDER BY 1, 2""".stripMargin.replaceAll("\n", " ")))

  /** Per-dimension embedding centroid drift
    * ([[Embeddings.centroidDrift]]) between two corpus slices. Means are
    * rounded to 6 decimals on both sides — a distributed float sum is
    * order-sensitive, and the rounding absorbs the ~1e-13 accumulation
    * spread while keeping 6 significant digits of drift signal. */
  private def qEmbeddingDrift = Q(
    (s, dir) => Embeddings.centroidDrift(
      t(s, dir, "embeddings"), "embedding", F.col("vec_id") % 3 === 0)
      .select(F.col("dim").cast("long").as("dim"),
        F.col("n_target"), F.col("n_ref"),
        F.round(F.col("mean_target"), 6).as("mean_target"),
        F.round(F.col("mean_ref"), 6).as("mean_ref"))
      .orderBy("dim"),
    Some("""WITH x AS (SELECT t, u.dim AS dim, u.v AS v FROM (
           |  SELECT (vec_id % 3 = 0) AS t,
           |   unnest(list_transform(generate_series(1, len(embedding)),
           |     i -> struct_pack(dim := i - 1, v := embedding[i]::DOUBLE))) AS u
           |  FROM embeddings))
           | SELECT dim, count(*) FILTER (WHERE t) AS n_target,
           |  count(*) FILTER (WHERE NOT t) AS n_ref,
           |  round(sum(v) FILTER (WHERE t) / count(*) FILTER (WHERE t), 6) AS mean_target,
           |  round(sum(v) FILTER (WHERE NOT t) / count(*) FILTER (WHERE NOT t), 6) AS mean_ref
           | FROM x GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** One-row centroid-shift summary ([[Embeddings.centroidShift]]) over
    * round-6 per-dim means (identical inputs on both engines), folded in
    * ascending-dim order — every remaining op (·, +, √, ÷) is IEEE
    * correctly-rounded, so the result is bit-exact with no output
    * rounding. */
  private def qEmbeddingCentroidShift = Q(
    (s, dir) => {
      val drift = Embeddings.centroidDrift(
        t(s, dir, "embeddings"), "embedding", F.col("vec_id") % 3 === 0)
        .select(F.col("dim"), F.col("n_target"), F.col("n_ref"),
          F.round(F.col("mean_target"), 6).as("mean_target"),
          F.round(F.col("mean_ref"), 6).as("mean_ref"))
      Embeddings.centroidShift(drift)
    },
    Some("""WITH x AS (SELECT t, u.dim AS dim, u.v AS v FROM (
           |  SELECT (vec_id % 3 = 0) AS t,
           |   unnest(list_transform(generate_series(1, len(embedding)),
           |     i -> struct_pack(dim := i - 1, v := embedding[i]::DOUBLE))) AS u
           |  FROM embeddings)),
           | m AS (SELECT dim,
           |   round(sum(v) FILTER (WHERE t) / count(*) FILTER (WHERE t), 6) AS mt,
           |   round(sum(v) FILTER (WHERE NOT t) / count(*) FILTER (WHERE NOT t), 6) AS mr,
           |   count(*) FILTER (WHERE t) AS nt, count(*) FILTER (WHERE NOT t) AS nr
           |  FROM x GROUP BY 1),
           | s AS (SELECT sum(mt*mr ORDER BY dim) AS dot,
           |   sum(mt*mt ORDER BY dim) AS qt, sum(mr*mr ORDER BY dim) AS qr,
           |   sum((mt-mr)*(mt-mr) ORDER BY dim) AS d2,
           |   CAST(max(nt) AS BIGINT) AS n_target, CAST(max(nr) AS BIGINT) AS n_ref FROM m)
           | SELECT dot/(sqrt(qt)*sqrt(qr)) AS cos_shift, sqrt(d2) AS l2_shift,
           |  n_target, n_ref FROM s""".stripMargin.replaceAll("\n", " ")))

  /** Rolling z-score anomaly flags over the daily event-count timeline
    * ([[graft.analysis.Anomaly.rollingZ]]), per event_type series. All
    * trailing stats derive from integer-valued running sums, so every
    * float op is reproducible and the oracle matches bit-for-bit. */
  private def qTimelineAnomaly = Q(
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(F.col("event_type"), F.window(F.col("ts"), "1 day").as("w"))
        .agg(F.count(F.lit(1)).as("n"))
        .select(F.col("event_type"),
          F.unix_timestamp(F.col("w.start")).as("window_start"), F.col("n"))
      graft.analysis.Anomaly.rollingZ(
        daily, Seq("event_type"), "window_start", "n", k = 7, threshold = 2.0)
        .orderBy("event_type", "window_start")
    },
    Some("""WITH c AS (SELECT event_type,
           |   CAST(epoch(date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) AS window_start,
           |   count(*) AS n FROM events GROUP BY 1, 2),
           | w AS (SELECT event_type, window_start, n,
           |   count(*) OVER tw AS m,
           |   sum(CAST(n AS DOUBLE)) OVER tw AS s,
           |   sum(CAST(n AS DOUBLE)*CAST(n AS DOUBLE)) OVER tw AS s2
           |  FROM c WINDOW tw AS (PARTITION BY event_type ORDER BY window_start
           |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
           | z AS (SELECT *,
           |   CASE WHEN m = 7 THEN s/m END AS tmn,
           |   CASE WHEN m = 7 THEN sqrt(GREATEST((s2 - s*s/m)/(m-1), 0.0)) END AS tsd
           |  FROM w)
           | SELECT event_type, window_start, n, CAST(m AS BIGINT) AS trail_n,
           |  tmn AS trail_mean, tsd AS trail_std,
           |  CASE WHEN tsd > 0 THEN (CAST(n AS DOUBLE) - tmn)/tsd END AS z,
           |  CASE WHEN tsd > 0 THEN abs((CAST(n AS DOUBLE) - tmn)/tsd) > 2.0 END AS is_anomaly
           | FROM z ORDER BY event_type, window_start""".stripMargin.replaceAll("\n", " ")))

  /** Streaming drift monitor ([[graft.streaming.DriftStream]]): PSI per
    * daily window of a REAL file-source stream against a bin envelope
    * frozen on the first 10 days (batch). The windowed bin counts are the
    * streaming aggregation; the PSI fold runs on the sink table (two
    * chained stateful aggs are illegal in one streaming query). Every
    * float op is IEEE-exact and the fold is ascending-bin, so the DuckDB
    * oracle matches bit-for-bit. */
  private def qStreamingDriftPsi = Q(
    // round(8): Math.log and DuckDB's std::log disagree by 1 ulp on
    // some arguments (~1e-18 on these psi magnitudes) — same parity
    // trim as nlp_svd's residual
    (s, dir) => streamingDrift(s, dir, F.round(F.col("psi"), 8).as("psi"))(
      graft.streaming.DriftStream.psiPerWindow(_, _)),
    Some(s"""WITH $windowBinnedCtes,
           | terms AS (SELECT g.w, g.bin, wn.nt,
           |     GREATEST(CAST(COALESCE(tb.c, 0) AS DOUBLE) / wn.nt, 0.0001) AS pa,
           |     GREATEST(CAST(COALESCE(rb.rc, 0) AS DOUBLE) / p.nr, 0.0001) AS pb
           |   FROM grid g JOIN wn ON g.w = wn.w
           |   LEFT JOIN tb ON tb.w = g.w AND tb.bin = g.bin
           |   LEFT JOIN rb ON rb.bin = g.bin, p)
           | SELECT CAST(epoch(w) AS BIGINT) AS window_start,
           |   round(sum((pa - pb) * ln(pa / pb) ORDER BY bin), 8) AS psi,
           |   CAST(max(nt) AS BIGINT) AS n_target
           | FROM terms GROUP BY w ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** Streaming per-window JSD ([[graft.streaming.DriftStream.jsdPerWindow]])
    * over the same frozen envelope and stream as `streaming_drift_psi` —
    * the symmetric companion monitor. No output rounding: the 1e-9
    * ln-floor makes every term bit-replayable, so the oracle matches
    * exactly rather than at 8 decimals. */
  private def qStreamingDriftJsd = Q(
    (s, dir) => streamingDrift(s, dir, F.col("jsd"))(
      graft.streaming.DriftStream.jsdPerWindow(_, _)),
    Some(s"""WITH $windowBinnedCtes,
           | terms AS (SELECT g.w, g.bin, wn.nt,
           |     CAST(COALESCE(tb.c, 0) AS DOUBLE) / wn.nt AS pa,
           |     CAST(COALESCE(rb.rc, 0) AS DOUBLE) / p.nr AS pb
           |   FROM grid g JOIN wn ON g.w = wn.w
           |   LEFT JOIN tb ON tb.w = g.w AND tb.bin = g.bin
           |   LEFT JOIN rb ON rb.bin = g.bin, p)
           | SELECT CAST(epoch(w) AS BIGINT) AS window_start,
           |   sum((CASE WHEN pa > 0 THEN 0.5 * (pa * (floor(ln(pa / ((pa + pb) / 2)) * 1000000000.0) / 1000000000.0)) ELSE 0.0 END)
           |     + (CASE WHEN pb > 0 THEN 0.5 * (pb * (floor(ln(pb / ((pa + pb) / 2)) * 1000000000.0) / 1000000000.0)) ELSE 0.0 END) ORDER BY bin) AS jsd,
           |   CAST(max(nt) AS BIGINT) AS n_target
           | FROM terms GROUP BY w ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** Streaming per-window normalized EMD
    * ([[graft.streaming.DriftStream.emdPerWindow]]) over the PSI/JSD
    * stream and envelope — integer cross-multiplied CDF gaps, one final
    * division, zero float caveats. */
  private def qStreamingDriftEmd = Q(
    (s, dir) => streamingDrift(s, dir, F.col("emd"))(
      graft.streaming.DriftStream.emdPerWindow(_, _)),
    Some(s"""WITH $windowBinnedCtes,
           | cums AS (SELECT g.w, g.bin, wn.nt,
           |     sum(COALESCE(tb.c, 0)) OVER (PARTITION BY g.w ORDER BY g.bin ROWS UNBOUNDED PRECEDING) AS cuml,
           |     sum(COALESCE(rb.rc, 0)) OVER (PARTITION BY g.w ORDER BY g.bin ROWS UNBOUNDED PRECEDING) AS cumr
           |   FROM grid g JOIN wn ON g.w = wn.w
           |   LEFT JOIN tb ON tb.w = g.w AND tb.bin = g.bin
           |   LEFT JOIN rb ON rb.bin = g.bin),
           | s AS (SELECT w, max(nt) AS nt,
           |     sum(abs(cuml * (SELECT nr FROM p) - cumr * nt)) AS acc
           |   FROM cums GROUP BY w)
           | SELECT CAST(epoch(w) AS BIGINT) AS window_start,
           |   CAST(acc AS DOUBLE) / (CAST(nt AS DOUBLE) * CAST((SELECT nr FROM p) AS DOUBLE) * 30.0) AS emd,
           |   CAST(nt AS BIGINT) AS n_target
           | FROM s ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  // ------------------------------------------------------------------
  // Data-integrity audits + corpus comparison (round 14b)

  /** Referential-integrity audit across the TPC-H-ish fixture: two
    * broadcast dimension relations, one big-big (lineitem→orders,
    * shuffle join on the key), and one deliberately-violated coverage
    * relation (customer→events.user_id: most customers have no events)
    * so the nonzero-orphan path is exercised. */
  private def qReferentialIntegrity = Q(
    (s, dir) => {
      import graft.analysis.DataAudit.{FkRelation, referentialIntegrity}
      val li = t(s, dir, "lineitem"); val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer"); val part = t(s, dir, "part")
      val ev = t(s, dir, "events")
      referentialIntegrity(Seq(
        FkRelation("lineitem.l_orderkey->orders", li, "l_orderkey", ord, "o_orderkey"),
        FkRelation("orders.o_custkey->customer", ord, "o_custkey", cust, "c_custkey",
          broadcastParent = true),
        FkRelation("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey",
          broadcastParent = true),
        FkRelation("customer.c_custkey->events.user_id", cust, "c_custkey", ev, "user_id",
          broadcastParent = true)
      )).orderBy("relation")
    },
    Some {
      def rel(name: String, c: String, f: String, p: String, k: String) =
        s"""SELECT '$name' AS relation,
           | (SELECT count(*) FROM $c) AS child_rows,
           | (SELECT count(*) FROM $c WHERE $f IS NULL) AS null_fk,
           | (SELECT count(DISTINCT $f) FROM $c) AS distinct_fk,
           | CAST(COALESCE((SELECT sum(cnt) FROM
           |   (SELECT $f AS fk, count(*) AS cnt FROM $c WHERE $f IS NOT NULL GROUP BY 1) ck
           |   WHERE fk NOT IN (SELECT $k FROM $p WHERE $k IS NOT NULL)), 0) AS BIGINT) AS orphan_rows,
           | (SELECT count(*) FROM
           |   (SELECT DISTINCT $f AS fk FROM $c WHERE $f IS NOT NULL) ck
           |   WHERE fk NOT IN (SELECT $k FROM $p WHERE $k IS NOT NULL)) AS orphan_keys""".stripMargin
      Seq(
        rel("customer.c_custkey->events.user_id", "customer", "c_custkey", "events", "user_id"),
        rel("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        rel("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        rel("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"))
        .mkString("", " UNION ALL ", " ORDER BY relation").replaceAll("\n", " ")
    })

  /** k-anonymity of the (c_nationkey, c_mktsegment) quasi-identifier
    * tuple at several k thresholds. */
  private def qKAnonymity = Q(
    (s, dir) => graft.analysis.DataAudit.kAnonymity(
      t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
      Seq(2, 5, 10, 50)).orderBy("k"),
    Some("""WITH s AS (SELECT count(*) AS sz FROM customer
           |   GROUP BY c_nationkey, c_mktsegment),
           | k AS (SELECT unnest([2, 5, 10, 50]) AS k)
           | SELECT CAST(k.k AS INTEGER) AS k,
           |   CAST(sum(sz) AS BIGINT) AS n_rows,
           |   count(*) AS n_groups,
           |   CAST(min(sz) AS BIGINT) AS min_group_size,
           |   CAST(sum(CASE WHEN sz < k.k THEN 1 ELSE 0 END) AS BIGINT) AS groups_below_k,
           |   CAST(sum(CASE WHEN sz < k.k THEN sz ELSE 0 END) AS BIGINT) AS rows_below_k,
           |   CAST(sum(CASE WHEN sz < k.k THEN sz ELSE 0 END) AS DOUBLE)
           |     / CAST(sum(sz) AS DOUBLE) AS frac_rows_below_k
           | FROM s, k GROUP BY k.k ORDER BY k""".stripMargin.replaceAll("\n", " ")))

  /** Schema drift between two orders snapshots; the later snapshot
    * narrows a key type, drops a column, and adds a derived one, so all
    * four statuses appear. Types are Spark `simpleString`s, mirrored as
    * literals in the oracle. */
  private def qSchemaDrift = Q(
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val pivot = F.lit("1998-01-01").cast("timestamp_ntz")
      val a = orders.where(F.col("o_orderdate") < pivot)
      val b = orders.where(F.col("o_orderdate") >= pivot)
        .withColumn("o_custkey", F.col("o_custkey").cast("int"))
        .drop("o_orderstatus")
        .withColumn("o_priority_num",
          F.substring(F.col("o_orderpriority"), 1, 1).cast("int"))
      graft.analysis.DataAudit.schemaDrift(a, b).orderBy("col_name")
    },
    Some {
      val cols = Seq(
        // (name, type_a, type_b, status)
        ("o_custkey", "bigint", "int", "type_changed"),
        ("o_orderdate", "timestamp_ntz", "timestamp_ntz", "unchanged"),
        ("o_orderkey", "bigint", "bigint", "unchanged"),
        ("o_orderpriority", "string", "string", "unchanged"),
        ("o_orderstatus", "string", "", "removed"),
        ("o_priority_num", "", "int", "added"),
        ("o_totalprice", "double", "double", "unchanged"))
      val rows = cols.map { case (c, ta, tb, st) =>
        val nullA = if (ta.isEmpty) "0" else s"(SELECT count(*) FROM a WHERE $c IS NULL)"
        val nullB = if (tb.isEmpty || st == "removed") "0"
          else if (c == "o_priority_num") "(SELECT count(*) FROM b WHERE o_orderpriority IS NULL)"
          else s"(SELECT count(*) FROM b WHERE $c IS NULL)"
        s"""SELECT '$c' AS col_name, '$ta' AS type_a, '$tb' AS type_b,
           | '$st' AS status, CAST($nullA AS BIGINT) AS null_a,
           | (SELECT count(*) FROM a) AS n_a,
           | CAST($nullB AS BIGINT) AS null_b,
           | (SELECT count(*) FROM b) AS n_b""".stripMargin
      }.mkString("", " UNION ALL ", "")
      s"""WITH a AS (SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
         | b AS (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')
         | SELECT col_name, type_a, type_b, status, null_a, n_a, null_b, n_b,
         |   CAST(null_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS null_rate_a,
         |   CAST(null_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS null_rate_b
         | FROM ($rows) t ORDER BY col_name""".stripMargin.replaceAll("\n", " ")
    })

  /** Benford first-digit conformance of l_extendedprice: counts are
    * exact integers, proportions one divide, expectation literal. */
  private def qBenfordDigits = Q(
    (s, dir) => graft.analysis.DataAudit.benfordDigits(
      t(s, dir, "lineitem"), "l_extendedprice").orderBy("digit"),
    Some {
      val vals = graft.analysis.DataAudit.benfordP.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
      s"""WITH src AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
         |   FROM lineitem WHERE l_extendedprice IS NOT NULL AND l_extendedprice > 0),
         | c AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         |   count(*) AS n FROM src GROUP BY 1),
         | tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
         | e(digit, p) AS (VALUES $vals)
         | SELECT CAST(e.digit AS BIGINT) AS digit,
         |   CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
         |   CAST(COALESCE(c.n, 0) AS DOUBLE) / CAST(tot.t AS DOUBLE) AS obs_p,
         |   CAST(e.p AS DOUBLE) AS benford_p,
         |   CAST(COALESCE(c.n, 0) AS DOUBLE) / CAST(tot.t AS DOUBLE)
         |     - CAST(e.p AS DOUBLE) AS excess
         | FROM e LEFT JOIN c ON e.digit = c.digit, tot
         | ORDER BY digit""".stripMargin.replaceAll("\n", " ")
    })

  /** Corpus snapshot diff: v2 drops every 5th doc, v1 lacked every 7th,
    * every 11th doc's text changed in v2 — counts per (status, source),
    * comparing 16-byte content hashes only (no text over the shuffle). */
  private def qCorpusDiff = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val v1 = docs.where(F.col("doc_id") % 7 =!= 0)
      val v2 = docs.where(F.col("doc_id") % 5 =!= 0)
        .withColumn("text",
          F.when(F.col("doc_id") % 11 === 0,
            F.concat(F.col("text"), F.lit(" [v2]")))
            .otherwise(F.col("text")))
      graft.pipeline.CorpusCompare.diff(v1, v2, "doc_id", "source", "text")
        .orderBy("status", "source")
    },
    Some("""WITH v1 AS (SELECT doc_id, source, md5(text) AS h FROM documents
           |   WHERE doc_id % 7 <> 0),
           | v2 AS (SELECT doc_id, source,
           |     md5(CASE WHEN doc_id % 11 = 0 THEN text || ' [v2]' ELSE text END) AS h
           |   FROM documents WHERE doc_id % 5 <> 0),
           | j AS (SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
           |     WHEN v2.doc_id IS NULL THEN 'removed'
           |     WHEN v1.h = v2.h THEN 'unchanged' ELSE 'changed' END AS status,
           |     COALESCE(v2.source, v1.source) AS source
           |   FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
           | SELECT status, source, count(*) AS n_docs FROM j
           | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " ")))

  /** Distinct-content overlap between two source slices (two crawl
    * snapshots sharing shards src3-src4): Jaccard + both containments,
    * each one divide of exact counts. */
  private def qCorpusOverlap = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.pipeline.CorpusCompare.overlap(
        docs.where(F.col("source") < "src5"),
        docs.where(F.col("source") >= "src3"), "text")
    },
    Some("""WITH f AS (SELECT md5(text) AS h,
           |     max(CASE WHEN source < 'src5' THEN 1 ELSE 0 END) AS ia,
           |     max(CASE WHEN source >= 'src3' THEN 1 ELSE 0 END) AS ib
           |   FROM documents WHERE source < 'src5' OR source >= 'src3'
           |   GROUP BY 1),
           | t AS (SELECT CAST(sum(ia) AS BIGINT) AS n_a,
           |     CAST(sum(ib) AS BIGINT) AS n_b,
           |     CAST(sum(ia * ib) AS BIGINT) AS n_common,
           |     count(*) AS n_union FROM f)
           | SELECT n_a, n_b, n_common,
           |   CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard,
           |   CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment_a,
           |   CAST(n_common AS DOUBLE) / CAST(n_b AS DOUBLE) AS containment_b
           | FROM t""".stripMargin.replaceAll("\n", " ")))

  /** Bottom-16 minhash containment of the src9 eval slice inside the
    * rest of the corpus (decontamination scoring): md5 shingle hashes,
    * sort-ascending bottom-k, left join against the distinct train
    * shingle set. */
  private def qContainmentMinhash = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.pipeline.CorpusCompare.containmentBottomK(
        docs.where(F.col("source") === "src9"),
        docs.where(F.col("source") =!= "src9"),
        "doc_id", "text", k = 16, shingleWidth = 3)
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (SELECT doc_id, source,
           |     list_filter(string_split_regex(lower(trim(text)), '\s+'),
           |       w -> len(w) > 0) AS w
           |   FROM documents),
           | sh AS (SELECT doc_id, source,
           |     list_distinct([array_to_string(w[i:i+2], ' ')
           |       for i in range(1, greatest(len(w) - 1, 1))]) AS g FROM tok),
           | tr AS (SELECT DISTINCT unnest(list_transform(g, x -> md5('cont:' || x))) AS h
           |   FROM sh WHERE source <> 'src9'),
           | ev AS (SELECT doc_id,
           |     list_sort(list_transform(g, x -> md5('cont:' || x)))[1:16] AS hs
           |   FROM sh WHERE source = 'src9'),
           | pr AS (SELECT doc_id, unnest(hs) AS h FROM ev),
           | m AS (SELECT pr.doc_id, count(*) AS k_used,
           |     CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_hit
           |   FROM pr LEFT JOIN tr ON pr.h = tr.h GROUP BY 1)
           | SELECT doc_id, k_used, k_hit,
           |   CAST(k_hit AS DOUBLE) / CAST(k_used AS DOUBLE) AS containment
           | FROM m ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Code-likeness statistics per source (code-filtering signals):
    * indented-line fraction, brace/semicolon density, mean line length —
    * integer sums, one divide per ratio. */
  private def qCodeStats = Q(
    (s, dir) => graft.pipeline.CorpusCompare.codeStats(
      t(s, dir, "documents"), "source", "text").orderBy("source"),
    Some("""WITH d AS (SELECT source, text, string_split(text, chr(10)) AS ls
           |   FROM documents)
           | SELECT source, count(*) AS n_docs,
           |   CAST(sum(length(text)) AS BIGINT) AS total_chars,
           |   CAST(sum(len(ls)) AS BIGINT) AS total_lines,
           |   CAST(sum(len(list_filter(ls, l -> l LIKE ' %' OR l LIKE chr(9) || '%'))) AS DOUBLE)
           |     / CAST(sum(len(ls)) AS DOUBLE) AS indent_frac,
           |   CAST(sum(length(text) - length(replace(text, '{', ''))
           |       + length(text) - length(replace(text, '}', ''))) AS DOUBLE)
           |     / CAST(sum(length(text)) AS DOUBLE) AS brace_density,
           |   CAST(sum(length(text) - length(replace(text, ';', ''))) AS DOUBLE)
           |     / CAST(sum(length(text)) AS DOUBLE) AS semi_density,
           |   CAST(sum(length(text)) AS DOUBLE) / CAST(sum(len(ls)) AS DOUBLE) AS mean_line_len
           | FROM d GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** Robust (MAD) outlier fences per column — the robust sibling of
    * `iqr_outliers`, same three-scan bounded-state shape. */
  private def qMadOutliers = Q(
    (s, dir) => graft.analysis.Outliers.madOutliers(
      t(s, dir, "lineitem"), Seq("l_discount", "l_extendedprice", "l_quantity"))
      .orderBy("col_name"),
    Some {
      Seq("l_discount", "l_extendedprice", "l_quantity").map { c =>
        s"""SELECT * FROM (
           | WITH v AS (SELECT CAST($c AS DOUBLE) AS v FROM lineitem
           |   WHERE $c IS NOT NULL),
           | m AS (SELECT quantile_cont(v, 0.5) AS med FROM v),
           | d AS (SELECT quantile_cont(abs(v - med), 0.5) AS mad FROM v, m)
           | SELECT '$c' AS col_name, med, mad,
           |   med - 3.0 * (1.4826 * mad) AS lo_fence,
           |   med + 3.0 * (1.4826 * mad) AS hi_fence,
           |   count(*) AS n,
           |   CAST(sum(CASE WHEN v < med - 3.0 * (1.4826 * mad) THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           |   CAST(sum(CASE WHEN v > med + 3.0 * (1.4826 * mad) THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           |   CAST(sum(CASE WHEN v < med - 3.0 * (1.4826 * mad)
           |     OR v > med + 3.0 * (1.4826 * mad) THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
           | FROM v, m, d GROUP BY med, mad
           |)""".stripMargin.replaceAll("\n", " ")
      }.mkString("", " UNION ALL ", " ORDER BY col_name")
    })

  /** Exact per-segment quantiles in one scan — the group key riding
    * [[graft.analysis.ExactQuantiles]]'s column-name channel. */
  private def qSegmentQuantiles = Q(
    (s, dir) => {
      import s.implicits._
      val ranks = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
      val qs = graft.analysis.ExactQuantiles.quantilesByKey(
        events(s, dir), F.col("event_type"), "value", ranks)
      qs.toSeq.sortBy(_._1).flatMap { case (seg, vals) =>
        ranks.zip(vals).map { case (r, v) => (seg, r, v) }
      }.toDF("segment", "rank", "q").orderBy("segment", "rank")
    },
    Some {
      Seq(0.1, 0.25, 0.5, 0.75, 0.9).map { r =>
        s"""SELECT event_type AS segment, CAST($r AS DOUBLE) AS rank,
           | quantile_cont(CAST(value AS DOUBLE), $r) AS q
           | FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
           | GROUP BY 1""".stripMargin.replaceAll("\n", " ")
      }.mkString("", " UNION ALL ", " ORDER BY segment, rank")
    })

  /** Streaming referential-integrity monitor: per-day orphan-FK counts
    * from a stream-static broadcast anti-join (events whose user_id is
    * missing from a shrunk customer dim, so the orphan path is live). */
  private def qStreamingRefIntegrity = Q(
    (s, dir) => {
      val sdf = st(s, dir, "events")
        .transform(rebuildTs)
      val dim = t(s, dir, "customer").where(F.col("c_custkey") < 100)
      Streams.toMemory(graft.analysis.DataAudit.streamingOrphanCounts(
          sdf, "user_id", "ts", "1 day", dim, "c_custkey"), "complete")
        .select(F.unix_timestamp(F.col("window.start")).as("window_start"),
          F.col("orphan_rows"))
        .orderBy("window_start")
    },
    Some("""SELECT CAST(epoch(date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT)
           |   AS window_start, count(*) AS orphan_rows
           | FROM events
           | WHERE user_id IS NOT NULL AND user_id NOT IN
           |   (SELECT c_custkey FROM customer
           |    WHERE c_custkey IS NOT NULL AND c_custkey < 100)
           | GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** Pairwise class-centroid separation over the labeled embeddings —
    * round-6 per-dim means, dim-ordered folds, exact like
    * `embedding_centroid_shift`. */
  private def qEmbeddingClassSeparation = Q(
    (s, dir) => Embeddings.classSeparation(
      t(s, dir, "embeddings"), "embedding", "label")
      .orderBy("label_a", "label_b"),
    Some("""WITH x AS (SELECT label, u.dim AS dim, u.v AS v FROM (
           |  SELECT label, unnest(list_transform(generate_series(1, len(embedding)),
           |    i -> struct_pack(dim := i - 1, v := embedding[i]::DOUBLE))) AS u
           |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL)),
           | m AS (SELECT label, dim, round(sum(v) / count(*), 6) AS m
           |   FROM x GROUP BY 1, 2),
           | n AS (SELECT label, count(*) AS n FROM embeddings
           |   WHERE label IS NOT NULL AND embedding IS NOT NULL GROUP BY 1),
           | p AS (SELECT a.label AS label_a, b.label AS label_b,
           |     sum(a.m * b.m ORDER BY a.dim) AS dot,
           |     sum(a.m * a.m ORDER BY a.dim) AS qa,
           |     sum(b.m * b.m ORDER BY a.dim) AS qb,
           |     sum((a.m - b.m) * (a.m - b.m) ORDER BY a.dim) AS d2
           |   FROM m a JOIN m b ON a.dim = b.dim AND a.label < b.label
           |   GROUP BY 1, 2)
           | SELECT p.label_a, p.label_b, na.n AS n_a, nb.n AS n_b,
           |   dot / (sqrt(qa) * sqrt(qb)) AS cos_sim, sqrt(d2) AS l2_dist
           | FROM p JOIN n na ON p.label_a = na.label
           |   JOIN n nb ON p.label_b = nb.label
           | ORDER BY 1, 2""".stripMargin.replaceAll("\n", " ")))

  /** Exact per-label quantiles of the embedding L2 norm — per-row norms
    * fold in array order (deterministic), then the keyed exact-quantile
    * machinery; no rounding anywhere. */
  private def qEmbeddingNormQuantiles = Q(
    (s, dir) => {
      import s.implicits._
      val ranks = Seq(0.1, 0.5, 0.9)
      val df = t(s, dir, "embeddings")
        .where(F.col("label").isNotNull && F.col("embedding").isNotNull)
        .select(F.col("label"),
          Embeddings.l2Norm(F.col("embedding")).as("norm"))
      val qs = graft.analysis.ExactQuantiles.quantilesByKey(
        df, F.col("label"), "norm", ranks)
      qs.toSeq.sortBy(_._1).flatMap { case (l, vals) =>
        ranks.zip(vals).map { case (r, v) => (l, r, v) }
      }.toDF("label", "rank", "q").orderBy("label", "rank")
    },
    Some {
      Seq(0.1, 0.5, 0.9).map { r =>
        s"""SELECT CAST(label AS VARCHAR) AS label, CAST($r AS DOUBLE) AS rank,
           | quantile_cont(sqrt(list_reduce(
           |   list_prepend(CAST(0.0 AS DOUBLE),
           |     list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
           |   (a, b) -> a + b)), $r) AS q
           | FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL
           | GROUP BY 1""".stripMargin.replaceAll("\n", " ")
      }.mkString("", " UNION ALL ", " ORDER BY label, rank")
    })

  /** The bm25_retrieval query set: four keyword queries over the shared
    * vocabulary — one overlapping term (join) pins df sharing. */
  private val retrievalQueries: Seq[(String, Seq[String])] = Seq(
    "q_join" -> Seq("join", "shuffle"),
    "q_vector" -> Seq("vector", "index"),
    "q_stream" -> Seq("stream", "window", "join"),
    "q_text" -> Seq("language", "model"))

  /** Top-5 BM25 retrieval per query in one corpus pass
    * ([[TextAnalysis.bm25Retrieve]]); same quantized-idf bridge as
    * `bm25_top_docs`. */
  private def qBm25Retrieval = Q(
    (s, dir) => TextAnalysis.bm25Retrieve(
      t(s, dir, "documents"), "doc_id", "text", retrievalQueries,
      topN = 5, idfQuantize = Some(1e9)),
    Some {
      val qtVals = retrievalQueries.flatMap { case (q, ts) =>
        ts.map(t => s"('$q', '$t')") }.mkString(", ")
      val vocabIn = retrievalQueries.flatMap(_._2).distinct
        .map(t => s"'$t'").mkString(", ")
      s"""WITH qt(qid, term) AS (VALUES $qtVals),
         | base AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> len(w) > 0) AS toks
         |  FROM documents),
         | bd AS (SELECT doc_id, toks, len(toks) AS dl FROM base),
         | st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM bd),
         | tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
         |   FROM (SELECT doc_id, dl, unnest(toks) AS term FROM bd)
         |   WHERE term IN ($vocabIn) GROUP BY 1, 2, 3),
         | dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         | sc AS (SELECT qt.qid, tf.doc_id, tf.term,
         |   (floor(ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0) * 1000000000.0) / 1000000000.0)
         |     * (CAST(tf AS DOUBLE) * 2.5)
         |     / (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS term_score
         |   FROM tf JOIN dfq USING (term) JOIN qt USING (term), st),
         | agg AS (SELECT qid, doc_id, sum(term_score ORDER BY term) AS score,
         |     CAST(count(*) AS BIGINT) AS n_terms_hit FROM sc GROUP BY 1, 2),
         | r AS (SELECT qid, doc_id, score, n_terms_hit,
         |     CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT) AS rank
         |   FROM agg)
         | SELECT qid, doc_id, score, n_terms_hit, rank FROM r
         | WHERE rank <= 5 ORDER BY qid, rank""".stripMargin.replaceAll("\n", " ")
    })

  /** Winnowing fingerprints ([[Dedup.winnowFingerprints]], 4-gram /
    * window 4) exploded per document — md5-derived hashes so the full
    * select-the-minima semantics replay in SQL. */
  private def qDocWinnowing = Q(
    (s, dir) => t(s, dir, "documents")
      .select(F.col("doc_id"),
        F.explode(Dedup.winnowFingerprints(F.col("text"), 4, 4)).as("fp"))
      .orderBy("doc_id", "fp"),
    Some(s"""WITH $tokCte,
           | g AS (SELECT doc_id,
           |   list_transform(generate_series(1, greatest(len(w) - 3, 0)),
           |     i -> CAST('0x' || substr(md5(array_to_string(w[i:i+3], ' ')), 1, 15) AS BIGINT)) AS ghs
           |   FROM tok),
           | wins AS (SELECT doc_id,
           |   CASE WHEN len(ghs) - 3 >= 1 THEN
           |     list_transform(generate_series(1, len(ghs) - 3), j -> list_min(ghs[j:j+3]))
           |   WHEN len(ghs) > 0 THEN [list_min(ghs)]
           |   ELSE [] END AS fps FROM g)
           | SELECT doc_id, unnest(list_distinct(fps)) AS fp FROM wins
           | ORDER BY doc_id, fp""".stripMargin.replaceAll("\n", " ")))

  /** Leakage-safe split ([[Dedup.clusterSafeSplit]]): near-dup clusters
    * land whole in one split (split key = component id, else own id),
    * hashSplit 80/10/10. Oracle replays the full clustering with exact
    * Jaccard + recursive components (same 2e-22 LSH-recall argument as
    * `dedup_clusters`) and the md5 split idiom of `sample_split`. */
  private def qClusterSafeSplit = Q(
    (s, dir) => Dedup.clusterSafeSplit(
      t(s, dir, "documents"), "text", "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      numPerm = 64, bands = 32, threshold = 0.5)
      .select("doc_id", "split_key", "split").orderBy("doc_id"),
    Some(s"""WITH RECURSIVE ${nearDupComponentsCte()},
           | k AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS split_key
           |   FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
           | SELECT doc_id, split_key,
           |  CASE WHEN h < 'cccccccd' THEN 'train'
           |       WHEN h < 'e6666666' THEN 'val'
           |       ELSE 'test' END AS split
           | FROM (SELECT doc_id, split_key,
           |   substr(md5('split:' || CAST(split_key AS VARCHAR)), 1, 8) AS h FROM k)
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Cross-doc winnowing matches ([[Dedup.winnowMatches]]): pairs
    * sharing ≥2 fingerprints after the df-100 boilerplate cap. */
  private def qDedupWinnow = Q(
    (s, dir) => Dedup.winnowMatches(
      t(s, dir, "documents"), "text", "doc_id",
      n = 4, window = 4, minShared = 2, maxDocFreq = 100)
      .orderBy("a", "b"),
    Some(s"""WITH $tokCte,
           | g AS (SELECT doc_id,
           |   list_transform(generate_series(1, greatest(len(w) - 3, 0)),
           |     i -> CAST('0x' || substr(md5(array_to_string(w[i:i+3], ' ')), 1, 15) AS BIGINT)) AS ghs
           |   FROM tok),
           | wins AS (SELECT doc_id,
           |   CASE WHEN len(ghs) - 3 >= 1 THEN
           |     list_transform(generate_series(1, len(ghs) - 3), j -> list_min(ghs[j:j+3]))
           |   WHEN len(ghs) > 0 THEN [list_min(ghs)]
           |   ELSE [] END AS fps FROM g),
           | fp AS (SELECT doc_id, unnest(list_distinct(fps)) AS fp FROM wins),
           | keep AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 100),
           | k AS (SELECT doc_id, f.fp FROM fp f JOIN keep USING (fp)),
           | p AS (SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
           |   FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |   GROUP BY 1, 2)
           | SELECT a, b, n_shared FROM p WHERE n_shared >= 2
           | ORDER BY a, b""".stripMargin.replaceAll("\n", " ")))

  /** Fixed-point PageRank ([[graft.pipeline.Graph.pageRank]]) over the
    * near-dup pair graph — centrality-based keeper election / source
    * ranking. Integer fixed-point end to end (init `scale div n`, step
    * `base + (85·Σ(rank div outdeg)) div 100`), so three unrolled
    * iterations replay EXACTLY in SQL; the pair list reuses the
    * `dedup_near` provable-equality regime. */
  private def qPagerankNearDups = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, F.col("doc_id"))
      val pairs = Dedup.minHashNearDups(docs, "text", "doc_id",
        numPerm = 64, bands = 32, threshold = 0.5)
      graft.pipeline.Graph.pageRank(pairs, "a", "b", iters = 3)
        .orderBy(F.col("rank").desc, F.col("id"))
    },
    Some {
      val shPr = s"""${shingleCte()},
        | pr AS (SELECT a.doc_id AS a, b.doc_id AS b
        |  $nearDupJoinSql)"""
      val iters = (1 to 3).map { k =>
        s"""c$k AS (SELECT e.dst AS id, sum(r.rank // d.outdeg) AS s
           | FROM e JOIN r${k - 1} r ON e.src = r.id JOIN deg d ON e.src = d.id GROUP BY 1),
           | r$k AS (SELECT v.id,
           |  (SELECT ((1000000000000 * 15) // 100) // n FROM nn) + (85 * COALESCE(c$k.s, 0)) // 100 AS rank
           | FROM v LEFT JOIN c$k ON v.id = c$k.id)"""
      }.mkString(",\n ")
      s"""WITH $shPr,
         | e AS (SELECT DISTINCT src, dst FROM
         |   (SELECT a AS src, b AS dst FROM pr UNION ALL SELECT b AS src, a AS dst FROM pr)),
         | v AS (SELECT DISTINCT src AS id FROM e),
         | nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
         | deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
         | r0 AS (SELECT id, (SELECT 1000000000000 // n FROM nn) AS rank FROM v),
         | $iters
         | SELECT id, CAST(rank AS BIGINT) AS rank,
         |  CAST(rank AS DOUBLE) / 1000000000000.0 AS rank_frac
         | FROM r3 ORDER BY rank DESC, id""".stripMargin.replaceAll("\n", " ")
    })

  /** Multinomial Naive Bayes ([[graft.pipeline.NaiveBayes.trainScore]]):
    * train on (text, lang), score the corpus — the hash-exact trainable
    * classifier (the model is counts; log-probs integer-quantized at
    * 1e-6, summed as BIGINTs, so the fitted scores replay bit-for-bit;
    * argmax ties break to the largest class in both engines). */
  /** Shared WITH-chain for the NB oracles: counts model → per-(doc,
    * class) quantized scores → `best` (argmax rows, rn = 1). */
  private def nbSqlCtes: String =
    """WITH tokw AS (
      |  SELECT doc_id, lang, list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0) AS w
      |  FROM documents),
      | tr AS (SELECT lang AS c, unnest(w) AS t FROM tokw),
      | tc AS (SELECT c, t, CAST(count(*) AS BIGINT) AS cnt FROM tr GROUP BY 1, 2),
      | ct AS (SELECT c, CAST(sum(cnt) AS BIGINT) AS total FROM tc GROUP BY 1),
      | vv AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM tc),
      | nc AS (SELECT lang AS c, CAST(count(*) AS BIGINT) AS nd FROM documents GROUP BY 1),
      | nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      | st AS (SELECT doc_id, unnest(w) AS t FROM tokw),
      | sc AS (SELECT st.doc_id, ct.c,
      |   SUM(CAST(floor(ln(CAST(COALESCE(tc.cnt, 0) + 1 AS DOUBLE)) * 1000000.0) AS BIGINT)
      |     - CAST(floor(ln(CAST(ct.total + vv.v AS DOUBLE)) * 1000000.0) AS BIGINT)) AS s2
      |  FROM st CROSS JOIN ct CROSS JOIN vv
      |  LEFT JOIN tc ON tc.c = ct.c AND tc.t = st.t
      |  GROUP BY 1, 2),
      | fu AS (SELECT d.doc_id, nc.c,
      |   COALESCE(sc.s2, 0) + CAST(floor(ln(CAST(nc.nd AS DOUBLE)) * 1000000.0) AS BIGINT)
      |     - CAST(floor(ln(CAST((SELECT n FROM nt) AS DOUBLE)) * 1000000.0) AS BIGINT) AS q
      |  FROM documents d CROSS JOIN nc
      |  LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.c = nc.c),
      | best AS (SELECT doc_id, c, q,
      |   row_number() OVER (PARTITION BY doc_id ORDER BY q DESC, c DESC) AS rn FROM fu)"""

  private def qNbLangScore = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      NaiveBayes.trainScore(docs, docs, "text", "lang", "doc_id")
        .orderBy("doc_id")
    },
    Some {
      s"""$nbSqlCtes
         | SELECT doc_id, c AS pred, CAST(q AS DOUBLE) / 1000000.0 AS score
         | FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    })

  /** The evaluate step of the NB train→score→evaluate loop: confusion
    * matrix of self-scored predictions vs true labels — all exact
    * counts, and the oracle replays the entire classifier inside the
    * confusion rollup (any model/argmax disagreement fails the hash).
    * Scale: the scoring plan plus ONE ≤ classes² rollup. */
  private def qNbConfusion = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      NaiveBayes.trainScore(docs, docs, "text", "lang", "doc_id")
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy(F.col("lang").as("target"), F.col("pred").as("prediction"))
        .agg(F.count(F.lit(1)).as("n"))
        .orderBy("target", "prediction")
    },
    Some {
      s"""$nbSqlCtes
         | SELECT d.lang AS target, b.c AS prediction, CAST(count(*) AS BIGINT) AS n
         | FROM best b JOIN documents d USING (doc_id)
         | WHERE b.rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " ")
    })

  /** NB classification at INGESTION ([[NaiveBayes.scoreColumn]]): the
    * model trains in one batch pass, then rides the streaming plan as
    * a map literal — scoring is map-only (no join, no state, append
    * mode), so streamed predictions must equal the batch
    * `nb_lang_score` bit-for-bit; this reuses its exact oracle
    * verbatim. The production shape: classify documents as they
    * arrive, route on `pred`. */
  private def qStreamingNbScore = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val model = NaiveBayes.trainModel(docs, "text", "lang")
      val sdf = st(s, dir, "documents")
      Streams.toMemory(sdf
        .select(F.col("doc_id"),
          NaiveBayes.scoreColumn(F.col("text"), model).as("r"))
        .select(F.col("doc_id"), F.col("r.pred").as("pred"),
          F.col("r.score").as("score")))
        .orderBy("doc_id")
    },
    qNbLangScore.oracle)

  /** Closed-form OLS ([[graft.analysis.Ols.fit2]]): document length
    * model n_chars ~ (token count, alpha-char count). The nine
    * sufficient statistics are exact BIGINT sums; Cramer's rule and R²
    * are one fixed scalar IEEE expression tree mirrored verbatim in
    * the oracle, so the fitted coefficients hash-match. */
  private def qOlsDocLength = Q(
    (s, dir) => Ols.fit2(
      t(s, dir, "documents").select(
        F.col("n_chars").as("y"),
        TextAnalysis.tokenCount(F.col("text")).as("x1"),
        TextAnalysis.alphaCount(F.col("text")).as("x2")),
      "y", "x1", "x2"),
    Some("""WITH f AS (SELECT CAST(n_chars AS BIGINT) AS y,
           |   CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS x1,
           |   CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS x2
           |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
           | s AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |   CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2, CAST(sum(y) AS BIGINT) AS sy,
           |   CAST(sum(x1 * x1) AS BIGINT) AS s11, CAST(sum(x1 * x2) AS BIGINT) AS s12,
           |   CAST(sum(x2 * x2) AS BIGINT) AS s22, CAST(sum(x1 * y) AS BIGINT) AS s1y,
           |   CAST(sum(x2 * y) AS BIGINT) AS s2y, CAST(sum(y * y) AS BIGINT) AS syy FROM f),
           | d AS (SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
           |   CAST(sy AS DOUBLE) AS sy, CAST(s11 AS DOUBLE) AS s11, CAST(s12 AS DOUBLE) AS s12,
           |   CAST(s22 AS DOUBLE) AS s22, CAST(s1y AS DOUBLE) AS s1y, CAST(s2y AS DOUBLE) AS s2y,
           |   CAST(syy AS DOUBLE) AS syy FROM s),
           | c AS (SELECT n, sy, s1y, s2y, syy,
           |   (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y))
           |    / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) AS b0,
           |   (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2))
           |    / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) AS b1,
           |   (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2))
           |    / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) AS b2
           |  FROM d)
           | SELECT (SELECT n FROM s) AS n, b0, b1, b2,
           |  1.0 - (syy - (b0 * sy + b1 * s1y + b2 * s2y)) / (syy - sy * sy / n) AS r2
           | FROM c""".stripMargin.replaceAll("\n", " ")))

  /** Shared DuckDB CTE chain for the split-conformal family: feature
    * table (the `ols_doc_length` features keyed by doc_id), OLS fit on
    * the id%3=0 train split, absolute-residual scores on the id%3=1
    * calibration split, exact conformal rank k = ceil((n+1)·9/10), and
    * the k-th order statistic from distinct-value prefix sums. */
  /** The fit prefix alone (feature table with lang + train-split OLS
    * coefficients) — shared by the marginal chain below and the
    * Mondrian per-group oracle. */
  private def conformalFitCtes: String =
    """WITH f AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS y,
      |   CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS x1,
      |   CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS x2
      |  FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
      | s AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |   CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2, CAST(sum(y) AS BIGINT) AS sy,
      |   CAST(sum(x1 * x1) AS BIGINT) AS s11, CAST(sum(x1 * x2) AS BIGINT) AS s12,
      |   CAST(sum(x2 * x2) AS BIGINT) AS s22, CAST(sum(x1 * y) AS BIGINT) AS s1y,
      |   CAST(sum(x2 * y) AS BIGINT) AS s2y FROM f WHERE doc_id % 3 = 0),
      | d AS (SELECT CAST(n AS DOUBLE) AS n, CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
      |   CAST(sy AS DOUBLE) AS sy, CAST(s11 AS DOUBLE) AS s11, CAST(s12 AS DOUBLE) AS s12,
      |   CAST(s22 AS DOUBLE) AS s22, CAST(s1y AS DOUBLE) AS s1y, CAST(s2y AS DOUBLE) AS s2y FROM s),
      | c AS (SELECT
      |   (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y))
      |    / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) AS b0,
      |   (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2))
      |    / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) AS b1,
      |   (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2))
      |    / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)) AS b2
      |  FROM d)""".stripMargin.replaceAll("\n", " ")

  private def conformalSqlCtes: String =
    s"""$conformalFitCtes,
      | cal AS (SELECT abs(CAST(y AS DOUBLE) - (c.b0 + c.b1 * CAST(x1 AS DOUBLE) + c.b2 * CAST(x2 AS DOUBLE))) AS sc
      |  FROM f CROSS JOIN c WHERE doc_id % 3 = 1),
      | nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM cal),
      | kk AS (SELECT CAST(((n + 1) * 9 + 9) // 10 AS BIGINT) AS k, n FROM nn),
      | g AS (SELECT sc AS v, CAST(count(*) AS BIGINT) AS cv FROM cal GROUP BY 1),
      | r AS (SELECT v, cv, CAST(coalesce(sum(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cv, 0) AS BIGINT) AS nb FROM g),
      | qv AS (SELECT min(v) AS q FROM r CROSS JOIN kk WHERE nb < kk.k AND nb + cv >= kk.k),
      | te AS (SELECT doc_id, CAST(y AS DOUBLE) AS y,
      |   (c.b0 + c.b1 * CAST(x1 AS DOUBLE) + c.b2 * CAST(x2 AS DOUBLE)) AS pred,
      |   abs(CAST(y AS DOUBLE) - (c.b0 + c.b1 * CAST(x1 AS DOUBLE) + c.b2 * CAST(x2 AS DOUBLE))) AS ae,
      |   qv.q AS q
      |  FROM f CROSS JOIN c CROSS JOIN qv WHERE doc_id % 3 = 2)""".stripMargin.replaceAll("\n", " ")

  /** Split-conformal prediction intervals
    * ([[graft.analysis.Conformal.intervals]]): deterministic id%3
    * train/calibration/test splits, the exact-fit OLS length model,
    * and the ceil((n+1)·0.9)-th smallest calibration residual as the
    * radius — every test row gets `pred ± q` with a ≥90% finite-sample
    * coverage guarantee, all of it one fixed IEEE tree over exact
    * integers. */
  private def qConformalIntervals = Q(
    (s, dir) => {
      val feats = t(s, dir, "documents").select(
        F.col("doc_id"), F.col("n_chars").as("y"),
        TextAnalysis.tokenCount(F.col("text")).as("x1"),
        TextAnalysis.alphaCount(F.col("text")).as("x2"))
      graft.analysis.Conformal.intervals(feats, "doc_id", "y", "x1", "x2")
        .orderBy("doc_id")
    },
    Some(s"""$conformalSqlCtes
            | SELECT doc_id, y, pred, pred - q AS lo, pred + q AS hi, ae <= q AS covered
            | FROM te ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Conformal guarantee check ([[graft.analysis.Conformal.coverage]]):
    * one row `(n_cal, k, q, n_test, n_covered, coverage)` — the
    * empirical test coverage audited against the ≥90% target. */
  private def qConformalCoverage = Q(
    (s, dir) => {
      val feats = t(s, dir, "documents").select(
        F.col("doc_id"), F.col("n_chars").as("y"),
        TextAnalysis.tokenCount(F.col("text")).as("x1"),
        TextAnalysis.alphaCount(F.col("text")).as("x2"))
      graft.analysis.Conformal.coverage(feats, "doc_id", "y", "x1", "x2")
    },
    Some(s"""$conformalSqlCtes
            | SELECT kk.n AS n_cal, kk.k AS k, max(te.q) AS q,
            |  CAST(count(*) AS BIGINT) AS n_test,
            |  CAST(sum(CASE WHEN te.ae <= te.q THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
            |  CAST(sum(CASE WHEN te.ae <= te.q THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage
            | FROM te CROSS JOIN kk
            | GROUP BY kk.n, kk.k""".stripMargin.replaceAll("\n", " ")))

  /** t-closeness audit ([[DataAudit.tCloseness]]): per order-priority
    * group, the exact-integer total variation distance between the
    * group's order-status distribution and the global one — the
    * distribution-leakage tier of the privacy family. */
  private def qTCloseness = Q(
    (s, dir) => graft.analysis.DataAudit.tCloseness(
      t(s, dir, "orders"), Seq("o_orderpriority"), "o_orderstatus")
      .orderBy("o_orderpriority"),
    Some("""WITH j AS (SELECT o_orderpriority AS g, o_orderstatus AS v, CAST(count(*) AS BIGINT) AS c
           |  FROM orders WHERE o_orderstatus IS NOT NULL GROUP BY 1, 2),
           | cv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM j GROUP BY 1),
           | ng AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM j GROUP BY 1),
           | tt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM j),
           | p AS (SELECT j.g, max(ng.ng) AS n_rows, max(tt.n) AS n,
           |   CAST(sum(abs(j.c * tt.n - cv.cv * ng.ng)) AS BIGINT) AS s1,
           |   CAST(sum(cv.cv) AS BIGINT) AS cov
           |  FROM j JOIN cv ON cv.v = j.v JOIN ng ON ng.g IS NOT DISTINCT FROM j.g CROSS JOIN tt
           |  GROUP BY j.g)
           | SELECT g AS o_orderpriority, n_rows,
           |  CAST(s1 + n_rows * (n - cov) AS BIGINT) AS tvd_num,
           |  CAST(s1 + n_rows * (n - cov) AS DOUBLE) / CAST(2 * n_rows * n AS DOUBLE) AS tvd
           | FROM p ORDER BY o_orderpriority""".stripMargin.replaceAll("\n", " ")))

  /** Deterministic Poisson-bootstrap CI
    * ([[graft.analysis.Bootstrap.meanCI]]): a 95% band for mean
    * quantity from 64 hash-driven replicates — md5-uniform →
    * fixed-literal inverse-CDF multiplicities → BIGINT replicate sums,
    * CI bounds exact order statistics of the replicate means. No RNG
    * anywhere; both engines replay the identical resample. */
  private def qBootstrapMeanCI = Q(
    (s, dir) => graft.analysis.Bootstrap.meanCI(
      t(s, dir, "lineitem")
        .select((F.col("l_orderkey") * 10 + F.col("l_linenumber")).as("id"),
          F.col("l_quantity")),
      "id", "l_quantity"),
    Some("""WITH b AS (SELECT CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
           |   CAST(l_quantity AS BIGINT) AS v FROM lineitem
           |  WHERE l_orderkey IS NOT NULL AND l_quantity IS NOT NULL),
           | r AS (SELECT b.id, b.v, g.rep FROM b CROSS JOIN (SELECT unnest(range(64)) AS rep) g),
           | u AS (SELECT rep, v,
           |   CAST((48271 * ((16807 * (((id * 2654435761 + rep * 40503 + 977) % 2147483647 + 2147483647) % 2147483647)) % 2147483647)) % 2147483647 AS DOUBLE) / 2147483647.0 AS u
           |  FROM r),
           | mm AS (SELECT rep, v, CASE
           |   WHEN u < 0.36787944117144233 THEN 0 WHEN u < 0.7357588823428847 THEN 1
           |   WHEN u < 0.9196986029286058 THEN 2 WHEN u < 0.9810118431238463 THEN 3
           |   WHEN u < 0.9963401531726563 THEN 4 WHEN u < 0.9994058151824183 THEN 5
           |   WHEN u < 0.999916758850712 THEN 6 WHEN u < 0.9999897508033253 THEN 7
           |   WHEN u < 0.999998874797402 THEN 8 ELSE 9 END AS mult FROM u),
           | m AS (SELECT rep, CAST(sum(mult * v) AS BIGINT) AS s, CAST(sum(mult) AS BIGINT) AS c
           |  FROM mm GROUP BY rep),
           | means AS (SELECT CAST(s AS DOUBLE) / CAST(c AS DOUBLE) AS mean FROM m),
           | ord AS (SELECT mean, row_number() OVER (ORDER BY mean) AS rn FROM means)
           | SELECT (SELECT CAST(count(*) AS BIGINT) FROM b) AS n,
           |  (SELECT CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM b) AS mean,
           |  CAST(64 AS BIGINT) AS b,
           |  (SELECT mean FROM ord WHERE rn = 1) AS lo_rep,
           |  (SELECT mean FROM ord WHERE rn = 64) AS hi_rep,
           |  (SELECT mean FROM ord WHERE rn = 2) AS ci_lo,
           |  (SELECT mean FROM ord WHERE rn = 63) AS ci_hi""".stripMargin.replaceAll("\n", " ")))

  /** Exact two-proportion z-test
    * ([[graft.analysis.Bootstrap.proportionTest]]): purchase rate of
    * even vs odd user ids — the A/B readout, every count exact and z
    * one fixed IEEE tree. */
  private def qAbProportionTest = Q(
    (s, dir) => graft.analysis.Bootstrap.proportionTest(
      t(s, dir, "events"),
      F.col("user_id") % 2 === 0, F.col("event_type") === "purchase"),
    Some("""WITH a AS (SELECT
           |   CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |   CAST(sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
           |   CAST(sum(CASE WHEN NOT (user_id % 2 = 0) THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           |   CAST(sum(CASE WHEN NOT (user_id % 2 = 0) AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2
           |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL)
           | SELECT n1, c1, n2, c2,
           |  CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
           |  CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
           |  CASE WHEN n1 = 0 OR n2 = 0
           |    OR CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) = 0.0
           |    OR CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) = 1.0 THEN NULL
           |   ELSE (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
           |    / sqrt((CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
           |      * (1.0 - CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
           |      * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) END AS z
           | FROM a""".stripMargin.replaceAll("\n", " ")))

  /** Mondrian (group-conditional) conformal coverage
    * ([[graft.analysis.Conformal.mondrianCoverage]]): one radius PER
    * LANGUAGE, each the exact per-group order statistic from a
    * group-partitioned prefix-sum window — the per-segment guarantee a
    * marginal radius averages away; undersized groups report NULL
    * rather than silently under-covering. */
  private def qMondrianConformal = Q(
    (s, dir) => {
      val feats = t(s, dir, "documents").select(
        F.col("doc_id"), F.col("lang"), F.col("n_chars").as("y"),
        TextAnalysis.tokenCount(F.col("text")).as("x1"),
        TextAnalysis.alphaCount(F.col("text")).as("x2"))
      graft.analysis.Conformal.mondrianCoverage(
        feats, "lang", "doc_id", "y", "x1", "x2").orderBy("lang")
    },
    Some(s"""$conformalFitCtes,
            | calg AS (SELECT lang AS g,
            |   abs(CAST(y AS DOUBLE) - (c.b0 + c.b1 * CAST(x1 AS DOUBLE) + c.b2 * CAST(x2 AS DOUBLE))) AS s
            |  FROM f CROSS JOIN c WHERE doc_id % 3 = 1 AND lang IS NOT NULL),
            | ngg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_cal,
            |   CAST(((count(*) + 1) * 9 + 9) // 10 AS BIGINT) AS k FROM calg GROUP BY 1),
            | gg AS (SELECT g, s, CAST(count(*) AS BIGINT) AS c FROM calg GROUP BY 1, 2),
            | rr AS (SELECT g, s, c, CAST(coalesce(sum(c) OVER (PARTITION BY g ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c, 0) AS BIGINT) AS nb FROM gg),
            | rad AS (SELECT rr.g, min(rr.s) AS q
            |  FROM rr JOIN ngg ON ngg.g = rr.g
            |  WHERE rr.nb < ngg.k AND rr.nb + rr.c >= ngg.k GROUP BY rr.g),
            | ag AS (SELECT ngg.g, ngg.n_cal, ngg.k, rad.q FROM ngg LEFT JOIN rad ON rad.g = ngg.g),
            | teg AS (SELECT lang AS g,
            |   abs(CAST(y AS DOUBLE) - (c.b0 + c.b1 * CAST(x1 AS DOUBLE) + c.b2 * CAST(x2 AS DOUBLE))) AS ae
            |  FROM f CROSS JOIN c WHERE doc_id % 3 = 2 AND lang IS NOT NULL)
            | SELECT teg.g AS lang, max(ag.n_cal) AS n_cal, max(ag.k) AS k, max(ag.q) AS q,
            |  CAST(count(*) AS BIGINT) AS n_test,
            |  CASE WHEN max(ag.q) IS NULL THEN NULL
            |   ELSE CAST(sum(CASE WHEN teg.ae <= ag.q THEN 1 ELSE 0 END) AS BIGINT) END AS n_covered,
            |  CASE WHEN max(ag.q) IS NULL THEN NULL
            |   ELSE CAST(sum(CASE WHEN teg.ae <= ag.q THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) END AS coverage
            | FROM teg JOIN ag ON ag.g = teg.g GROUP BY teg.g
            | ORDER BY lang""".stripMargin.replaceAll("\n", " ")))

  /** Key-concentration report ([[DataAudit.keyConcentration]]): Gini /
    * HHI / entropy of per-user event counts — the whole-distribution
    * inequality readout behind the top-k skew preflight, every index
    * exact integer arithmetic over the bounded count-of-counts table. */
  private def qKeyConcentration = Q(
    (s, dir) => graft.analysis.DataAudit.keyConcentration(
      t(s, dir, "events"), "user_id"),
    Some("""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
           | h AS (SELECT c, CAST(count(*) AS BIGINT) AS f FROM c GROUP BY 1),
           | r AS (SELECT c, f, CAST(coalesce(sum(f) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - f, 0) AS BIGINT) AS nb FROM h),
           | t AS (SELECT CAST(sum(f) AS BIGINT) AS nk, CAST(sum(c * f) AS BIGINT) AS n FROM h),
           | a AS (SELECT max(t.nk) AS n_keys, max(t.n) AS n_rows, max(r.c) AS top,
           |   CAST(sum(r.c * r.c * r.f) AS BIGINT) AS s2,
           |   CAST(sum(r.c * (r.f * r.nb + (r.f * (r.f + 1)) // 2)) AS BIGINT) AS s1,
           |   CAST(sum(r.c * r.f * CAST(floor(1000000.0 * ln(CAST(t.n AS DOUBLE) / CAST(r.c AS DOUBLE))) AS BIGINT)) AS BIGINT) AS entropy_q
           |  FROM r CROSS JOIN t)
           | SELECT n_keys, n_rows,
           |  CAST(top AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top_share,
           |  CAST(s2 AS DOUBLE) / CAST(n_rows * n_rows AS DOUBLE) AS hhi,
           |  CAST(2 * s1 - (n_keys + 1) * n_rows AS DOUBLE) / CAST(n_keys * n_rows AS DOUBLE) AS gini,
           |  entropy_q,
           |  (CAST(entropy_q AS DOUBLE) / 1000000.0) / CAST(n_rows AS DOUBLE) AS entropy_nats
           | FROM a""".stripMargin.replaceAll("\n", " ")))

  /** CUPED variance-reduced A/B test
    * ([[graft.analysis.Bootstrap.cupedTest]]): even- vs odd-user value
    * (in cents) adjusted by a deterministic pre-period covariate —
    * eleven BIGINT sufficient statistics in one pass, θ/means/variance/z
    * one fixed IEEE tree. */
  private def qAbCuped = Q(
    (s, dir) => graft.analysis.Bootstrap.cupedTest(
      t(s, dir, "events"),
      F.col("user_id") % 2 === 0,
      F.round(F.col("value") * 100),
      F.col("event_id") % 97),
    Some("""WITH b AS (SELECT (user_id % 2 = 0) AS arm,
           |   CAST(round(value * 100) AS BIGINT) AS y, CAST(event_id % 97 AS BIGINT) AS x
           |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL AND event_id IS NOT NULL),
           | a AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |   CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x) AS BIGINT) AS sx,
           |   CAST(sum(y * y) AS BIGINT) AS syy, CAST(sum(x * x) AS BIGINT) AS sxx,
           |   CAST(sum(x * y) AS BIGINT) AS sxy,
           |   CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |   CAST(sum(CASE WHEN arm THEN y ELSE 0 END) AS BIGINT) AS sy1,
           |   CAST(sum(CASE WHEN arm THEN x ELSE 0 END) AS BIGINT) AS sx1,
           |   CAST(sum(CASE WHEN arm THEN y * y ELSE 0 END) AS BIGINT) AS syy1,
           |   CAST(sum(CASE WHEN arm THEN x * x ELSE 0 END) AS BIGINT) AS sxx1,
           |   CAST(sum(CASE WHEN arm THEN x * y ELSE 0 END) AS BIGINT) AS sxy1
           |  FROM b),
           | d AS (SELECT n AS ni, n1 AS n1i,
           |   CAST(n AS DOUBLE) AS n, CAST(sy AS DOUBLE) AS sy, CAST(sx AS DOUBLE) AS sx,
           |   CAST(syy AS DOUBLE) AS syy, CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
           |   CAST(n1 AS DOUBLE) AS n1, CAST(sy1 AS DOUBLE) AS sy1, CAST(sx1 AS DOUBLE) AS sx1,
           |   CAST(syy1 AS DOUBLE) AS syy1, CAST(sxx1 AS DOUBLE) AS sxx1, CAST(sxy1 AS DOUBLE) AS sxy1
           |  FROM a),
           | e AS (SELECT ni, n1i, n, n1, n - n1 AS n2,
           |   sy1, sx1, syy1, sxx1, sxy1,
           |   sy - sy1 AS sy2, sx - sx1 AS sx2, syy - syy1 AS syy2,
           |   sxx - sxx1 AS sxx2, sxy - sxy1 AS sxy2,
           |   (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta, sx / n AS xbar
           |  FROM d),
           | f2 AS (SELECT ni, n1i, n1, n2, theta,
           |   sy1 / n1 - theta * (sx1 / n1 - xbar) AS m1,
           |   sy2 / n2 - theta * (sx2 / n2 - xbar) AS m2,
           |   (syy1 - 2.0 * theta * sxy1 + theta * theta * sxx1) / n1
           |     - (sy1 / n1 - theta * (sx1 / n1)) * (sy1 / n1 - theta * (sx1 / n1)) AS v1,
           |   (syy2 - 2.0 * theta * sxy2 + theta * theta * sxx2) / n2
           |     - (sy2 / n2 - theta * (sx2 / n2)) * (sy2 / n2 - theta * (sx2 / n2)) AS v2
           |  FROM e)
           | SELECT n1i AS n1, CAST(ni - n1i AS BIGINT) AS n2, theta,
           |  m1 AS mean1_adj, m2 AS mean2_adj, m1 - m2 AS diff,
           |  sqrt(v1 / n1 + v2 / n2) AS se,
           |  CASE WHEN n1i = 0 OR ni = n1i THEN NULL
           |   WHEN sqrt(v1 / n1 + v2 / n2) = 0.0 THEN NULL
           |   ELSE (m1 - m2) / sqrt(v1 / n1 + v2 / n2) END AS z
           | FROM f2""".stripMargin.replaceAll("\n", " ")))

  /** Bootstrap CI for the DIFFERENCE of arm means
    * ([[graft.analysis.Bootstrap.diffCI]]): the nonparametric A/B
    * uncertainty readout — both arms resampled with the same MINSTD
    * multiplicities per replicate, CI = exact order statistics of 64
    * replicate differences, no normality assumption anywhere. */
  private def qBootstrapAbDiff = Q(
    (s, dir) => graft.analysis.Bootstrap.diffCI(
      t(s, dir, "events")
        .select(F.col("event_id"),
          F.round(F.col("value") * 100).as("v"),
          (F.col("user_id") % 2 === 0).as("arm")),
      "event_id", "v", F.col("arm")),
    Some("""WITH b AS (SELECT CAST(event_id AS BIGINT) AS id,
           |   CAST(round(value * 100) AS BIGINT) AS v, (user_id % 2 = 0) AS a
           |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL),
           | r AS (SELECT b.id, b.v, b.a, g.rep FROM b CROSS JOIN (SELECT unnest(range(64)) AS rep) g),
           | u AS (SELECT a, v, rep,
           |   CAST((48271 * ((16807 * (((id * 2654435761 + rep * 40503 + 977) % 2147483647 + 2147483647) % 2147483647)) % 2147483647)) % 2147483647 AS DOUBLE) / 2147483647.0 AS u
           |  FROM r),
           | mm AS (SELECT a, v, rep, CASE
           |   WHEN u < 0.36787944117144233 THEN 0 WHEN u < 0.7357588823428847 THEN 1
           |   WHEN u < 0.9196986029286058 THEN 2 WHEN u < 0.9810118431238463 THEN 3
           |   WHEN u < 0.9963401531726563 THEN 4 WHEN u < 0.9994058151824183 THEN 5
           |   WHEN u < 0.999916758850712 THEN 6 WHEN u < 0.9999897508033253 THEN 7
           |   WHEN u < 0.999998874797402 THEN 8 ELSE 9 END AS mult FROM u),
           | m AS (SELECT rep,
           |   CAST(sum(CASE WHEN a THEN mult * v ELSE 0 END) AS BIGINT) AS s1,
           |   CAST(sum(CASE WHEN a THEN mult ELSE 0 END) AS BIGINT) AS c1,
           |   CAST(sum(CASE WHEN NOT a THEN mult * v ELSE 0 END) AS BIGINT) AS s2,
           |   CAST(sum(CASE WHEN NOT a THEN mult ELSE 0 END) AS BIGINT) AS c2
           |  FROM mm GROUP BY rep),
           | means AS (SELECT CAST(s1 AS DOUBLE) / CAST(c1 AS DOUBLE)
           |   - CAST(s2 AS DOUBLE) / CAST(c2 AS DOUBLE) AS d FROM m),
           | ord AS (SELECT d, row_number() OVER (ORDER BY d) AS rn FROM means)
           | SELECT
           |  (SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) FROM b) AS n1,
           |  (SELECT CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) FROM b) AS n2,
           |  (SELECT CAST(sum(CASE WHEN a THEN v ELSE 0 END) AS DOUBLE) / CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS DOUBLE)
           |    - CAST(sum(CASE WHEN NOT a THEN v ELSE 0 END) AS DOUBLE) / CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS DOUBLE) FROM b) AS mean_diff,
           |  CAST(64 AS BIGINT) AS b,
           |  (SELECT d FROM ord WHERE rn = 2) AS ci_lo,
           |  (SELECT d FROM ord WHERE rn = 63) AS ci_hi""".stripMargin.replaceAll("\n", " ")))

  /** Deterministic contrastive triplets
    * ([[graft.pipeline.Contrastive.tripletsFromPairs]]): same-source
    * adjacent documents as (anchor, positive) pairs, negatives drawn
    * by the MINSTD recurrence + two-exclusion bijection — exactly
    * uniform over the id universe minus both members, zero collisions
    * by construction, a pure function of the pair set. */
  private def qContrastiveTriplets = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
      val pairs = docs
        .select(F.col("doc_id").as("a"), F.lead("doc_id", 1).over(w).as("b"))
        .filter(F.col("b").isNotNull)
      graft.pipeline.Contrastive.tripletsFromPairs(pairs, "a", "b", n)
        .orderBy("anchor", "pos")
    },
    Some("""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           | p AS (SELECT doc_id AS a, lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS b FROM documents),
           | q AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b FROM p WHERE b IS NOT NULL AND a <> b),
           | t1 AS (SELECT a, b,
           |   CAST(floor(CAST((48271 * ((16807 * (((a * 2654435761 + b * 40503 + 977) % 2147483647 + 2147483647) % 2147483647)) % 2147483647)) % 2147483647 AS DOUBLE) / 2147483647.0
           |     * CAST(nn.n - 2 AS DOUBLE)) AS BIGINT) AS n0,
           |   least(a, b) AS lo, greatest(a, b) AS hi
           |  FROM q CROSS JOIN nn),
           | t2 AS (SELECT a, b, n0 + (CASE WHEN n0 >= lo THEN 1 ELSE 0 END) AS n1v, hi FROM t1),
           | t3 AS (SELECT a AS anchor, b AS pos,
           |   n1v + (CASE WHEN n1v >= hi THEN 1 ELSE 0 END) AS neg FROM t2)
           | SELECT anchor, pos, neg FROM t3 ORDER BY anchor, pos""".stripMargin.replaceAll("\n", " ")))

  /** Winsorization summary ([[graft.analysis.Outliers.winsorize]]):
    * clip l_quantity outside its exact [p01, p99] order-statistic
    * window — exact type-7 cut points as literals, exact clip counts,
    * DECIMAL(33,6) sums cast once to double. */
  private def qWinsorize = Q(
    (s, dir) => graft.analysis.Outliers.winsorize(
      t(s, dir, "lineitem"), "l_quantity"),
    Some("""WITH b AS (SELECT CAST(l_quantity AS DOUBLE) AS v FROM lineitem
           |  WHERE l_quantity IS NOT NULL),
           | q AS (SELECT quantile_cont(v, 0.01) AS lo, quantile_cont(v, 0.99) AS hi FROM b)
           | SELECT CAST(count(*) AS BIGINT) AS n, q.lo AS lo_cut, q.hi AS hi_cut,
           |  CAST(sum(CASE WHEN v < q.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
           |  CAST(sum(CASE WHEN v > q.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
           |  CAST(sum(CAST(v AS DECIMAL(33,6))) AS DOUBLE) AS sum_raw,
           |  CAST(sum(CAST(least(greatest(v, q.lo), q.hi) AS DECIMAL(33,6))) AS DOUBLE) AS sum_wins
           | FROM b CROSS JOIN q GROUP BY q.lo, q.hi""".stripMargin.replaceAll("\n", " ")))

  /** Conformal scoring AT INGESTION: the fitted model + calibrated
    * radius are four plan literals, so the interval/coverage columns
    * are STATELESS — the same coverage aggregate
    * ([[graft.analysis.Conformal.coverage]]) computed over a
    * Structured Streaming read of the test split, sharing
    * `conformal_coverage`'s oracle verbatim. */
  private def qStreamingConformal = Q(
    (s, dir) => {
      val feats = t(s, dir, "documents").select(
        F.col("doc_id"), F.col("n_chars").as("y"),
        TextAnalysis.tokenCount(F.col("text")).as("x1"),
        TextAnalysis.alphaCount(F.col("text")).as("x2"))
      val m = graft.analysis.Conformal.fit(feats, "doc_id", "y", "x1", "x2")
      val sdf = st(s, dir, "documents")
        .select(F.col("doc_id"), F.col("n_chars").as("y"),
          TextAnalysis.tokenCount(F.col("text")).as("x1"),
          TextAnalysis.alphaCount(F.col("text")).as("x2"))
        .filter(F.col("doc_id") % 3 === 2 &&
          F.col("y").isNotNull && F.col("x1").isNotNull && F.col("x2").isNotNull)
      val coverage = sdf
        .groupBy()
        .agg(F.count(F.lit(1)).as("n_test"),
          F.sum(F.when(
            graft.analysis.Conformal.coveredColumn(m, "y", "x1", "x2"), 1L)
            .otherwise(0L)).as("n_covered"))
        .select(F.lit(m.nCal).as("n_cal"), F.lit(m.k).as("k"), F.lit(m.q).as("q"),
          F.col("n_test"), F.col("n_covered"),
          (F.col("n_covered").cast("double") / F.col("n_test").cast("double"))
            .as("coverage"))
      Streams.toMemory(coverage, "complete")
    },
    qConformalCoverage.oracle)

  /** Key-skew preflight ([[DataAudit.keySkewReport]]) on the stream
    * table's join key — top-20 heaviest user_ids with row shares and
    * global totals. Counts exact; shares single IEEE divides. */
  private def qKeySkewReport = Q(
    (s, dir) => DataAudit.keySkewReport(t(s, dir, "events"), "user_id", 20),
    Some("""WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS cnt
           |  FROM events GROUP BY 1),
           | t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_keys FROM c),
           | top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key NULLS LAST LIMIT 20)
           | SELECT key, cnt,
           |  CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE) AS share,
           |  CAST(sum(cnt) OVER (ORDER BY cnt DESC, key NULLS LAST ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           |    / CAST(n_rows AS DOUBLE) AS cum_share,
           |  n_rows, n_keys
           | FROM top CROSS JOIN t ORDER BY cnt DESC, key NULLS LAST""".stripMargin.replaceAll("\n", " ")))

  /** Int8 scalar-quantized ANN ([[Similarity.sq8TopK]]): one global
    * symmetric corpus scale (angle-preserving), floor quantization,
    * ranking by the cosine of the QUANTIZED vectors — three exact
    * BIGINTs, two sqrts and a divide per pair, so the compressed-domain
    * top-k replays in SQL with no float-accumulation caveat. */
  private def qEmbeddingSq8TopK = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(F.col("vec_id") < 20), k = 5)
        .orderBy("query_id", "rank")
    },
    Some("""WITH x AS (SELECT vec_id,
           |   unnest(list_transform(generate_series(1, len(embedding)), i -> {'i': i, 'v': embedding[i]})) AS s
           |  FROM embeddings),
           | x2 AS (SELECT vec_id, s.i AS i, s.v AS v FROM x),
           | mx AS (SELECT max(abs(v)) AS m FROM x2),
           | q AS (SELECT vec_id, i,
           |   CASE WHEN (SELECT m FROM mx) = 0 THEN 0 ELSE
           |     CAST(floor((CAST(v AS DOUBLE) / CAST((SELECT m FROM mx) AS DOUBLE)) * 127.0) AS BIGINT)
           |   END AS qi
           |  FROM x2),
           | n2 AS (SELECT vec_id, CAST(sum(qi * qi) AS BIGINT) AS qn2 FROM q GROUP BY 1),
           | dt AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
           |   CAST(sum(a.qi * b.qi) AS BIGINT) AS dot
           |  FROM q a JOIN q b ON a.i = b.i AND a.vec_id <> b.vec_id
           |  WHERE b.vec_id < 20 GROUP BY 1, 2),
           | sc AS (SELECT query_id, neighbor_id,
           |   CASE WHEN na.qn2 = 0 OR nb.qn2 = 0 THEN 0.0 ELSE
           |     CAST(dot AS DOUBLE) / (sqrt(CAST(na.qn2 AS DOUBLE)) * sqrt(CAST(nb.qn2 AS DOUBLE)))
           |   END AS qcos
           |  FROM dt JOIN n2 na ON na.vec_id = dt.neighbor_id
           |   JOIN n2 nb ON nb.vec_id = dt.query_id),
           | r AS (SELECT query_id, neighbor_id, qcos,
           |   row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id DESC) AS rank FROM sc)
           | SELECT query_id, neighbor_id, qcos, rank FROM r WHERE rank <= 5
           | ORDER BY query_id, rank""".stripMargin.replaceAll("\n", " ")))

  /** Distributed BPE training ([[TextAnalysis.bpeTrainMerges]]): three
    * greedy merge rounds over the frequency-weighted vocabulary. The
    * double-separator string encoding makes each round's merge ONE
    * lookahead-free regexp_replace that java.util.regex and RE2
    * evaluate identically, and all counts are BIGINTs — so the oracle
    * replays the full training loop (count → argmax → merge → recount)
    * bit-for-bit across three unrolled CTE rounds. */
  /** Shared WITH-chain for the BPE oracles: vocab → `rounds` unrolled
    * merge rounds (`m1..mN` the picked merges, `vN` the encoded
    * vocabulary). Per-round CTEs are MATERIALIZED — `m$k` is referenced
    * four times and `v$k` feeds both the next round and the final
    * select; inlined, each reference re-derives the whole prior chain
    * (the DuckDB CTE-inlining blowup the ls_boost oracle hit). */
  private def bpeSqlCtesN(rounds: Int): String = {
    val sep = "chr(31)"
    val sep2 = "chr(31) || chr(31)"
    def round(k: Int) =
      s"""w$k AS (SELECT list_filter(string_split(e, $sep2), x -> len(x) > 0) AS w, freq FROM v${k - 1}),
         | q$k AS (SELECT unnest([{'a': w[i], 'b': w[i+1]} for i in range(1, len(w))]) AS p, freq FROM w$k),
         | t$k AS (SELECT p.a AS s1, p.b AS s2, CAST(sum(freq) AS BIGINT) AS cnt FROM q$k GROUP BY 1, 2),
         | m$k AS MATERIALIZED (SELECT s1, s2, cnt FROM t$k ORDER BY cnt DESC, s1, s2 LIMIT 1),
         | v$k AS MATERIALIZED (SELECT CASE WHEN EXISTS (SELECT 1 FROM m$k) THEN regexp_replace(e,
         |    $sep || (SELECT s1 FROM m$k) || $sep2 || (SELECT s2 FROM m$k) || $sep,
         |    $sep || (SELECT s1 || s2 FROM m$k) || $sep, 'g') ELSE e END AS e, freq FROM v${k - 1})"""
    s"""WITH tok AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |    w -> regexp_matches(w, '^[a-z0-9]+$$'))) AS t FROM documents),
       | v0 AS (SELECT $sep2 || array_to_string([substr(t, i, 1) for i in range(1, len(t)+1)], $sep2) || $sep2 AS e,
       |   CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY t),
       | ${(1 to rounds).map(round).mkString(",\n ")}"""
  }

  private def bpeSqlCtes: String = bpeSqlCtesN(3)

  /** Byte-level variant of [[bpeSqlCtesN]]: GPT-2-style pretokens
    * (space-prefixed letter/number/punct runs, every script kept) and
    * an initial alphabet of UTF-8 bytes as lowercase hex PAIRS —
    * `lower(hex(encode(t)))` chunked by 2 — so the identical
    * merge-round CTE chain trains over bytes. */
  private def byteBpeSqlCtesN(rounds: Int): String = {
    val sep = "chr(31)"
    val sep2 = "chr(31) || chr(31)"
    def round(k: Int) =
      s"""w$k AS (SELECT list_filter(string_split(e, $sep2), x -> len(x) > 0) AS w, freq FROM v${k - 1}),
         | q$k AS (SELECT unnest([{'a': w[i], 'b': w[i+1]} for i in range(1, len(w))]) AS p, freq FROM w$k),
         | t$k AS (SELECT p.a AS s1, p.b AS s2, CAST(sum(freq) AS BIGINT) AS cnt FROM q$k GROUP BY 1, 2),
         | m$k AS MATERIALIZED (SELECT s1, s2, cnt FROM t$k ORDER BY cnt DESC, s1, s2 LIMIT 1),
         | v$k AS MATERIALIZED (SELECT CASE WHEN EXISTS (SELECT 1 FROM m$k) THEN regexp_replace(e,
         |    $sep || (SELECT s1 FROM m$k) || $sep2 || (SELECT s2 FROM m$k) || $sep,
         |    $sep || (SELECT s1 || s2 FROM m$k) || $sep, 'g') ELSE e END AS e, freq FROM v${k - 1})"""
    s"""WITH tok AS (SELECT unnest(regexp_extract_all(text,
       |    ' ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+')) AS t FROM documents),
       | hx AS (SELECT lower(hex(encode(t))) AS h FROM tok),
       | v0 AS (SELECT $sep2 || array_to_string([substr(h, i, 2) for i in range(1, len(h)+1, 2)], $sep2) || $sep2 AS e,
       |   CAST(count(*) AS BIGINT) AS freq FROM hx GROUP BY h),
       | ${(1 to rounds).map(round).mkString(",\n ")}"""
  }

  private def qBpeTrainMerges = Q(
    (s, dir) => TextAnalysis.bpeTrainMerges(t(s, dir, "documents"), "text", rounds = 3)
      .orderBy("round"),
    Some {
      s"""$bpeSqlCtes
         | SELECT 1 AS round, s1, s2, s1 || s2 AS merged, cnt FROM m1
         | UNION ALL SELECT 2, s1, s2, s1 || s2, cnt FROM m2
         | UNION ALL SELECT 3, s1, s2, s1 || s2, cnt FROM m3
         | ORDER BY round""".stripMargin.replaceAll("\n", " ")
    })

  /** PRODUCTION-SCALE BPE training
    * ([[TextAnalysis.bpeTrainMergesFast]]): the word-histogram trainer
    * — ONE distributed pass, then an indexed incremental driver loop —
    * run for EIGHT merge rounds (past where the per-round distributed
    * trainer is benched) and hash-checked against the full 8-round
    * unrolled SQL training replay. Any divergence anywhere in the
    * greedy sequence (pair counting, tie order, merge application,
    * early stop) fails the hash. */
  private def qBpeTrainFast = Q(
    (s, dir) => TextAnalysis.bpeTrainMergesFast(t(s, dir, "documents"), "text",
      rounds = 8).orderBy("round"),
    Some {
      s"""${bpeSqlCtesN(8)}
         | ${(1 to 8).map(k =>
            s"SELECT CAST($k AS INT) AS round, s1, s2, s1 || s2 AS merged, cnt FROM m$k")
            .mkString(" UNION ALL ")}
         | ORDER BY round""".stripMargin.replaceAll("\n", " ")
    })

  /** BYTE-LEVEL BPE training ([[TextAnalysis.bpeTrainMergesFast]],
    * `byteLevel = true`): 6 merge rounds over the GPT-2-style
    * byte-pretoken alphabet (space-prefixed runs, every script kept,
    * UTF-8 bytes as lowercase hex pairs), hash-checked against the
    * full unrolled SQL training replay — pair counting over hex
    * symbols, tie order, merge application, and the byte chunking
    * itself all certified cross-engine. Default-mode queries
    * (`bpe_train_fast`, `bpe_encode_native`) are untouched: byte mode
    * is opt-in. */
  private def qBpeTrainBytes = Q(
    (s, dir) => TextAnalysis.bpeTrainMergesFast(t(s, dir, "documents"), "text",
      rounds = 6, byteLevel = true).orderBy("round"),
    Some {
      s"""${byteBpeSqlCtesN(6)}
         | ${(1 to 6).map(k =>
            s"SELECT CAST($k AS INT) AS round, s1, s2, s1 || s2 AS merged, cnt FROM m$k")
            .mkString(" UNION ALL ")}
         | ORDER BY round""".stripMargin.replaceAll("\n", " ")
    })

  /** BYTE-LEVEL BPE encoding round-trip ([[TextAnalysis.bpeSegmentBytes]]
    * — the native table-driven encoder at `symWidth = 2` over hex-pair
    * byte symbols): train 6 byte merges, encode the corpus, report the
    * top-30 symbol frequencies. The oracle's `v6` CTE IS the encoded
    * byte vocabulary (frequency-weighted), so a train/encode
    * disagreement anywhere — including the hex chunking and the
    * cursor-vs-fold equivalence at width 2 — fails the hash. */
  private def qBpeEncodeBytes = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrainMergesFast(docs, "text",
        rounds = 6, byteLevel = true)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      docs.select(F.explode(
          TextAnalysis.bpeSegmentBytes(F.col("text"), merges)).as("sym"))
        .groupBy("sym").agg(F.count(F.lit(1)).as("cnt"))
        .orderBy(F.col("cnt").desc, F.col("sym")).limit(30)
    },
    Some {
      s"""${byteBpeSqlCtesN(6)}
         | SELECT sym, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |   SELECT unnest(list_filter(string_split(e, chr(31) || chr(31)), x -> len(x) > 0)) AS sym, freq
         |   FROM v6)
         | GROUP BY sym ORDER BY cnt DESC, sym LIMIT 30""".stripMargin.replaceAll("\n", " ")
    })

  /** BYTE-LEVEL tokenizer fertility ([[TextAnalysis.bpeFertilityBytes]]):
    * the vocabulary-pricing audit over the byte alphabet — per source,
    * exact token/byte/symbol counts under the trained 6-round byte
    * vocabulary. The oracle recovers per-token symbol counts from the
    * trained vocabulary (separator-stripped `e` inverts to the hex
    * word) and joins them back to the pretoken stream — training,
    * encoding, and the audit arithmetic all certified in one hash. */
  private def qBpeFertilityBytes = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrainMergesFast(docs, "text",
        rounds = 6, byteLevel = true)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeFertilityBytes(docs, "text", "source", merges)
        .orderBy("source")
    },
    Some {
      s"""${byteBpeSqlCtesN(6)},
         | wsym AS (SELECT replace(e, chr(31), '') AS h,
         |   CAST(len(list_filter(string_split(e, chr(31) || chr(31)), x -> len(x) > 0)) AS BIGINT) AS nsym FROM v6),
         | tk2 AS (SELECT source, unnest(regexp_extract_all(text,
         |   ' ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+')) AS t FROM documents),
         | tkh AS (SELECT source, t, lower(hex(encode(t))) AS h FROM tk2),
         | st AS (SELECT tkh.source, CAST(count(*) AS BIGINT) AS n_tokens,
         |   CAST(sum(octet_length(encode(tkh.t))) AS BIGINT) AS n_bytes,
         |   CAST(sum(ws.nsym) AS BIGINT) AS n_symbols
         |  FROM tkh JOIN wsym ws ON ws.h = tkh.h GROUP BY 1),
         | dn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1)
         | SELECT dn.source, dn.n_docs,
         |  coalesce(st.n_tokens, 0) AS n_tokens, coalesce(st.n_bytes, 0) AS n_bytes,
         |  coalesce(st.n_symbols, 0) AS n_symbols,
         |  CASE WHEN coalesce(st.n_symbols, 0) = 0 THEN 0.0
         |   ELSE CAST(st.n_bytes AS DOUBLE) / CAST(st.n_symbols AS DOUBLE) END AS bytes_per_symbol,
         |  CASE WHEN coalesce(st.n_tokens, 0) = 0 THEN 0.0
         |   ELSE CAST(st.n_symbols AS DOUBLE) / CAST(st.n_tokens AS DOUBLE) END AS symbols_per_token
         | FROM dn LEFT JOIN st ON st.source = dn.source
         | ORDER BY dn.source""".stripMargin.replaceAll("\n", " ")
    })

  /** BPE ENCODING round-trip ([[TextAnalysis.bpeSegment]]): train 3
    * merges, encode the whole corpus with them, report the top-30
    * symbol frequencies. The oracle replays training AND encoding
    * (its `v3` CTE IS the encoded vocabulary, frequency-weighted), so
    * a train/encode disagreement anywhere fails the hash. */
  private def qBpeEncode = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrainMerges(docs, "text", rounds = 3)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      docs.select(F.explode(
          TextAnalysis.bpeSegment(F.col("text"), merges)).as("sym"))
        .groupBy("sym").agg(F.count(F.lit(1)).as("cnt"))
        .orderBy(F.col("cnt").desc, F.col("sym")).limit(30)
    },
    Some {
      s"""$bpeSqlCtes
         | SELECT sym, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |   SELECT unnest(list_filter(string_split(e, chr(31) || chr(31)), x -> len(x) > 0)) AS sym, freq
         |   FROM v3)
         | GROUP BY sym ORDER BY cnt DESC, sym LIMIT 30""".stripMargin.replaceAll("\n", " ")
    })

  /** Domain-blocklist filtering ([[graft.pipeline.Urls.filterBlockedDomains]]):
    * the crawl-filter stage after canonicalization — a host is dropped
    * when it IS a blocked domain or is a SUBDOMAIN of one, matched by
    * exploding each host's dot-suffixes into an equality join (never
    * LIKE-per-entry). The blocklist hits `src2` exactly, `src0` as a
    * parent domain (subdomain semantics exercised), and `example.org`
    * not at all; the oracle replays the suffix explosion + semi-join. */
  private def qUrlDomainFilter = Q(
    (s, dir) => {
      val url = F.concat(F.lit("https://CDN."), F.col("source"),
        F.lit(".example.com/p/"), F.col("doc_id").cast("string"))
      val docs = t(s, dir, "documents")
        .select(F.col("doc_id"), url.as("url"))
      val bl = s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row("src0.Example.com"),
          org.apache.spark.sql.Row("cdn.src2.example.com"),
          org.apache.spark.sql.Row("example.org")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("domain",
            org.apache.spark.sql.types.StringType))))
      graft.pipeline.Urls.filterBlockedDomains(docs, "url", bl, "domain")
        .select(F.col("doc_id"),
          graft.pipeline.Urls.urlHost(F.col("url")).as("host"))
        .orderBy("doc_id")
    },
    Some("""WITH u AS (SELECT doc_id, 'cdn.' || source || '.example.com' AS host FROM documents),
           | bl AS (SELECT unnest(['src0.example.com', 'cdn.src2.example.com', 'example.org']) AS d),
           | sufs AS (SELECT doc_id, unnest([array_to_string(parts[i:], '.') for i in range(1, len(parts)+1)]) AS suf
           |  FROM (SELECT doc_id, string_split(host, '.') AS parts FROM u)),
           | blocked AS (SELECT DISTINCT sufs.doc_id FROM sufs JOIN bl ON sufs.suf = bl.d)
           | SELECT u.doc_id, u.host FROM u LEFT JOIN blocked b ON b.doc_id = u.doc_id
           | WHERE b.doc_id IS NULL ORDER BY u.doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Shared WARC fixture: a 3-record WARC/1.0 file per document, built
    * from IDENTICAL string expressions in both engines — a `response`
    * whose payload is an HTML fragment with a MULTI-BYTE char (so
    * Content-Length in BYTES ≠ chars), a `request` whose payload
    * EMBEDS `WARC/1.0\r\n` (so only Content-Length-driven slicing
    * parses correctly — scanning for the next version line would split
    * inside the payload), and a `metadata` record with NO
    * WARC-Target-URI header (NULL field path). */
  private def warcRec(wtype: String, idx: Int, uri: Boolean, p: Column): Column = {
    val cl = F.length(F.encode(p, "UTF-8")).cast("string")
    F.concat(
      F.lit("WARC/1.0\r\nWARC-Type: " + wtype + "\r\nWARC-Record-ID: <urn:doc:"),
      F.col("doc_id").cast("string"), F.lit(s":$idx>\r\n"),
      if (uri) F.concat(F.lit("WARC-Target-URI: http://example.com/doc/"),
        F.col("doc_id").cast("string"), F.lit("\r\n"))
      else F.lit(""),
      F.lit("Content-Length: "), cl, F.lit("\r\n\r\n"),
      p, F.lit("\r\n\r\n"))
  }

  private def warcRecWithUri(wtype: String, idx: Int, uri: Column, p: Column): Column = {
    val cl = F.length(F.encode(p, "UTF-8")).cast("string")
    F.concat(
      F.lit("WARC/1.0\r\nWARC-Type: " + wtype + "\r\nWARC-Record-ID: <urn:doc:"),
      F.col("doc_id").cast("string"), F.lit(s":$idx>\r\n"),
      F.lit("WARC-Target-URI: "), uri, F.lit("\r\n"),
      F.lit("Content-Length: "), cl, F.lit("\r\n\r\n"),
      p, F.lit("\r\n\r\n"))
  }

  private def warcFixtureRecords: Seq[Column] = Seq(
    warcRec("response", 0, uri = true, warcPayloadHtml),
    warcRec("request", 1, uri = true,
      F.lit("embedded WARC/1.0\r\nnot a record")),
    warcRec("metadata", 2, uri = false,
      F.concat(F.lit("meta for doc "), F.col("doc_id").cast("string"))))

  private def warcFixture: Column = F.concat(warcFixtureRecords: _*)

  private def warcPayloadHtml: Column = F.concat(
    F.lit("<p>Café: "), F.substring(F.col("text"), 1, 40),
    F.lit(" &amp; more</p>"))

  /** Every WARC record of each document's `warc` bytes, one row each:
    * doc_id, rec_idx and the record's header fields and payload. */
  private def warcRecordRows(docs: DataFrame, warc: Column): DataFrame =
    docs.select(F.col("doc_id"),
        F.posexplode(graft.sources.Warc.warc_records(warc)).as(Seq("rec_idx", "r")))
      .select(F.col("doc_id"), F.col("rec_idx"),
        F.col("r.warc_type").as("warc_type"),
        F.col("r.record_id").as("record_id"),
        F.col("r.target_uri").as("target_uri"),
        F.col("r.content_length").as("content_length"),
        F.col("r.payload").as("payload"))
      .orderBy("doc_id", "rec_idx")

  /** The same fixture in DuckDB (chr(13)||chr(10) spells CRLF). */
  private def warcSqlRecs: String =
    """WITH nl AS (SELECT chr(13) || chr(10) AS c),
      | d AS (SELECT doc_id, '<p>Café: ' || substr(text, 1, 40) || ' &amp; more</p>' AS p1,
      |   'meta for doc ' || doc_id AS p3 FROM documents),
      | recs AS (
      |  SELECT doc_id, 0 AS rec_idx, 'response' AS warc_type,
      |   '<urn:doc:' || doc_id || ':0>' AS record_id,
      |   'http://example.com/doc/' || doc_id AS target_uri,
      |   CAST(octet_length(encode(p1)) AS BIGINT) AS content_length, p1 AS payload FROM d
      |  UNION ALL
      |  SELECT doc_id, 1, 'request', '<urn:doc:' || doc_id || ':1>',
      |   'http://example.com/doc/' || doc_id,
      |   CAST(octet_length(encode('embedded WARC/1.0' || (SELECT c FROM nl) || 'not a record')) AS BIGINT),
      |   'embedded WARC/1.0' || (SELECT c FROM nl) || 'not a record' FROM d
      |  UNION ALL
      |  SELECT doc_id, 2, 'metadata', '<urn:doc:' || doc_id || ':2>', NULL,
      |   CAST(octet_length(encode(p3)) AS BIGINT), p3 FROM d)""".stripMargin

  /** WARC record parsing ([[graft.sources.Warc.warc_records]] — the
    * Common Crawl container, ISO 28500): byte-true
    * Content-Length-driven record splitting, proven by the fixture's
    * three traps (multi-byte payload, embedded version line, absent
    * header). The oracle states the construction-inverse closed form;
    * adversarial non-fixture shapes (truncation, overrun lengths,
    * garbage tails) are pinned in WarcSpec. */
  private def qWarcParse = Q(
    (s, dir) => warcRecordRows(t(s, dir, "documents"), warcFixture),
    Some {
      s"""$warcSqlRecs
         | SELECT doc_id, rec_idx, warc_type, record_id, target_uri, content_length, payload
         | FROM recs ORDER BY doc_id, rec_idx""".stripMargin.replaceAll("\n", " ")
    })

  /** The WARC front door COMPOSED with the extraction chain: parse the
    * WARC file, keep `response` records, run the standard
    * tag-strip/entity-decode/whitespace-collapse over their payloads —
    * the first two stages of the canonical crawl pipeline
    * (WARC → extract → quality → dedup) certified end to end in one
    * hash. */
  private def qWarcExtractText = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(F.col("doc_id"),
          F.explode(graft.sources.Warc.warc_records(warcFixture)).as("r"))
        .filter(F.col("r.warc_type") === "response")
        .select(F.col("doc_id"),
          F.col("r.target_uri").as("target_uri"),
          graft.pipeline.HtmlExtract.visibleText(F.col("r.payload")).as("text"))
        .orderBy("doc_id")
    },
    Some {
      s"""$warcSqlRecs
         | SELECT doc_id, target_uri,
         |  ${visibleTextSql("payload")} AS text
         | FROM recs WHERE warc_type = 'response'
         | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    })

  /** The COMPRESSED front door ([[graft.functions.Gzip]]): each fixture
    * record is gzipped as its OWN member and the members concatenated —
    * the Common Crawl `.warc.gz` layout — then the multi-member
    * decompress and the byte-true parser recover exactly the
    * `warc_parse` output, so the oracle is shared verbatim. Compressed
    * bytes are never hashed (Deflater output is
    * implementation-dependent); the certified surface is the
    * round-trip, plus external-bytes interop pinned in GzipSpec. */
  private def qWarcGzRoundtrip = Q(
    (s, dir) => {
      val gz = F.concat(warcFixtureRecords.map(r =>
        graft.functions.Gzip.gzip_compress(r)): _*)
      warcRecordRows(t(s, dir, "documents"), graft.functions.Gzip.gzip_decompress(gz))
    },
    qWarcParse.oracle)

  /** BOUNDED-MEMORY WARC FILE INGESTION
    * ([[graft.sources.WarcFiles.readRecords]] — the file-scale front
    * door): the fixture records are written as REAL `.warc.gz` files
    * (one gzip member per record, the Common Crawl layout; one file
    * per hash partition) and read back through the record-streaming
    * binaryFile walk — peak memory bounded by the largest record, not
    * the file (pinned in WarcFilesSpec). doc/rec ids are recovered
    * from the WARC-Record-ID header, so the output — and the oracle —
    * is `warc_parse`'s verbatim: the expression path and the file
    * path are certified hash-identical. File writing is distributed
    * (foreachPartition appends to a local temp dir — the fixture
    * factory; production reads crawl files that already exist). */
  /** Write each row's gz bytes into one `.warc.gz` per partition under
    * a fresh temp dir — the fixture FACTORY for the file-ingestion
    * queries (production reads crawl files that already exist).
    * Distributed append (local[*] shares the filesystem); record order
    * inside a file is irrelevant — records parse independently and the
    * queries sort their output. */
  private def writeWarcGzFiles(df: DataFrame, gz: Column): String = {
    val abs = scratch("warcfiles_")
    new java.io.File(abs).mkdirs()
    // repartition BEFORE projecting the gzip bytes: below-the-exchange
    // projection would run every per-row compression on the (one-file)
    // scan's single task and then shuffle the compressed bytes; this
    // order shuffles the narrow source rows and compresses in parallel
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(gz.as("b"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val f = new java.io.FileOutputStream(s"$abs/part-$pid.warc.gz")
        try rows.foreach(r => f.write(r.getAs[Array[Byte]](0)))
        finally f.close()
      }
    abs
  }

  private def qWarcFileScan = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val gz = F.concat(warcFixtureRecords.map(r =>
        graft.functions.Gzip.gzip_compress(r)): _*)
      val abs = writeWarcGzFiles(docs, gz)
      val idPat = "<urn:doc:([0-9]+):([0-9]+)>"
      graft.sources.WarcFiles.readRecords(s, abs)
        .select(
          F.regexp_extract(F.col("record_id"), idPat, 1).cast("bigint").as("doc_id"),
          F.regexp_extract(F.col("record_id"), idPat, 2).cast("int").as("rec_idx"),
          F.col("warc_type"), F.col("record_id"), F.col("target_uri"),
          F.col("content_length"),
          // the record carries bytes only; the string view is derived
          // (column pruning keeps unconsumed views off the scan)
          graft.functions.Http.decodeWith(
            F.col("payload_bytes"), F.lit("utf-8")).as("payload"))
        .orderBy("doc_id", "rec_idx")
    },
    qWarcParse.oracle)

  /** WARC INGESTION AT ARRIVAL ([[graft.sources.WarcFiles.streamRecords]]):
    * the same record-streaming walk over a Structured Streaming
    * binaryFile source — crawl shards land, records stream out,
    * exactly-once per file via the source's file tracking; the walk is
    * stateless map-side work, so batch ≡ streamed record set and the
    * oracle is `warc_parse`'s verbatim. */
  private def qStreamingWarcFileScan = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val gz = F.concat(warcFixtureRecords.map(r =>
        graft.functions.Gzip.gzip_compress(r)): _*)
      val abs = writeWarcGzFiles(docs, gz)
      val idPat = "<urn:doc:([0-9]+):([0-9]+)>"
      Streams.toMemory(graft.sources.WarcFiles.streamRecords(s, abs)
        .select(
          F.regexp_extract(F.col("record_id"), idPat, 1).cast("bigint").as("doc_id"),
          F.regexp_extract(F.col("record_id"), idPat, 2).cast("int").as("rec_idx"),
          F.col("warc_type"), F.col("record_id"), F.col("target_uri"),
          F.col("content_length"),
          // the record carries bytes only; the string view is derived
          // (column pruning keeps unconsumed views off the scan)
          graft.functions.Http.decodeWith(
            F.col("payload_bytes"), F.lit("utf-8")).as("payload")))
        .orderBy("doc_id", "rec_idx")
    },
    qWarcParse.oracle)

  /** The HTTP-response fixture: each doc's `response` payload is a
    * FULL HTTP response (status line + headers + blank line + the
    * HTML), built from identical string expressions in both engines —
    * what a real Common Crawl response record carries. */
  private def warcHttpHead: String =
    "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n" +
      "X-Crawler: graft\r\n\r\n"

  /** HTTP header/body split composed into the extraction chain
    * ([[graft.functions.Http]]): WARC parse → keep responses → split
    * the HTTP payload (status, content-type, body) → tag-strip the
    * BODY only. Without the split, header lines leak into the
    * extracted text — the oracle replays the split itself
    * (strpos/substr/regexp on the payload), not just its fixture
    * constants, so the split arithmetic is what's certified. */
  private def qWarcHttpExtract = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val fixture = F.concat(
        warcRec("response", 0, uri = true,
          F.concat(F.lit(warcHttpHead), warcPayloadHtml)),
        warcRec("metadata", 1, uri = false, F.lit("not http")))
      import graft.functions.Http
      docs.select(F.col("doc_id"),
          F.explode(graft.sources.Warc.warc_records(fixture)).as("r"))
        .filter(F.col("r.warc_type") === "response")
        .select(F.col("doc_id"),
          F.col("r.target_uri").as("target_uri"),
          Http.httpStatus(F.col("r.payload")).as("status"),
          Http.httpContentType(F.col("r.payload")).as("content_type"),
          graft.pipeline.HtmlExtract.visibleText(
            Http.httpBody(F.col("r.payload"))).as("text"))
        .orderBy("doc_id")
    },
    Some {
      s"""WITH nl AS (SELECT chr(13) || chr(10) AS c),
         | sep AS (SELECT c || c AS s FROM nl),
         | recs AS (SELECT doc_id,
         |   'http://example.com/doc/' || doc_id AS target_uri,
         |   'HTTP/1.1 200 OK' || (SELECT c FROM nl) ||
         |   'Content-Type: text/html; charset=UTF-8' || (SELECT c FROM nl) ||
         |   'X-Crawler: graft' || (SELECT s FROM sep) ||
         |   '<p>Café: ' || substr(text, 1, 40) || ' &amp; more</p>' AS payload
         |  FROM documents),
         | sp AS (SELECT doc_id, target_uri,
         |   TRY_CAST(NULLIF(regexp_extract(payload, '^HTTP/[0-9.]+ ([0-9]{3})', 1), '') AS INTEGER) AS status,
         |   trim(regexp_extract(substr(payload, 1, strpos(payload, (SELECT s FROM sep)) - 1),
         |     '(?i)\\r\\ncontent-type:[ \\t]*([^\\r\\n]+)', 1)) AS content_type,
         |   substr(payload, strpos(payload, (SELECT s FROM sep)) + 4) AS body
         |  FROM recs)
         | SELECT doc_id, target_uri, status, content_type,
         |  ${visibleTextSql("body")} AS text
         | FROM sp ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    })

  /** CHUNKED TRANSFER-ENCODING decode ([[graft.functions.Http.dechunk]]):
    * a WARC response stores the RAW capture, so a chunked response's
    * body is still chunk-framed — text processing without reassembly
    * reads hex size lines as content. The fixture chunk-frames the
    * HTML (sizes in hex BYTES; the multi-byte `Café` chunk is the
    * byte-vs-char trap) with a chunk extension and a trailer; the
    * oracle is the construction INVERSE — it states the original
    * un-chunked HTML and replays the extraction chain on it, so any
    * dechunk drift (hex parse, byte slicing, CRLF framing, trailer
    * handling) fails the hash. */
  private def qWarcHttpDechunk = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val crlf = F.lit("\r\n")
      def hexLen(c: Column) =
        F.lower(F.hex(F.length(F.encode(c, "UTF-8"))))
      val c1 = F.concat(F.lit("<p>Café: "), F.substring(F.col("text"), 1, 30))
      val c2 = F.lit(" &amp; chunked tail</p>")
      val chunked = F.concat(
        hexLen(c1), F.lit(";ext=v"), crlf, c1, crlf,
        hexLen(c2), crlf, c2, crlf,
        F.lit("0"), crlf, F.lit("X-Trailer: t"), crlf, crlf)
      val payload = F.concat(F.lit(
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Transfer-Encoding: chunked\r\n\r\n"), chunked)
      val fixture = warcRec("response", 0, uri = true, payload)
      import graft.functions.Http
      docs.select(F.col("doc_id"),
          F.explode(graft.sources.Warc.warc_records(fixture)).as("r"))
        .select(F.col("doc_id"),
          F.col("r.target_uri").as("target_uri"),
          Http.httpStatus(F.col("r.payload")).as("status"),
          Http.httpTransferEncoding(F.col("r.payload")).as("transfer_encoding"),
          graft.pipeline.HtmlExtract.visibleText(
            Http.httpDecodedBody(F.col("r.payload"))).as("text"))
        .orderBy("doc_id")
    },
    Some {
      s"""WITH orig AS (SELECT doc_id,
         |   'http://example.com/doc/' || doc_id AS target_uri,
         |   '<p>Café: ' || substr(text, 1, 30) || ' &amp; chunked tail</p>' AS body
         |  FROM documents)
         | SELECT doc_id, target_uri, 200 AS status,
         |  'chunked' AS transfer_encoding,
         |  ${visibleTextSql("body")} AS text
         | FROM orig ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    })

  /** CHARSET-CORRECT DECODING ([[graft.sources.WarcFiles.readCrawlText]]
    * + [[graft.functions.Http.decodeWith]]): the fixture pages are
    * ISO-8859-1 — their accented bytes are INVALID UTF-8, so the old
    * utf-8-only path would emit U+FFFD mojibake; the charset chain
    * (Content-Type param → meta declaration → utf-8) must resolve and
    * decode them exactly. Records are built as raw BINARY (ASCII
    * envelope + latin-1 body, Content-Length counting latin-1 bytes)
    * and written as plain `.warc` files; the oracle states the
    * construction inverse — the original pre-encoding text — so the
    * whole bytes→charset→text path is what the hash certifies. */
  private def qWarcCharsetDecode = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val html = F.concat(F.lit("<p>Café mañana: "),
        F.substring(F.col("text"), 1, 30), F.lit("</p>"))
      val payloadBytes = F.concat(
        F.encode(F.lit("HTTP/1.1 200 OK\r\n" +
          "Content-Type: text/html; charset=ISO-8859-1\r\n\r\n"), "UTF-8"),
        F.encode(html, "ISO-8859-1"))
      val recBytes = F.concat(
        F.encode(F.concat(
          F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:doc:"),
          F.col("doc_id").cast("string"),
          F.lit(":0>\r\nWARC-Target-URI: http://example.com/doc/"),
          F.col("doc_id").cast("string"),
          F.lit("\r\nContent-Length: "),
          F.length(payloadBytes).cast("string"),
          F.lit("\r\n\r\n")), "UTF-8"),
        payloadBytes,
        F.encode(F.lit("\r\n\r\n"), "UTF-8"))
      val abs = writeWarcGzFiles(docs, recBytes)
      graft.sources.WarcFiles.readCrawlText(s, abs)
        .select(
          F.regexp_extract(F.col("target_uri"), "doc/([0-9]+)$", 1)
            .cast("bigint").as("doc_id"),
          F.col("status"), F.col("charset"), F.col("text"))
        .orderBy("doc_id")
    },
    Some {
      s"""WITH orig AS (SELECT doc_id,
         |   '<p>Café mañana: ' || substr(text, 1, 30) || '</p>' AS body
         |  FROM documents)
         | SELECT doc_id, 200 AS status, 'iso-8859-1' AS charset,
         |  ${visibleTextSql("body")} AS text
         | FROM orig ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    })

  /** One binary WARC `response` record with an explicit HTTP head and
    * RAW body bytes — the fixture builder for the envelope-layer
    * queries (gzip/deflate bodies are not valid UTF-8, so the string
    * [[warcRec]] cannot carry them). `Content-Length` counts the real
    * payload bytes (head + body). */
  private def warcRecBinary(idx: Int, httpHead: String, body: Column): Column = {
    val payloadBytes = F.concat(F.encode(F.lit(httpHead), "UTF-8"), body)
    F.concat(
      F.encode(F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:doc:"),
        F.col("doc_id").cast("string"),
        F.lit(s":$idx>\r\nWARC-Target-URI: http://example.com/doc/"),
        F.col("doc_id").cast("string"), F.lit(s"/$idx"),
        F.lit("\r\nContent-Length: "),
        F.length(payloadBytes).cast("string"),
        F.lit("\r\n\r\n")), "UTF-8"),
      payloadBytes,
      F.encode(F.lit("\r\n\r\n"), "UTF-8"))
  }

  /** HTTP CONTENT-CODING DECOMPRESSION
    * ([[graft.functions.Http.decodeContentCoding]] in
    * [[graft.sources.WarcFiles.readCrawlText]]): a WARC stores the
    * capture RAW, and a large share of real crawl responses carry
    * `Content-Encoding: gzip` intact — without this layer their pages
    * feed gzip bytes into extraction as SILENT garbage. The fixture
    * serves three envelope shapes per doc: a gzip content-coded body,
    * a `Transfer-Encoding: gzip, chunked` body (dechunk must run
    * FIRST, then the residual gzip transfer coding), and a `br` body —
    * un-decodable here, so its text must be NULL (the lenient
    * contract), never garbage. The oracle states the construction
    * inverse (the original pre-compression pages), so the whole
    * bytes→dechunk→decompress→charset→text path is what the hash
    * certifies. */
  private def qWarcContentEncoding = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val crlf = F.encode(F.lit("\r\n"), "UTF-8")
      val html0 = F.concat(F.lit("<p>Gzip café: "),
        F.substring(F.col("text"), 1, 30), F.lit(" &amp; coded</p>"))
      val html1 = F.concat(F.lit("<p>Chunk+gzip: "),
        F.substring(F.col("text"), 1, 25), F.lit("</p>"))
      val gz0 = graft.functions.Gzip.gzip_compress(html0)
      val gz1 = graft.functions.Gzip.gzip_compress(html1)
      // chunk-frame the COMPRESSED bytes: the capture order is
      // gzip-then-chunked, so decode must be dechunk-then-gunzip
      val chunked1 = F.concat(
        F.encode(F.lower(F.hex(F.length(gz1))), "UTF-8"), crlf,
        gz1, crlf,
        F.encode(F.lit("0\r\n\r\n"), "UTF-8"))
      val rec0 = warcRecBinary(0, "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        "Content-Encoding: gzip\r\n\r\n", gz0)
      val rec1 = warcRecBinary(1, "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        "Transfer-Encoding: gzip, chunked\r\n\r\n", chunked1)
      val rec2 = warcRecBinary(2, "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        "Content-Encoding: br\r\n\r\n",
        F.encode(F.lit("(opaque brotli bytes)"), "UTF-8"))
      val abs = writeWarcGzFiles(docs, F.concat(rec0, rec1, rec2))
      val uriPat = "doc/([0-9]+)/([0-9]+)$"
      graft.sources.WarcFiles.readCrawlText(s, abs)
        .select(
          F.regexp_extract(F.col("target_uri"), uriPat, 1).cast("bigint").as("doc_id"),
          F.regexp_extract(F.col("target_uri"), uriPat, 2).cast("int").as("rec_idx"),
          F.col("status"), F.col("content_encoding"), F.col("text"))
        .orderBy("doc_id", "rec_idx")
    },
    Some {
      s"""WITH d AS (SELECT doc_id,
         |   '<p>Gzip café: ' || substr(text, 1, 30) || ' &amp; coded</p>' AS b0,
         |   '<p>Chunk+gzip: ' || substr(text, 1, 25) || '</p>' AS b1
         |  FROM documents),
         | x AS (SELECT doc_id,
         |  ${visibleTextSql("b0")} AS t0,
         |  ${visibleTextSql("b1")} AS t1
         |  FROM d)
         | SELECT doc_id, 0 AS rec_idx, 200 AS status, 'gzip' AS content_encoding, t0 AS text FROM x
         | UNION ALL SELECT doc_id, 1, 200, 'gzip', t1 FROM x
         | UNION ALL SELECT doc_id, 2, 200, 'br', NULL FROM x
         | ORDER BY doc_id, rec_idx""".stripMargin.replaceAll("\n", " ")
    })

  /** BOM-DECLARED CHARSETS ([[graft.functions.Http.bomCharsetOf]] /
    * [[graft.functions.Http.stripBom]] in
    * [[graft.sources.WarcFiles.readCrawlText]]): per the WHATWG
    * encoding sniff a byte-order mark OUTRANKS every other charset
    * signal — a UTF-16 page's own meta tag cannot even be read before
    * decoding, and a BOM-stamped UTF-8 page served with a wrong header
    * charset decodes as mojibake if the header wins. The fixture
    * serves a UTF-16LE page (BOM, no header/meta declaration — only
    * the BOM can catch it) and a UTF-8-BOM page behind a LYING
    * `charset=ISO-8859-1` header; the oracle states the
    * construction-inverse text (multi-byte é trap included), so BOM
    * detection, precedence AND BOM stripping are what the hash
    * certifies. */
  private def qWarcCharsetBom = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val html16 = F.concat(F.lit("<p>Bom page: "),
        F.substring(F.col("text"), 1, 20), F.lit("</p>"))
      val body16 = F.concat(F.lit(Array(0xFF.toByte, 0xFE.toByte)),
        F.encode(html16, "UTF-16LE"))
      val rec0 = warcRecBinary(0,
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n", body16)
      val html8 = F.concat(F.lit("<p>Bom café: "),
        F.substring(F.col("text"), 1, 20), F.lit("</p>"))
      val body8 = F.concat(
        F.lit(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)),
        F.encode(html8, "UTF-8"))
      val rec1 = warcRecBinary(1, "HTTP/1.1 200 OK\r\n" +
        "Content-Type: text/html; charset=ISO-8859-1\r\n\r\n", body8)
      val abs = writeWarcGzFiles(docs, F.concat(rec0, rec1))
      val uriPat = "doc/([0-9]+)/([0-9]+)$"
      graft.sources.WarcFiles.readCrawlText(s, abs)
        .select(
          F.regexp_extract(F.col("target_uri"), uriPat, 1).cast("bigint").as("doc_id"),
          F.regexp_extract(F.col("target_uri"), uriPat, 2).cast("int").as("rec_idx"),
          F.col("charset"), F.col("text"))
        .orderBy("doc_id", "rec_idx")
    },
    Some {
      s"""WITH d AS (SELECT doc_id,
         |   '<p>Bom page: ' || substr(text, 1, 20) || '</p>' AS b0,
         |   '<p>Bom café: ' || substr(text, 1, 20) || '</p>' AS b1
         |  FROM documents),
         | x AS (SELECT doc_id,
         |  ${visibleTextSql("b0")} AS t0,
         |  ${visibleTextSql("b1")} AS t1
         |  FROM d)
         | SELECT doc_id, 0 AS rec_idx, 'utf-16le' AS charset, t0 AS text FROM x
         | UNION ALL SELECT doc_id, 1, 'utf-8', t1 FROM x
         | ORDER BY doc_id, rec_idx""".stripMargin.replaceAll("\n", " ")
    })

  /** THE PRODUCTION CRAWL PIPELINE END TO END
    * ([[graft.sources.WarcFiles.readCrawlText]]): real `.warc.gz`
    * files whose response payloads carry full HTTP envelopes →
    * record-streaming file walk → keep responses → HTTP split → HTML
    * extraction, in one call — the exact chain a Common Crawl user
    * runs. doc ids recover from the target URI; the oracle is
    * `warc_http_extract`'s verbatim, so file ingestion + split +
    * extraction are certified together in one hash. */
  private def qWarcFileHttpExtract = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val gz = F.concat(
        graft.functions.Gzip.gzip_compress(warcRec("response", 0, uri = true,
          F.concat(F.lit(warcHttpHead), warcPayloadHtml))),
        graft.functions.Gzip.gzip_compress(warcRec("metadata", 1, uri = false,
          F.lit("not http"))))
      val abs = writeWarcGzFiles(docs, gz)
      graft.sources.WarcFiles.readCrawlText(s, abs)
        .select(
          F.regexp_extract(F.col("target_uri"), "doc/([0-9]+)$", 1)
            .cast("bigint").as("doc_id"),
          F.col("target_uri"), F.col("status"), F.col("content_type"),
          F.col("text"))
        .orderBy("doc_id")
    },
    qWarcHttpExtract.oracle)

  /** THE COMPLIANT CRAWL CURATION PIPELINE IN ONE HASH: real
    * `.warc.gz` shards → [[graft.sources.WarcFiles.readCrawlText]]
    * (file walk + HTTP split + CHUNKED reassembly + CONTENT-CODING
    * decompression + extraction + meta-robots) → quality gate →
    * noindex drop → robots.txt filter → domain blocklist → exact text
    * dedup → keeper election. The fixture plants every hazard the
    * stages exist for: each doc is crawled THREE times (a CDN url with
    * a plain response, a mirror url whose response is CHUNK-FRAMED,
    * and a gz url whose response is `Content-Encoding: gzip` — so
    * dedup collapses the triple ONLY if dechunk AND gunzip reproduce
    * the bytes exactly), every 50th doc is an ad stub (dropped by the
    * quality gate), every 25th doc's CDN page carries `<meta
    * name=robots content=noindex>` (dropped by the compliance gate,
    * surviving via its mirrors), `example.org`'s robots.txt disallows
    * mirror paths ending in 0 via a glob+anchor rule (`Disallow:
    * /mirror/` + `*0$`), and the `src2` CDN host is blocklisted. The
    * oracle replays the whole composition from the construction
    * inverse: any drift in any stage — framing, decompression, split,
    * extraction, thresholding, precedence, host matching, keeper tie
    * order — fails the hash. */
  /** The shared fixture + pipeline of `crawl_curation_e2e` and
    * `crawl_to_corpus_shards`: write the 3-captures-per-doc `.warc.gz`
    * shards, run the full compliant front door, return the deduped
    * `(url, text)` keeper table (unordered). */
  private def crawlCuratedDocs(s: SparkSession, dir: String): DataFrame = {
      val docs = t(s, dir, "documents")
      val crlf = F.lit("\r\n")
      def hexLen(c: Column) = F.lower(F.hex(F.length(F.encode(c, "UTF-8"))))
      val html = F.when(F.col("doc_id") % 50 === 0, F.lit("<p>ad</p>"))
        .otherwise(F.concat(F.lit("<p>Café: "),
          F.substring(F.col("text"), 1, 40), F.lit(" &amp; mirrored</p>")))
      // the noindex meta strips to NOTHING in extraction, so the CDN
      // page's TEXT stays identical to its mirrors' — only the
      // compliance column can tell them apart
      val cdnHtml = F.concat(
        F.when(F.col("doc_id") % 25 === 0,
          F.lit("<head><meta name=\"robots\" content=\"noindex\"></head>"))
          .otherwise(F.lit("")), html)
      val cdnUri = F.concat(F.lit("http://cdn."), F.col("source"),
        F.lit(".example.com/p/"), F.col("doc_id").cast("string"))
      val mirrorUri = F.concat(F.lit("http://example.org/mirror/"),
        F.col("doc_id").cast("string"))
      val gzUri = F.concat(F.lit("http://example.org/gz/"),
        F.col("doc_id").cast("string"))
      val plainPayload = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), cdnHtml)
      val chunkedPayload = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Transfer-Encoding: chunked\r\n\r\n"),
        hexLen(html), crlf, html, crlf, F.lit("0"), crlf, crlf)
      // the gz capture's body is BINARY (gzip bytes), so its record is
      // built byte-wise and member-wrapped with the binary compressor
      val gzBody = graft.functions.Gzip.gzip_compress(html)
      val gzPayload = F.concat(
        F.encode(F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Content-Encoding: gzip\r\n\r\n"), "UTF-8"), gzBody)
      val gzRec = F.concat(
        F.encode(F.concat(
          F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:doc:"),
          F.col("doc_id").cast("string"),
          F.lit(":2>\r\nWARC-Target-URI: "), gzUri,
          F.lit("\r\nContent-Length: "), F.length(gzPayload).cast("string"),
          F.lit("\r\n\r\n")), "UTF-8"),
        gzPayload, F.encode(F.lit("\r\n\r\n"), "UTF-8"))
      val gz = F.concat(
        graft.functions.Gzip.gzip_compress(
          warcRecWithUri("response", 0, cdnUri, plainPayload)),
        graft.functions.Gzip.gzip_compress(
          warcRecWithUri("response", 1, mirrorUri, chunkedPayload)),
        graft.functions.Gzip.gzip_compress_bytes(gzRec))
      val abs = writeWarcGzFiles(docs, gz)
      val bl = s.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row("cdn.src2.example.com")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("domain",
            org.apache.spark.sql.types.StringType))))
      val robots = s.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row("example.org",
          "User-agent: *\nDisallow: /mirror/*0$\n")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("host",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("txt",
            org.apache.spark.sql.types.StringType))))
      val extracted = graft.sources.WarcFiles.readCrawlText(s, abs)
        .filter(F.col("status") === 200 && F.length(F.col("text")) >= 10 &&
          !F.col("noindex"))
      val compliant = graft.pipeline.Urls
        .filterRobotsDisallowed(extracted, "target_uri", robots, "host", "txt")
      graft.pipeline.Urls
        .filterBlockedDomains(compliant, "target_uri", bl, "domain")
        .groupBy("text").agg(F.min("target_uri").as("url"))
        .select("url", "text")
  }

  /** The construction-inverse CTE chain shared by the two crawl-arc
    * oracles: `ub` holds the surviving (text, url) capture rows. */
  private def crawlCurationCtes: String =
    s"""WITH d AS (SELECT doc_id, source,
       |   CASE WHEN doc_id % 50 = 0 THEN '<p>ad</p>'
       |    ELSE '<p>Café: ' || substr(text, 1, 40) || ' &amp; mirrored</p>' END AS html
       |  FROM documents),
       | x AS (SELECT doc_id, source,
       |   ${visibleTextSql("html", "     ")} AS text
       |  FROM d),
       | urls AS (
       |  SELECT text, 'http://cdn.' || source || '.example.com/p/' || doc_id AS url
       |   FROM x WHERE doc_id % 25 <> 0
       |  UNION ALL
       |  SELECT text, 'http://example.org/mirror/' || doc_id FROM x WHERE doc_id % 10 <> 0
       |  UNION ALL
       |  SELECT text, 'http://example.org/gz/' || doc_id FROM x),
       | q AS (SELECT * FROM urls WHERE length(text) >= 10),
       | ub AS (SELECT * FROM q WHERE url NOT LIKE 'http://cdn.src2.example.com/%')""".stripMargin

  private def qCrawlCurationE2e = Q(
    (s, dir) => crawlCuratedDocs(s, dir).orderBy("url"),
    Some {
      s"""$crawlCurationCtes
         | SELECT min(url) AS url, text FROM ub GROUP BY text
         | ORDER BY url""".stripMargin.replaceAll("\n", " ")
    })

  /** CRAWL → TRAINING SHARDS, THE WHOLE ARC IN ONE HASH: the compliant
    * curation pipeline of `crawl_curation_e2e` (file walk + envelope
    * decode + extraction + quality/noindex/robots/blocklist + dedup)
    * composed with the deterministic corpus shard sink
    * ([[graft.pipeline.CorpusSink]]) and its read-back manifest
    * verification — crawl bytes in, verified training shards out, the
    * exact end-to-end a pretraining data job runs. The oracle replays
    * BOTH halves from the construction inverse: the keeper set, then
    * the md5 shard assignment and per-shard BIT_XOR content digest
    * over `url \\t text` lines. */
  private def qCrawlToCorpusShards = Q(
    (s, dir) => {
      val curated = crawlCuratedDocs(s, dir)
      val path = scratch("crawl_shards_")
      val line = F.concat(F.col("url"), F.lit("\t"), F.col("text"))
      graft.pipeline.CorpusSink.writeCorpusShards(curated, line, F.col("url"), path, 8)
      graft.pipeline.CorpusSink.verifyShards(s, path)
        .orderBy("shard")
    },
    Some {
      s"""$crawlCurationCtes,
         | curated AS (SELECT min(url) AS url, text FROM ub GROUP BY text),
         | l AS (SELECT url || chr(9) || text AS line,
         |   CAST('0x' || substr(md5('shuffle:' || url), 9, 4) AS INTEGER) % 8 AS shard
         |  FROM curated)
         | SELECT shard, count(*) AS n_rows,
         |  bit_xor(CAST('0x' || substr(md5(line), 1, 14) AS BIGINT)) AS digest,
         |  true AS manifest_match
         | FROM l GROUP BY shard ORDER BY shard""".stripMargin.replaceAll("\n", " ")
    })

  /** ROBOTS.TXT COMPLIANCE ([[graft.pipeline.Urls.filterRobotsDisallowed]]):
    * crawl-level opt-out under the standard RFC 9309 §2.2.2 precedence
    * — among all matching rules the LONGEST pattern wins and `Allow`
    * wins ties, so real-world carve-outs (`Allow: /public/` under
    * `Disallow: /`) keep their pages (the page-level sibling is
    * `html_meta_policy`'s noindex). The fixture robots bodies carry
    * the parser traps (another UA's `Disallow: /` that must be
    * IGNORED, comments, a prefix that matches mid-segment, an
    * allow-all empty Disallow for one host), the glob traps
    * (trailing/mid `*`, query matching, `$` anchor) AND the precedence
    * traps: an Allow carve-out that out-lengths its Disallow, an
    * equal-length Allow/Disallow tie (Allow must win), and a SHORT
    * Allow that must LOSE to a longer Disallow. The oracle states the
    * construction-inverse keep set. Rules parse map-only on the tiny
    * robots side; host-equality broadcast join; bounded per-row
    * walk. */
  private def qRobotsUrlFilter = Q(
    (s, dir) => {
      val id = F.col("doc_id").cast("string")
      val m4 = (F.col("doc_id") % 4).cast("int")
      val path = F.when(m4 === 0, F.concat(F.lit("/private/p"), id))
        .when(m4 === 1, F.concat(F.lit("/p/"), id,
          F.when(F.col("doc_id") % 5 === 0,
            F.concat(F.lit("?sid="), id)).otherwise(F.lit(""))))
        .when(m4 === 2, F.concat(F.lit("/tmp"), id))
        .otherwise(F.concat(F.lit("/cart/"), id, F.lit("/checkout")))
      val docs = t(s, dir, "documents").select(F.col("doc_id"),
        F.concat(F.lit("https://cdn."), F.col("source"),
          F.lit(".example.com"), path).as("url"))
      // each host's policy arrives as TWO captures (real robots
      // datasets carry refetches — the rule lists must union).
      // Precedence traps: `Allow: /private/p1` (11) out-lengths
      // `Disallow: /private/*` (10) → ids starting '1' carved back in;
      // `Allow: /tmp42` ties `Disallow: /tmp42` (6=6, Allow wins) →
      // ids starting '42' kept; `Allow: /cart/` (6) LOSES to
      // `Disallow: /cart/*/checkout` (16) → cart paths stay dropped.
      val bodyA = "# site policy\nUser-agent: evilbot\nDisallow: /\n\n" +
        "User-agent: *\nDisallow: /private/* # members\nDisallow: /tmp\n" +
        "Allow: /private/p1\n"
      val bodyB = "User-agent: *\nDisallow: /cart/*/checkout\nAllow: /cart/\n" +
        "Disallow: /*?sid=\nDisallow: /p/9$\n" +
        "Allow: /tmp42\nDisallow: /tmp42\n"
      val robots = t(s, dir, "documents").select(F.col("source")).distinct()
        .select(
          F.concat(F.lit("cdn."), F.col("source"), F.lit(".example.com")).as("host"),
          F.explode(F.when(F.col("source") === "src3",
              F.array(F.lit("User-agent: *\nDisallow:\n")))
            .otherwise(F.array(F.lit(bodyA), F.lit(bodyB)))).as("txt"))
      graft.pipeline.Urls
        .filterRobotsDisallowed(docs, "url", robots, "host", "txt")
        .orderBy("doc_id")
    },
    Some("""WITH u AS (SELECT doc_id, source,
           |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '/private/p' || doc_id
           |   WHEN 1 THEN '/p/' || doc_id ||
           |    (CASE WHEN doc_id % 5 = 0 THEN '?sid=' || doc_id ELSE '' END)
           |   WHEN 2 THEN '/tmp' || doc_id
           |   ELSE '/cart/' || doc_id || '/checkout' END AS path
           | FROM documents)
           | SELECT doc_id, 'https://cdn.' || source || '.example.com' || path AS url
           | FROM u WHERE source = 'src3'
           |  OR (doc_id % 4 = 1 AND doc_id <> 9 AND doc_id % 5 <> 0)
           |  OR (doc_id % 4 = 0 AND CAST(doc_id AS VARCHAR) LIKE '1%')
           |  OR (doc_id % 4 = 2 AND CAST(doc_id AS VARCHAR) LIKE '42%')
           | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** CURATED-CORPUS SINK ROUND TRIP
    * ([[graft.pipeline.CorpusSink.writeCorpusShards]]): the last mile
    * between curation and a training job — deterministic md5-keyed
    * sharding + within-shard order ([[Sampling.deterministicShuffle]])
    * to gzip text shards with a JSON manifest (per-shard row count +
    * order-independent content digest), then
    * [[graft.pipeline.CorpusSink.verifyShards]] recomputes both FROM
    * THE WRITTEN FILES and compares. The oracle replays the shard
    * assignment (md5 hex arithmetic) and the digest (BIT_XOR of each
    * line's md5-prefix BIGINT) from the construction inverse, and
    * states `manifest_match = true` — so write, compress, manifest,
    * read-back and digest are certified together in one hash. */
  private def qCorpusShardSink = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val path = scratch("corpus_sink_")
      val line = F.concat(F.col("doc_id").cast("string"), F.lit("\t"), F.col("text"))
      graft.pipeline.CorpusSink.writeCorpusShards(
        docs, line, F.col("doc_id"), path, 8)
      graft.pipeline.CorpusSink.verifyShards(s, path).orderBy("shard")
    },
    Some("""WITH l AS (SELECT CAST(doc_id AS VARCHAR) || chr(9) || text AS line,
           |   CAST('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)), 9, 4) AS INTEGER) % 8 AS shard
           |  FROM documents)
           | SELECT shard, count(*) AS n_rows,
           |  bit_xor(CAST('0x' || substr(md5(line), 1, 14) AS BIGINT)) AS digest,
           |  true AS manifest_match
           | FROM l GROUP BY shard ORDER BY shard""".stripMargin.replaceAll("\n", " ")))

  /** SITEMAP DISCOVERY ([[graft.pipeline.Urls.robots_sitemaps]]):
    * `Sitemap:` lines are GLOBAL robots.txt directives (sitemaps.org;
    * RFC 9309 other-records) — valid anywhere in the file, any case,
    * independent of user-agent groups — and are how a crawler seeds a
    * site's URL frontier. The fixture plants them across group
    * boundaries and case spellings; both engines run the identical
    * regexp, so extraction is certified end to end. Map-only. */
  private def qRobotsSitemaps = Q(
    (s, dir) => {
      val body = F.concat(
        F.lit("User-agent: evilbot\nDisallow: /\nSitemap: https://"),
        F.col("source"), F.lit(".example.com/sitemap.xml\n" +
          "User-agent: *\nDisallow: /tmp\n# comment line\nSITEMAP: https://"),
        F.col("source"), F.lit(".example.com/news/sitemap-"),
        (F.col("doc_id") % 3).cast("string"), F.lit(".xml.gz\n"))
      t(s, dir, "documents").select(F.col("doc_id"),
          F.explode(graft.pipeline.Urls.robots_sitemaps(body)).as("sitemap"))
        .orderBy("doc_id", "sitemap")
    },
    Some("""WITH b AS (SELECT doc_id,
           |  'User-agent: evilbot' || chr(10) || 'Disallow: /' || chr(10) ||
           |  'Sitemap: https://' || source || '.example.com/sitemap.xml' || chr(10) ||
           |  'User-agent: *' || chr(10) || 'Disallow: /tmp' || chr(10) ||
           |  '# comment line' || chr(10) ||
           |  'SITEMAP: https://' || source || '.example.com/news/sitemap-' ||
           |  CAST(doc_id % 3 AS VARCHAR) || '.xml.gz' || chr(10) AS txt
           | FROM documents)
           | SELECT doc_id, unnest(regexp_extract_all(txt,
           |  '(?im)^\s*sitemap\s*:\s*(\S+)', 1)) AS sitemap
           | FROM b ORDER BY doc_id, sitemap""".stripMargin.replaceAll("\n", " ")))

  /** CRAWL COMPLIANCE + CHARSET METADATA
    * ([[HtmlExtract.metaRobots]]/[[HtmlExtract.robotsNoindex]]/
    * [[HtmlExtract.metaCharset]] + [[graft.functions.Http.charsetOf]]):
    * a compliant pipeline drops `noindex`/`none` pages BEFORE any
    * content use, and charset resolution (header param, then meta
    * declaration) decides how payload bytes decode. The fixture
    * rotates the real-world spellings — attribute order reversed,
    * case-folded directive lists, single vs double quotes, HTML5
    * `<meta charset>` vs `http-equiv`, absent declarations — and the
    * oracle states the construction inverse, so the extraction rules
    * themselves are what the hash certifies. Map-only regexp columns. */
  private def qHtmlMetaPolicy = Q(
    (s, dir) => {
      val m4 = F.col("doc_id") % 4
      val robotsMeta = F.when(m4 === 0,
          F.lit("<meta name=\"robots\" content=\"noindex, follow\">"))
        .when(m4 === 1, F.lit("<meta content=\"INDEX, FOLLOW\" name=\"robots\">"))
        .when(m4 === 2, F.lit(""))
        .otherwise(F.lit("<meta name='robots' content='none'>"))
      val charsetMeta = F.when(m4 === 0, F.lit("<meta charset=\"utf-8\">"))
        .when(m4 === 1, F.lit(
          "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=ISO-8859-1\">"))
        .when(m4 === 2, F.lit("<meta charset='Windows-1252'>"))
        .otherwise(F.lit(""))
      val html = F.concat(F.lit("<html><head>"), robotsMeta, charsetMeta,
        F.lit("</head><body><p>"), F.substring(F.col("text"), 1, 20),
        F.lit("</p></body></html>"))
      val ct = F.when(F.col("doc_id") % 2 === 0,
          F.lit("text/html; charset=UTF-8"))
        .otherwise(F.lit("text/plain"))
      t(s, dir, "documents").select(F.col("doc_id"),
          HtmlExtract.metaRobots(html).as("robots"),
          HtmlExtract.robotsNoindex(html).as("noindex"),
          HtmlExtract.metaCharset(html).as("charset"),
          graft.functions.Http.charsetOf(ct).as("header_charset"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           | CASE doc_id % 4 WHEN 0 THEN 'noindex, follow' WHEN 1 THEN 'index, follow'
           |  WHEN 3 THEN 'none' END AS robots,
           | (doc_id % 4 = 0 OR doc_id % 4 = 3) AS noindex,
           | CASE doc_id % 4 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'iso-8859-1'
           |  WHEN 2 THEN 'windows-1252' END AS charset,
           | CASE WHEN doc_id % 2 = 0 THEN 'utf-8' END AS header_charset
           | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Deterministic synthetic web page for the HTML-extraction family:
    * the documents table rendered as a page with the canonical
    * boilerplate anatomy — nav, headline, two body paragraphs (the doc
    * text halved, one with an inline `<b>` and entity), a share bar, an
    * ad block, a footer. Built from the SAME string expressions in both
    * engines, so extraction is oracle-checked end to end on content the
    * classifier must actually separate. */
  private def syntheticHtml: Column = {
    val text = F.col("text")
    val half = F.floor(F.length(text) / F.lit(2)).cast("int")
    val p1 = F.replace(text.substr(F.lit(1), half),
      F.lit(" merge "), F.lit(" <b>merge</b> "))
    val p2 = text.substr(half + 1, F.length(text))
    F.concat(
      F.lit("<html><head><title>doc "), F.col("doc_id").cast("string"),
      F.lit("</title></head><body>"),
      F.lit("<nav><a href=\"/\">Home</a> <a href=\"/t/"), F.col("lang"),
      F.lit("\">"), F.col("lang"), F.lit("</a> <a href=\"/c\">Contact</a></nav>"),
      F.lit("<h1>"), F.upper(text.substr(F.lit(1), F.lit(20))), F.lit("</h1>"),
      F.lit("<p>"), p1, F.lit("</p>"),
      F.lit("<div class=\"share\">Share <a href=\"/s\">this</a> <a href=\"/x\">now</a></div>"),
      F.lit("<p>"), p2, F.lit("</p>"),
      F.lit("<div class=\"ad\">Buy now &amp; save! <a href=\"/buy\">Click here</a> <a href=\"/deal\">deal</a></div>"),
      F.lit("<footer>Copyright 2024 Example Corp&nbsp;<a href=\"/tos\">Terms</a> <a href=\"/privacy\">Privacy</a></footer>"),
      F.lit("</body></html>"))
  }

  /** The same page construction in DuckDB SQL (`h` CTE: doc_id, source,
    * html), shared by the three HTML oracles. */
  private def htmlFixtureCte: String =
    """h AS (SELECT doc_id, source,
      | '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) || '</title></head><body>'
      | || '<nav><a href="/">Home</a> <a href="/t/' || lang || '">' || lang || '</a> <a href="/c">Contact</a></nav>'
      | || '<h1>' || upper(substr(text, 1, 20)) || '</h1>'
      | || '<p>' || replace(substr(text, 1, CAST(floor(len(text) / 2) AS INT)), ' merge ', ' <b>merge</b> ') || '</p>'
      | || '<div class="share">Share <a href="/s">this</a> <a href="/x">now</a></div>'
      | || '<p>' || substr(text, CAST(floor(len(text) / 2) AS INT) + 1, len(text)) || '</p>'
      | || '<div class="ad">Buy now &amp; save! <a href="/buy">Click here</a> <a href="/deal">deal</a></div>'
      | || '<footer>Copyright 2024 Example Corp&nbsp;<a href="/tos">Terms</a> <a href="/privacy">Privacy</a></footer>'
      | || '</body></html>' AS html
      | FROM documents)""".stripMargin.replaceAll("\n", " ")

  /** The block feature/classification pipeline in DuckDB SQL on top of
    * [[htmlFixtureCte]] — mirrors [[HtmlExtract.blocks]] expression by
    * expression (tag split, strip, entity chain, word/stopword/link
    * features, threshold rule, per-doc rank). */
  private def htmlBlocksCtes: String =
    s"""WITH $htmlFixtureCte,
       | sp AS (SELECT doc_id, source, string_split_regex(html,
       |   '(?i)</?(?:p|div|h[1-6]|li|ul|ol|nav|header|footer|aside|article|section|table|tr|td|blockquote|br|body|html|head|title)\\b[^>]*>') AS segs FROM h),
       | sg AS (SELECT doc_id, source,
       |   unnest(list_transform(generate_series(1, len(segs)), i -> {'pos': i, 'seg': segs[i]})) AS s FROM sp),
       | sg2 AS (SELECT doc_id, source, s.pos AS pos, s.seg AS seg FROM sg),
       | f AS (SELECT doc_id, source, pos,
       |   ${visibleTextSql("seg", "     ")} AS text,
       |   regexp_extract_all(seg, '(?i)<a\\b[^>]*>(.*?)</a>', 1) AS links
       |  FROM sg2),
       | g AS (SELECT doc_id, source, pos, text,
       |   list_filter(string_split(text, ' '), w -> len(w) > 0) AS words, links
       |  FROM f WHERE len(text) > 0),
       | feats AS (SELECT doc_id, source, pos, text,
       |   CAST(len(text) AS BIGINT) AS n_chars,
       |   CAST(len(words) AS BIGINT) AS n_words,
       |   CAST(len(list_filter(words, w -> list_contains(['the','a','an','and','of','to','in','is','on','for','with','as','by','at','it'], w))) AS BIGINT) AS stop_words,
       |   CAST(coalesce(list_sum(list_transform(links, x -> len(trim(regexp_replace(x, '<[^>]*>', ' ', 'g'))))), 0) AS BIGINT) AS link_chars
       |  FROM g),
       | blk AS (SELECT doc_id, source, text, n_chars, n_words, stop_words, link_chars,
       |   CAST(link_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) AS link_density,
       |   CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS block_idx,
       |   CASE WHEN n_words >= 10 AND CAST(link_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) <= 0.25
       |     THEN 'content' ELSE 'boilerplate' END AS label
       |  FROM feats)""".stripMargin.replaceAll("\n", " ")

  /** Per-block boilerplate classification ([[HtmlExtract.blocks]]) over
    * the synthetic page fixture: every block of every page with its
    * exact features and content/boilerplate label. */
  private def qHtmlBlockClassify = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").select(F.col("doc_id"), F.col("lang"),
        F.col("text"), F.col("source"))
      HtmlExtract.blocks(docs.withColumn("html", syntheticHtml), "html", Seq("doc_id"))
        .orderBy("doc_id", "block_idx")
    },
    Some(s"""$htmlBlocksCtes
            | SELECT doc_id, block_idx, text, n_chars, n_words, stop_words, link_chars, link_density, label
            | FROM blk ORDER BY doc_id, block_idx""".stripMargin.replaceAll("\n", " ")))

  /** Extracted training text ([[HtmlExtract.extractText]]): content
    * blocks concatenated in page order, one row per page that kept
    * any — the input the c4/Gopher/dedup families consume. */
  private def qHtmlExtractText = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").select(F.col("doc_id"), F.col("lang"),
        F.col("text"), F.col("source"))
      HtmlExtract.extractText(docs.withColumn("html", syntheticHtml), "html", Seq("doc_id"))
        .orderBy("doc_id")
    },
    Some(s"""$htmlBlocksCtes
            | SELECT doc_id, text, n_blocks, CAST(len(text) AS BIGINT) AS n_chars FROM (
            |   SELECT doc_id, string_agg(text, ' ' ORDER BY block_idx) AS text,
            |     CAST(count(*) AS BIGINT) AS n_blocks
            |   FROM blk WHERE label = 'content' GROUP BY doc_id)
            | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Corpus-level boilerplate audit: per source, how many chars the
    * extractor kept vs dropped — the yield report a crawl-curation run
    * reads before committing to an extraction config. */
  private def qHtmlBoilerplateRate = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").select(F.col("doc_id"), F.col("lang"),
        F.col("text"), F.col("source"))
      HtmlExtract.blocks(docs.withColumn("html", syntheticHtml), "html",
          Seq("doc_id", "source"))
        .groupBy("source")
        .agg(
          F.sum(F.when(F.col("label") === "content", F.col("n_chars"))
            .otherwise(F.lit(0L))).as("content_chars"),
          F.sum(F.when(F.col("label") === "boilerplate", F.col("n_chars"))
            .otherwise(F.lit(0L))).as("boiler_chars"),
          F.count(F.lit(1)).as("n_blocks"))
        .withColumn("boiler_share", F.col("boiler_chars").cast("double") /
          (F.col("content_chars") + F.col("boiler_chars")).cast("double"))
        .orderBy("source")
    },
    Some(s"""$htmlBlocksCtes
            | SELECT source,
            |  CAST(sum(CASE WHEN label = 'content' THEN n_chars ELSE 0 END) AS BIGINT) AS content_chars,
            |  CAST(sum(CASE WHEN label = 'boilerplate' THEN n_chars ELSE 0 END) AS BIGINT) AS boiler_chars,
            |  CAST(count(*) AS BIGINT) AS n_blocks,
            |  CAST(sum(CASE WHEN label = 'boilerplate' THEN n_chars ELSE 0 END) AS DOUBLE)
            |    / CAST(sum(n_chars) AS DOUBLE) AS boiler_share
            | FROM blk GROUP BY source ORDER BY source""".stripMargin.replaceAll("\n", " ")))

  /** Numeric HTML character references
    * ([[graft.functions.HtmlEntities.decodeNumericEntities]] +
    * [[HtmlExtract.visibleText]]): both engines build the same hostile
    * fragment — decimal/hex/uppercase-X forms, a per-row varying code,
    * astral-plane, BOTH double-decode traps (`&amp;#39;` — named amp
    * decodes last; and `&#38;#39;` — numeric-decode recombination,
    * which stays a literal `&#39;` because the named chain carries no
    * `&#39;` entry), and every
    * invalid shape (code 0, surrogate, out-of-range, digit-cap
    * overflow, missing semicolon) — and must decode it identically,
    * raw (`dec_raw`) and through the full extraction chain (`text`).
    * The Spark side is ONE native codegen'd pass; the oracle replays
    * the contract with split-on-`&#` + anchored regex + `chr`. */
  private def qHtmlNumericEntities = Q(
    (s, dir) => {
      val frag = F.concat(
        F.lit("<p>A&#39;B &#x2019; &#X2019; c&#169;d &#x1F600; &#128512; "),
        F.lit("&#0; &#xD800; &#55296; &#1114112; &#x0010FFFF; &#00000039; "),
        F.lit("&#12 &#x1F &#; x&#"),
        (F.col("doc_id") % 10 + 33).cast("string"),
        F.lit("; &amp;#39; &#38;#39; &#1114111;</p>"))
      t(s, dir, "documents")
        .select(F.col("doc_id"),
          graft.functions.HtmlEntities.decodeNumericEntities(frag).as("dec_raw"),
          HtmlExtract.visibleText(frag).as("text"))
        .orderBy("doc_id")
    },
    Some(s"""WITH u AS (SELECT doc_id,
           |   '<p>A&#39;B &#x2019; &#X2019; c&#169;d &#x1F600; &#128512; '
           |   || '&#0; &#xD800; &#55296; &#1114112; &#x0010FFFF; &#00000039; '
           |   || '&#12 &#x1F &#; x&#' || CAST(doc_id % 10 + 33 AS VARCHAR)
           |   || '; &amp;#39; &#38;#39; &#1114111;</p>' AS frag FROM documents),
           | strip AS (SELECT doc_id, frag, regexp_replace(frag, '<[^>]*>', ' ', 'g') AS st FROM u),
           | dec AS (SELECT doc_id, frag,
           |   list_aggregate(list_transform(string_split(frag, '&#'), (e, i) ->
           |    CASE WHEN i = 1 THEN e
           |     WHEN regexp_matches(e, '^[0-9]{1,7};')
           |      AND CAST(regexp_extract(e, '^([0-9]{1,7});', 1) AS BIGINT) BETWEEN 1 AND 1114111
           |      AND NOT (CAST(regexp_extract(e, '^([0-9]{1,7});', 1) AS BIGINT) BETWEEN 55296 AND 57343)
           |     THEN chr(CAST(regexp_extract(e, '^([0-9]{1,7});', 1) AS INT)) || regexp_replace(e, '^[0-9]{1,7};', '')
           |     WHEN regexp_matches(e, '^[xX][0-9a-fA-F]{1,6};')
           |      AND CAST('0x' || regexp_extract(e, '^[xX]([0-9a-fA-F]{1,6});', 1) AS BIGINT) BETWEEN 1 AND 1114111
           |      AND NOT (CAST('0x' || regexp_extract(e, '^[xX]([0-9a-fA-F]{1,6});', 1) AS BIGINT) BETWEEN 55296 AND 57343)
           |     THEN chr(CAST('0x' || regexp_extract(e, '^[xX]([0-9a-fA-F]{1,6});', 1) AS INT)) || regexp_replace(e, '^[xX][0-9a-fA-F]{1,6};', '')
           |     ELSE '&#' || e END), 'string_agg', '') AS dec_raw,
           |   list_aggregate(list_transform(string_split(st, '&#'), (e, i) ->
           |    CASE WHEN i = 1 THEN e
           |     WHEN regexp_matches(e, '^[0-9]{1,7};')
           |      AND CAST(regexp_extract(e, '^([0-9]{1,7});', 1) AS BIGINT) BETWEEN 1 AND 1114111
           |      AND NOT (CAST(regexp_extract(e, '^([0-9]{1,7});', 1) AS BIGINT) BETWEEN 55296 AND 57343)
           |     THEN chr(CAST(regexp_extract(e, '^([0-9]{1,7});', 1) AS INT)) || regexp_replace(e, '^[0-9]{1,7};', '')
           |     WHEN regexp_matches(e, '^[xX][0-9a-fA-F]{1,6};')
           |      AND CAST('0x' || regexp_extract(e, '^[xX]([0-9a-fA-F]{1,6});', 1) AS BIGINT) BETWEEN 1 AND 1114111
           |      AND NOT (CAST('0x' || regexp_extract(e, '^[xX]([0-9a-fA-F]{1,6});', 1) AS BIGINT) BETWEEN 55296 AND 57343)
           |     THEN chr(CAST('0x' || regexp_extract(e, '^[xX]([0-9a-fA-F]{1,6});', 1) AS INT)) || regexp_replace(e, '^[xX][0-9a-fA-F]{1,6};', '')
           |     ELSE '&#' || e END), 'string_agg', '') AS numdec
           |  FROM strip)
           | SELECT doc_id, dec_raw,
           |  ${entityDecodeSql("numdec")} AS text
           | FROM dec ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** PRODUCTION-VOCABULARY BPE encoding
    * ([[TextAnalysis.bpeSegmentNative]], the native
    * [[graft.functions.BpeEncodeTokens]] expression): train the same 3
    * merges, encode the corpus with the table as ONE reference object
    * instead of per-merge regex plan nodes, report the same top-30
    * symbol frequencies. Shares `bpe_encode`'s oracle verbatim — so the
    * native encoder's fold-equivalence is certified against the
    * training-replay oracle every round, not just by its spec. */
  private def qBpeEncodeNative = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrainMerges(docs, "text", rounds = 3)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      docs.select(F.explode(
          TextAnalysis.bpeSegmentNative(F.col("text"), merges)).as("sym"))
        .groupBy("sym").agg(F.count(F.lit(1)).as("cnt"))
        .orderBy(F.col("cnt").desc, F.col("sym")).limit(30)
    },
    qBpeEncode.oracle)

  /** Exact Pearson correlation matrix
    * ([[DataAudit.featureCorrelations]]): every pairwise correlation
    * of four integer-valued lineitem features from BIGINT sufficient
    * statistics in ONE pass — fold-order-free where the built-in
    * `corr()` is not. */
  private def qFeatureCorrelations = Q(
    (s, dir) => DataAudit.featureCorrelations(t(s, dir, "lineitem"), Seq(
      "l_quantity" -> F.col("l_quantity"),
      "l_discount_c" -> F.round(F.col("l_discount") * 100),
      "l_tax_c" -> F.round(F.col("l_tax") * 100),
      "l_linenumber" -> F.col("l_linenumber"))),
    Some {
      val names = Seq("l_quantity", "l_discount_c", "l_tax_c", "l_linenumber")
      val pairRows = (for {
        i <- names.indices; j <- (i + 1) until names.size
      } yield {
        val (a, b) = if (names(i) <= names(j)) (names(i), names(j)) else (names(j), names(i))
        s"""SELECT '$a' AS f1, '$b' AS f2, n,
           | CAST(n * p${i}_$j - s$i * s$j AS DOUBLE) /
           |  (sqrt(CAST(n * p${i}_$i - s$i * s$i AS DOUBLE)) * sqrt(CAST(n * p${j}_$j - s$j * s$j AS DOUBLE))) AS corr
           | FROM st"""
      }).mkString(" UNION ALL ")
      val sums = names.indices.map(i => s"CAST(sum(x$i) AS BIGINT) AS s$i") ++
        (for { i <- names.indices; j <- i until names.size }
          yield s"CAST(sum(x$i * x$j) AS BIGINT) AS p${i}_$j")
      s"""WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x0,
         |  CAST(round(l_discount * 100) AS BIGINT) AS x1,
         |  CAST(round(l_tax * 100) AS BIGINT) AS x2,
         |  CAST(l_linenumber AS BIGINT) AS x3 FROM lineitem
         |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
         |   AND l_tax IS NOT NULL AND l_linenumber IS NOT NULL),
         | st AS (SELECT CAST(count(*) AS BIGINT) AS n, ${sums.mkString(", ")} FROM b)
         | SELECT f1, f2, n, corr FROM ($pairRows) ORDER BY f1, f2"""
        .stripMargin.replaceAll("\n", " ")
    })

  /** Range-partitioner preflight ([[DataAudit.rangePartitionPlan]]):
    * exact balanced bounds + exact per-bucket row counts for an 8-way
    * range shuffle of the events join key. Bounds are exact type-7
    * quantiles (bit-equal to `quantile_cont`); bucket(v) = #bounds
    * strictly below v. */
  private def qRangePartitionPlan = Q(
    (s, dir) => DataAudit.rangePartitionPlan(t(s, dir, "events"), "user_id", 8),
    Some {
      val qs = (1 until 8).map(i => s"quantile_cont(v, ${i.toDouble / 8})").mkString(", ")
      s"""WITH vv AS (SELECT CAST(user_id AS DOUBLE) AS v FROM events WHERE user_id IS NOT NULL),
         | b AS (SELECT [$qs] AS bs FROM vv),
         | bk AS (SELECT len(list_filter((SELECT bs FROM b), x -> x < v)) AS bucket FROM vv),
         | c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM bk GROUP BY 1),
         | t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
         | g AS (SELECT unnest(generate_series(0, 7)) AS bucket)
         | SELECT CAST(g.bucket AS BIGINT) AS bucket,
         |  CASE WHEN g.bucket = 0 THEN NULL ELSE (SELECT bs FROM b)[g.bucket] END AS lo,
         |  CASE WHEN g.bucket = 7 THEN NULL ELSE (SELECT bs FROM b)[g.bucket + 1] END AS hi,
         |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_rows,
         |  CAST(coalesce(c.n, 0) AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE) AS share
         | FROM g LEFT JOIN c ON c.bucket = g.bucket ORDER BY bucket"""
        .stripMargin.replaceAll("\n", " ")
    })

  /** Inline (zero-exchange) page extraction
    * ([[HtmlExtract.extractTextColumn]]): the same result as
    * `html_extract_text` from a pure HOF column — no explode, no
    * window, no groupBy — sharing that query's oracle verbatim. */
  private def qHtmlExtractInline = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents").select(F.col("doc_id"), F.col("lang"),
        F.col("text"), F.col("source"))
      docs.withColumn("html", syntheticHtml)
        .select(F.col("doc_id"),
          HtmlExtract.extractTextColumn(F.col("html")).as("x"))
        .select(F.col("doc_id"), F.col("x.text").as("text"),
          F.col("x.n_blocks").as("n_blocks"), F.col("x.n_chars").as("n_chars"))
        .filter(F.col("n_blocks") > 0)
        .orderBy("doc_id")
    },
    qHtmlExtractText.oracle)

  /** Page extraction AT INGESTION: [[HtmlExtract.extractTextColumn]]
    * on a Structured Streaming frame (stateless append mode) — the
    * crawl-side shape. Same oracle again. */
  private def qStreamingHtmlExtract = Q(
    (s, dir) => {
      val sdf = st(s, dir, "documents")
      // per-batch repartition: the one-file micro-batch would run the
      // whole synthesize+extract chain on one core (graft.core.Par)
      Streams.toMemory(graft.core.Par.widen(sdf).withColumn("html", syntheticHtml)
        .select(F.col("doc_id"),
          HtmlExtract.extractTextColumn(F.col("html")).as("x"))
        .select(F.col("doc_id"), F.col("x.text").as("text"),
          F.col("x.n_blocks").as("n_blocks"), F.col("x.n_chars").as("n_chars"))
        .filter(F.col("n_blocks") > 0))
        .orderBy("doc_id")
    },
    qHtmlExtractText.oracle)

  /** Tokenizer fertility audit ([[TextAnalysis.bpeFertility]]): train
    * 3 merges, then per-source compression stats through the NATIVE
    * encoder. The oracle recovers each distinct word from the
    * trained `v3` vocabulary (strip separators), joins the per-source
    * token stream to its symbol count, and aggregates — so it
    * cross-checks training, the native encoder, and the audit
    * arithmetic in one hash. */
  private def qBpeFertility = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrainMerges(docs, "text", rounds = 3)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeFertility(docs, "text", "source", merges)
        .orderBy("source")
    },
    Some {
      s"""$bpeSqlCtes,
         | wsym AS (SELECT replace(e, chr(31), '') AS w,
         |   CAST(len(list_filter(string_split(e, chr(31) || chr(31)), x -> len(x) > 0)) AS BIGINT) AS nsym FROM v3),
         | tk AS (SELECT source, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |   w -> regexp_matches(w, '^[a-z0-9]+$$'))) AS t FROM documents),
         | st AS (SELECT tk.source, CAST(count(*) AS BIGINT) AS n_tokens,
         |   CAST(sum(len(tk.t)) AS BIGINT) AS n_chars, CAST(sum(ws.nsym) AS BIGINT) AS n_symbols
         |  FROM tk JOIN wsym ws ON ws.w = tk.t GROUP BY 1),
         | dn AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1)
         | SELECT dn.source, dn.n_docs,
         |  coalesce(st.n_tokens, 0) AS n_tokens, coalesce(st.n_chars, 0) AS n_chars,
         |  coalesce(st.n_symbols, 0) AS n_symbols,
         |  CASE WHEN coalesce(st.n_symbols, 0) = 0 THEN 0.0
         |   ELSE CAST(st.n_chars AS DOUBLE) / CAST(st.n_symbols AS DOUBLE) END AS chars_per_symbol,
         |  CASE WHEN coalesce(st.n_tokens, 0) = 0 THEN 0.0
         |   ELSE CAST(st.n_symbols AS DOUBLE) / CAST(st.n_tokens AS DOUBLE) END AS symbols_per_token
         | FROM dn LEFT JOIN st ON st.source = dn.source
         | ORDER BY dn.source""".stripMargin.replaceAll("\n", " ")
    })

  /** Shared oracle tail for the tokenizer-TRUE token-count queries:
    * per-word symbol counts recovered from the trained 8-round
    * vocabulary (`v8` — words are distinct, so `replace(e, sep, '')`
    * inverts the encoding), joined back to the token stream. */
  private def bpeTrueTokenCtes: String =
    s"""${bpeSqlCtesN(8)},
       | wsym AS (SELECT replace(e, chr(31), '') AS w,
       |   CAST(len(list_filter(string_split(e, chr(31) || chr(31)), x -> len(x) > 0)) AS BIGINT) AS nsym FROM v8),
       | tk AS (SELECT doc_id, source, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |   w -> regexp_matches(w, '^[a-z0-9]+$$'))) AS t FROM documents)"""
      .stripMargin.replaceAll("\n", " ")

  private def trainedMerges8(s: SparkSession, dir: String): Seq[(String, String)] =
    TextAnalysis.bpeTrainMergesFast(t(s, dir, "documents"), "text", rounds = 8)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Tokenizer-TRUE token counting: per-document token cost through the
    * TRAINED BPE vocabulary (train-fast → native encoder), not the
    * whitespace or pre-tokenizer proxies of [[qTokenCounts]] — the
    * number a token-budgeted pipeline actually pays. Map-only encode
    * scan; the oracle replays training and recovers per-word symbol
    * counts from the final vocabulary CTE. */
  private def qTokenCountsBpe = Q(
    (s, dir) => {
      val merges = trainedMerges8(s, dir)
      t(s, dir, "documents").select(F.col("doc_id"),
          F.coalesce(F.size(TextAnalysis.bpeSegmentNative(F.col("text"), merges))
            .cast("long"), F.lit(0L)).as("bpe_tokens"))
        .orderBy("doc_id")
    },
    Some {
      s"""$bpeTrueTokenCtes,
         | c AS (SELECT tk.doc_id, CAST(sum(ws.nsym) AS BIGINT) AS bpe_tokens
         |  FROM tk JOIN wsym ws ON ws.w = tk.t GROUP BY 1)
         | SELECT d.doc_id, coalesce(c.bpe_tokens, 0) AS bpe_tokens
         | FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id
         | ORDER BY d.doc_id""".stripMargin.replaceAll("\n", " ")
    })

  /** Sequence packing priced in TRAINED-TOKENIZER units
    * ([[Packing.withOffsets]] × the native BPE encoder): chunk offsets
    * and 512-token chunk assignment computed from each document's
    * actual BPE cost rather than whitespace words — whitespace packing
    * overfills chunks for high-fertility sources (the same mispricing
    * `mixture_weights_bpe` fixes for mixtures). Same two-pass
    * partition-prefix-sum shape as `corpus_pack`; the cost column is
    * the stateless map-only encoder. */
  private def qPackByBpeCost = Q(
    (s, dir) => {
      val merges = trainedMerges8(s, dir)
      Packing.withOffsets(
        t(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism, F.col("doc_id")),
        "doc_id",
        F.coalesce(F.size(TextAnalysis.bpeSegmentNative(F.col("text"), merges))
          .cast("long"), F.lit(0L)),
        capacity = 512L)
        .select("doc_id", "n_tokens", "offset", "chunk_id")
        .orderBy("doc_id")
    },
    Some(s"""$bpeTrueTokenCtes,
            | c AS (SELECT tk.doc_id, CAST(sum(ws.nsym) AS BIGINT) AS nt
            |  FROM tk JOIN wsym ws ON ws.w = tk.t GROUP BY 1),
            | f AS (SELECT d.doc_id, coalesce(c.nt, 0) AS n_tokens
            |  FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id)
            | SELECT doc_id, n_tokens,
            |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset,
            |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS chunk_id
            | FROM f ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Tokenizer-true token counting AT INGESTION: the same trained-vocab
    * encode column on a Structured Streaming frame — the encoder is a
    * stateless map-only expression (the merge table is an executor-held
    * reference object), so per-document token cost is priced as data
    * lands, append mode, zero state. Oracle shared with
    * [[qTokenCountsBpe]] verbatim. */
  private def qStreamingTokenCountsBpe = Q(
    (s, dir) => {
      val merges = trainedMerges8(s, dir)
      val sdf = st(s, dir, "documents")
      Streams.toMemory(sdf.select(F.col("doc_id"),
          F.coalesce(F.size(TextAnalysis.bpeSegmentNative(F.col("text"), merges))
            .cast("long"), F.lit(0L)).as("bpe_tokens")))
        .orderBy("doc_id")
    },
    qTokenCountsBpe.oracle)

  /** Tokenizer-TRUE mixture budgeting ([[Sampling.mixtureWeights]] over
    * TRAINED-vocabulary token counts): the per-source budget shares a
    * data-mixture plan commits to, priced in the tokens the tokenizer
    * will actually emit — whitespace-token budgeting (the
    * [[qMixtureWeights]] proxy) misprices sources whose fertility
    * differs, exactly the multilingual failure [[qBpeFertility]]
    * surfaces. One encode scan + the bounded mixture rollup; the
    * oracle derives the same per-source symbol totals from the
    * training replay. */
  private def qMixtureWeightsBpe = Q(
    (s, dir) => {
      val merges = trainedMerges8(s, dir)
      Sampling.mixtureWeights(
        t(s, dir, "documents").select(F.col("source"),
          F.coalesce(F.size(TextAnalysis.bpeSegmentNative(F.col("text"), merges))
            .cast("long"), F.lit(0L)).as("__bt")),
        F.col("source"), F.col("__bt"),
        targets = Map("src0" -> 0.5, "src1" -> 0.25,
          "src2" -> 0.125, "src3" -> 0.125),
        budget = None, maxEpochs = 2.0)
        .select(F.col("domain"), F.col("tokens"), F.col("target_share"),
          F.round(F.col("budget_tokens"), 6).as("budget_tokens"),
          F.round(F.col("rate"), 6).as("rate"), F.col("capped"))
        .orderBy("domain")
    },
    Some {
      s"""$bpeTrueTokenCtes,
         | s AS (SELECT tk.source AS domain, CAST(sum(ws.nsym) AS DOUBLE) AS tokens,
         |   CASE tk.source WHEN 'src0' THEN 0.5::DOUBLE WHEN 'src1' THEN 0.25::DOUBLE
         |     WHEN 'src2' THEN 0.125::DOUBLE WHEN 'src3' THEN 0.125::DOUBLE END AS target_share
         |  FROM tk JOIN wsym ws ON ws.w = tk.t
         |  WHERE tk.source IN ('src0','src1','src2','src3') GROUP BY tk.source),
         | b AS (SELECT min(tokens * 2.0::DOUBLE / target_share) AS budget_total FROM s)
         | SELECT domain, tokens, target_share,
         |  round(target_share * budget_total, 6) AS budget_tokens,
         |  round(least(target_share * budget_total / tokens, 2.0::DOUBLE), 6) AS rate,
         |  target_share * budget_total / tokens > 2.0::DOUBLE AS capped
         | FROM s, b ORDER BY domain""".stripMargin.replaceAll("\n", " ")
    })

  /** Shared oracle tail for the BYTE-mode tokenizer-true queries: the
    * 6-round byte-vocabulary replay ([[byteBpeSqlCtesN]]) plus
    * per-pretoken symbol counts recovered from `v6` (hex words are
    * distinct, so separator-stripping inverts the encoding) and the
    * GPT-2-style pretoken stream hexed for the join. */
  private def bpeByteTokenCtes: String =
    s"""${byteBpeSqlCtesN(6)},
       | wsym AS (SELECT replace(e, chr(31), '') AS h,
       |   CAST(len(list_filter(string_split(e, chr(31) || chr(31)), x -> len(x) > 0)) AS BIGINT) AS nsym FROM v6),
       | tk AS (SELECT doc_id, source, unnest(regexp_extract_all(text,
       |   ' ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+')) AS t FROM documents),
       | tkh AS (SELECT doc_id, source, lower(hex(encode(t))) AS h FROM tk)"""
      .stripMargin.replaceAll("\n", " ")

  private def trainedByteMerges6(s: SparkSession, dir: String): Seq[(String, String)] =
    TextAnalysis.bpeTrainMergesFast(t(s, dir, "documents"), "text",
      rounds = 6, byteLevel = true)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** BYTE-mode tokenizer-true token counting: [[qTokenCountsBpe]]'s
    * sibling priced by the byte-level vocabulary — on unicode-heavy
    * corpora the default `[a-z0-9]+` mode silently drops every
    * non-ASCII word from the count, misbudgeting exactly the sources a
    * multilingual mixture cares about ([[qBpeFertilityBytes]] surfaces
    * the mispricing; this closes it for per-document costing). Same
    * map-only encode scan at `symWidth = 2`. */
  private def qTokenCountsBpeBytes = Q(
    (s, dir) => {
      val merges = trainedByteMerges6(s, dir)
      t(s, dir, "documents").select(F.col("doc_id"),
          F.coalesce(F.size(TextAnalysis.bpeSegmentBytes(F.col("text"), merges))
            .cast("long"), F.lit(0L)).as("bpe_tokens"))
        .orderBy("doc_id")
    },
    Some {
      s"""$bpeByteTokenCtes,
         | c AS (SELECT tkh.doc_id, CAST(sum(ws.nsym) AS BIGINT) AS bpe_tokens
         |  FROM tkh JOIN wsym ws ON ws.h = tkh.h GROUP BY 1)
         | SELECT d.doc_id, coalesce(c.bpe_tokens, 0) AS bpe_tokens
         | FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id
         | ORDER BY d.doc_id""".stripMargin.replaceAll("\n", " ")
    })

  /** Sequence packing priced in BYTE-level tokenizer units:
    * [[qPackByBpeCost]]'s sibling over the byte vocabulary — chunk
    * offsets and 512-symbol chunk assignment from each document's
    * byte-BPE cost. Same two-pass partition-prefix-sum shape. */
  private def qPackByBpeCostBytes = Q(
    (s, dir) => {
      val merges = trainedByteMerges6(s, dir)
      Packing.withOffsets(
        t(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism, F.col("doc_id")),
        "doc_id",
        F.coalesce(F.size(TextAnalysis.bpeSegmentBytes(F.col("text"), merges))
          .cast("long"), F.lit(0L)),
        capacity = 512L)
        .select("doc_id", "n_tokens", "offset", "chunk_id")
        .orderBy("doc_id")
    },
    Some(s"""$bpeByteTokenCtes,
            | c AS (SELECT tkh.doc_id, CAST(sum(ws.nsym) AS BIGINT) AS nt
            |  FROM tkh JOIN wsym ws ON ws.h = tkh.h GROUP BY 1),
            | f AS (SELECT d.doc_id, coalesce(c.nt, 0) AS n_tokens
            |  FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id)
            | SELECT doc_id, n_tokens,
            |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset,
            |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS chunk_id
            | FROM f ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Mixture budgeting in BYTE-level tokenizer units:
    * [[qMixtureWeightsBpe]]'s sibling — per-source budget shares
    * priced by the byte vocabulary, closing the unicode-corpus
    * mispricing end to end (count → pack → mixture all have byte-mode
    * siblings now). Same one-scan + bounded-rollup shape. */
  private def qMixtureWeightsBpeBytes = Q(
    (s, dir) => {
      val merges = trainedByteMerges6(s, dir)
      Sampling.mixtureWeights(
        t(s, dir, "documents").select(F.col("source"),
          F.coalesce(F.size(TextAnalysis.bpeSegmentBytes(F.col("text"), merges))
            .cast("long"), F.lit(0L)).as("__bt")),
        F.col("source"), F.col("__bt"),
        targets = Map("src0" -> 0.5, "src1" -> 0.25,
          "src2" -> 0.125, "src3" -> 0.125),
        budget = None, maxEpochs = 2.0)
        .select(F.col("domain"), F.col("tokens"), F.col("target_share"),
          F.round(F.col("budget_tokens"), 6).as("budget_tokens"),
          F.round(F.col("rate"), 6).as("rate"), F.col("capped"))
        .orderBy("domain")
    },
    Some {
      s"""$bpeByteTokenCtes,
         | s AS (SELECT tkh.source AS domain, CAST(sum(ws.nsym) AS DOUBLE) AS tokens,
         |   CASE tkh.source WHEN 'src0' THEN 0.5::DOUBLE WHEN 'src1' THEN 0.25::DOUBLE
         |     WHEN 'src2' THEN 0.125::DOUBLE WHEN 'src3' THEN 0.125::DOUBLE END AS target_share
         |  FROM tkh JOIN wsym ws ON ws.h = tkh.h
         |  WHERE tkh.source IN ('src0','src1','src2','src3') GROUP BY tkh.source),
         | b AS (SELECT min(tokens * 2.0::DOUBLE / target_share) AS budget_total FROM s)
         | SELECT domain, tokens, target_share,
         |  round(target_share * budget_total, 6) AS budget_tokens,
         |  round(least(target_share * budget_total / tokens, 2.0::DOUBLE), 6) AS rate,
         |  target_share * budget_total / tokens > 2.0::DOUBLE AS capped
         | FROM s, b ORDER BY domain""".stripMargin.replaceAll("\n", " ")
    })

  /** Classification-stump scoring + evaluation
    * ([[TreeSplit.stumpModel]] / `stumpPredictColumn`): train the
    * global best stump with per-side majority classes, score every row
    * map-only, and report the confusion matrix — the oracle replays
    * split selection, majority election, and row routing inside the
    * rollup, so any drift anywhere fails the hash. */
  private def qStumpConfusion = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val m = TreeSplit.stumpModel(li, "l_returnflag", treeFeatures)
      li.select(F.col("l_returnflag").as("label"),
          TreeSplit.stumpPredictColumn(m, treeFeatures).as("pred"))
        .groupBy("label", "pred").agg(F.count(F.lit(1)).as("n"))
        .orderBy("label", "pred")
    },
    Some(s"""$treeStumpCtes,
            | root AS (SELECT feature, threshold FROM scored ORDER BY impurity, feature, threshold LIMIT 1),
            | lmaj AS (SELECT l FROM (SELECT l, CAST(sum(c) AS BIGINT) AS cnt FROM bins
            |   WHERE f = (SELECT feature FROM root) AND b <= (SELECT threshold FROM root) GROUP BY l)
            |  ORDER BY cnt DESC, l LIMIT 1),
            | rmaj AS (SELECT l FROM (SELECT l, CAST(sum(c) AS BIGINT) AS cnt FROM bins
            |   WHERE f = (SELECT feature FROM root) AND b > (SELECT threshold FROM root) GROUP BY l)
            |  ORDER BY cnt DESC, l LIMIT 1),
            | pr AS (SELECT u.l AS label, CASE WHEN u.b <= (SELECT threshold FROM root)
            |   THEN (SELECT l FROM lmaj) ELSE (SELECT l FROM rmaj) END AS pred
            |  FROM u WHERE u.f = (SELECT feature FROM root))
            | SELECT label, pred, CAST(count(*) AS BIGINT) AS n FROM pr
            | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " ")))

  /** Chance-corrected agreement of the trained stump
    * ([[ModelPerf.agreementMetrics]]): Cohen's κ and multiclass MCC as
    * exact integer fractions off the same confusion exchange — the
    * imbalance-robust readout accuracy alone fakes. The oracle replays
    * stump training, row routing, the confusion rollup, AND both
    * formulas (shared numerator n·diag − Σtₖpₖ). */
  private def qStumpAgreement = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val m = TreeSplit.stumpModel(li, "l_returnflag", treeFeatures)
      ModelPerf.agreementMetrics(li, F.col("l_returnflag"),
        TreeSplit.stumpPredictColumn(m, treeFeatures))
    },
    Some(s"""$treeStumpCtes,
            | root AS (SELECT feature, threshold FROM scored ORDER BY impurity, feature, threshold LIMIT 1),
            | lmaj AS (SELECT l FROM (SELECT l, CAST(sum(c) AS BIGINT) AS cnt FROM bins
            |   WHERE f = (SELECT feature FROM root) AND b <= (SELECT threshold FROM root) GROUP BY l)
            |  ORDER BY cnt DESC, l LIMIT 1),
            | rmaj AS (SELECT l FROM (SELECT l, CAST(sum(c) AS BIGINT) AS cnt FROM bins
            |   WHERE f = (SELECT feature FROM root) AND b > (SELECT threshold FROM root) GROUP BY l)
            |  ORDER BY cnt DESC, l LIMIT 1),
            | pr AS (SELECT u.l AS label, CASE WHEN u.b <= (SELECT threshold FROM root)
            |   THEN (SELECT l FROM lmaj) ELSE (SELECT l FROM rmaj) END AS pred
            |  FROM u WHERE u.f = (SELECT feature FROM root)),
            | cm AS (SELECT label, pred, CAST(count(*) AS BIGINT) AS c FROM pr GROUP BY 1, 2),
            | tots AS (SELECT CAST(sum(c) AS BIGINT) AS n,
            |   CAST(sum(CASE WHEN label = pred THEN c ELSE 0 END) AS BIGINT) AS diag FROM cm),
            | tr AS (SELECT label AS k, CAST(sum(c) AS BIGINT) AS t FROM cm GROUP BY 1),
            | pc AS (SELECT pred AS k, CAST(sum(c) AS BIGINT) AS p FROM cm GROUP BY 1),
            | ks AS (SELECT coalesce(tr.k, pc.k) AS k, coalesce(tr.t, 0) AS t, coalesce(pc.p, 0) AS p
            |  FROM tr FULL OUTER JOIN pc ON pc.k = tr.k),
            | ss AS (SELECT CAST(sum(t * p) AS BIGINT) AS stp, CAST(sum(t * t) AS BIGINT) AS stt,
            |   CAST(sum(p * p) AS BIGINT) AS spp FROM ks)
            | SELECT tots.n, tots.diag AS n_agree,
            |  CAST(tots.n * tots.diag - ss.stp AS BIGINT) AS num,
            |  CASE WHEN tots.n * tots.n - ss.stp = 0 THEN NULL
            |   ELSE CAST(tots.n * tots.diag - ss.stp AS DOUBLE) / CAST(tots.n * tots.n - ss.stp AS DOUBLE) END AS kappa,
            |  CASE WHEN tots.n * tots.n - ss.spp = 0 OR tots.n * tots.n - ss.stt = 0 THEN NULL
            |   ELSE CAST(tots.n * tots.diag - ss.stp AS DOUBLE)
            |    / (sqrt(CAST(tots.n * tots.n - ss.spp AS DOUBLE)) * sqrt(CAST(tots.n * tots.n - ss.stt AS DOUBLE))) END AS mcc
            | FROM tots, ss""".stripMargin.replaceAll("\n", " ")))

  /** Stump classification AT INGESTION: the map-only
    * [[TreeSplit.stumpPredictColumn]] on a Structured Streaming frame,
    * confusion rolled up in complete mode (state ≤ classes² rows).
    * Oracle shared with [[qStumpConfusion]] verbatim. */
  private def qStreamingStumpConfusion = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val m = TreeSplit.stumpModel(li, "l_returnflag", treeFeatures)
      val sdf = st(s, dir, "lineitem")
      val confusion = sdf.select(F.col("l_returnflag").as("label"),
          TreeSplit.stumpPredictColumn(m, treeFeatures).as("pred"))
        .groupBy("label", "pred").agg(F.count(F.lit(1)).as("n"))
      Streams.toMemory(confusion, "complete").orderBy("label", "pred")
    },
    qStumpConfusion.oracle)

  /** Boosted-ensemble inference ([[Boost.predictColumn]]): train the
    * 3-round model, score every row with the map-only prediction
    * column, report the prediction distribution with per-bucket target
    * sums. The oracle derives each row's prediction as `y − r₃` from
    * the unrolled training CTEs — an INDEPENDENT path (training
    * residuals) that must agree with the re-applied model. */
  private def qLsBoostPredict = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val feats = Seq(
        TreeSplit.FeatureSpec("l_discount_c", F.round(F.col("l_discount") * 100)),
        TreeSplit.FeatureSpec("l_tax_c", F.round(F.col("l_tax") * 100)),
        TreeSplit.FeatureSpec("l_linenumber", F.col("l_linenumber")))
      val m = Boost.lsBoostModel(li, "l_quantity", feats, rounds = 3)
      li.select(Boost.predictColumn(m, feats).as("pred"),
          F.col("l_quantity").cast("long").as("y"))
        .groupBy("pred").agg(F.count(F.lit(1)).as("n"), F.sum("y").as("sum_y"))
        .orderBy("pred")
    },
    Some(s"""${boostSqlCtes(3)}
            | SELECT pred, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sum_y FROM (
            |   SELECT rb.y AS y, rb.y - r.r AS pred FROM rb JOIN r3 r ON r.rid = rb.rid)
            | GROUP BY pred ORDER BY pred""".stripMargin.replaceAll("\n", " ")))

  /** Boosted-ensemble scoring AT INGESTION: [[Boost.predictColumn]] on
    * a Structured Streaming lineitem frame, prediction distribution in
    * complete mode (state bounded by distinct predictions ≤ Π stump
    * leaf combinations). Oracle shared with [[qLsBoostPredict]]. */
  private def qStreamingLsBoostPredict = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val feats = Seq(
        TreeSplit.FeatureSpec("l_discount_c", F.round(F.col("l_discount") * 100)),
        TreeSplit.FeatureSpec("l_tax_c", F.round(F.col("l_tax") * 100)),
        TreeSplit.FeatureSpec("l_linenumber", F.col("l_linenumber")))
      val m = Boost.lsBoostModel(li, "l_quantity", feats, rounds = 3)
      val sdf = st(s, dir, "lineitem")
      val byPred = sdf.select(Boost.predictColumn(m, feats).as("pred"),
          F.col("l_quantity").cast("long").as("y"))
        .groupBy("pred").agg(F.count(F.lit(1)).as("n"), F.sum("y").as("sum_y"))
      Streams.toMemory(byPred, "complete").orderBy("pred")
    },
    qLsBoostPredict.oracle)

  /** Salted skew-resilient join ([[graft.pipeline.SkewJoin]]): the
    * lineitem→orders rollup through the `(key, salt)` join — the
    * output multiset is provably salt-independent, so the oracle is
    * the PLAIN join (any salting artifact — dropped rows, duplicated
    * matches, wrong fan-out — fails the hash). */
  private def qSaltedJoinAgg = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
        .select(F.col("o_orderkey").as("l_orderkey"), F.col("o_orderpriority"))
      graft.pipeline.SkewJoin.saltedJoin(li, ord, "l_orderkey", saltFactor = 8)
        .groupBy(F.col("o_orderpriority").as("priority"))
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("priority")
    },
    Some("""SELECT o.o_orderpriority AS priority, CAST(count(*) AS BIGINT) AS n,
           | CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
           | FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
           | GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " ")))

  /** Exact tie-corrected Wilcoxon rank-sum drift test
    * ([[graft.analysis.DriftExact.rankSumStats]]): the nonparametric
    * two-sample LOCATION test the KS/χ²/PSI drift family lacks —
    * signed z per column, open-vs-other lineitems, three columns from
    * ONE melted histogram exchange. The oracle replays the pooled
    * histogram, cumulative reference counts, the integer 2U and tie
    * statistics, and the z expression tree bit-for-bit. */
  private def qDriftRankSum = Q(
    (s, dir) => graft.analysis.DriftExact.rankSumStats(
      t(s, dir, "lineitem"), Seq("l_quantity", "l_discount", "l_tax"),
      F.col("l_linestatus") === "O"),
    Some(s"""WITH $rankSumCtes,
           | a AS (SELECT cn, CAST(sum(n_ref) AS BIGINT) AS n_ref, CAST(sum(n_cur) AS BIGINT) AS n_cur,
           |   CAST(sum(n_cur * (2 * rb + n_ref)) AS BIGINT) AS u2,
           |   CAST(sum((n_ref + n_cur) * (n_ref + n_cur) * (n_ref + n_cur) - (n_ref + n_cur)) AS BIGINT) AS tc
           |  FROM c GROUP BY 1)
           | SELECT cn AS "column", n_ref, n_cur, u2, tc,
           |  CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL
           |   ELSE CAST(u2 AS DOUBLE) / CAST(2 * n_ref * n_cur AS DOUBLE) END AS auc,
           |  CASE WHEN n_ref = 0 OR n_cur = 0
           |    OR CAST(n_ref * n_cur AS DOUBLE) / 12.0 * (CAST(n_ref + n_cur + 1 AS DOUBLE)
           |      - CAST(tc AS DOUBLE) / CAST((n_ref + n_cur) * (n_ref + n_cur - 1) AS DOUBLE)) <= 0.0 THEN NULL
           |   ELSE (CAST(u2 AS DOUBLE) - CAST(n_ref * n_cur AS DOUBLE))
           |    / (2.0 * sqrt(CAST(n_ref * n_cur AS DOUBLE) / 12.0 * (CAST(n_ref + n_cur + 1 AS DOUBLE)
           |      - CAST(tc AS DOUBLE) / CAST((n_ref + n_cur) * (n_ref + n_cur - 1) AS DOUBLE)))) END AS z
           | FROM a ORDER BY cn""".stripMargin.replaceAll("\n", " ")))

  /** Cliff's delta ([[graft.analysis.DriftExact.cliffsDelta]]): the
    * effect-size companion to the rank-sum z over the same columns —
    * δ = u2/(n_ref·n_cur) − 1 off the identical tie-corrected integer
    * 2U, plus the Romano et al. magnitude label. */
  private def qCliffsDelta = Q(
    (s, dir) => graft.analysis.DriftExact.cliffsDelta(
      t(s, dir, "lineitem"), Seq("l_quantity", "l_discount", "l_tax"),
      F.col("l_linestatus") === "O"),
    Some(s"""WITH $rankSumCtes,
           | a AS (SELECT cn, CAST(sum(n_ref) AS BIGINT) AS n_ref, CAST(sum(n_cur) AS BIGINT) AS n_cur,
           |   CAST(sum(n_cur * (2 * rb + n_ref)) AS BIGINT) AS u2
           |  FROM c GROUP BY 1),
           | dd AS (SELECT cn, n_ref, n_cur,
           |   CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL
           |    ELSE CAST(u2 AS DOUBLE) / CAST(n_ref * n_cur AS DOUBLE) - 1.0 END AS delta
           |  FROM a)
           | SELECT cn AS "column", n_ref, n_cur, delta,
           |  CASE WHEN delta IS NULL THEN NULL
           |   WHEN abs(delta) < 0.147 THEN 'negligible'
           |   WHEN abs(delta) < 0.33 THEN 'small'
           |   WHEN abs(delta) < 0.474 THEN 'medium'
           |   ELSE 'large' END AS magnitude
           | FROM dd ORDER BY cn""".stripMargin.replaceAll("\n", " ")))

  /** Exact ROC-AUC ([[Roc.rocAuc]]): the tie-corrected Mann-Whitney
    * statistic as an exact integer fraction — `score ≥ t` detecting
    * returned lineitems from the discount (cents). The oracle replays
    * histogram → cumulative-negatives → fraction bit-for-bit. */
  private def qRocAuc = Q(
    (s, dir) => Roc.rocAuc(t(s, dir, "lineitem"),
      F.round(F.col("l_discount") * 100), F.col("l_returnflag") === "R"),
    Some(s"""$rocHistCtes
            | SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos, CAST(sum(n_neg) AS BIGINT) AS n_neg,
            |  CAST(sum(n_pos * (2 * nb + n_neg)) AS BIGINT) AS num,
            |  CAST(2 * sum(n_pos) * sum(n_neg) AS BIGINT) AS den,
            |  CASE WHEN sum(n_pos) = 0 OR sum(n_neg) = 0 THEN NULL
            |   ELSE CAST(sum(n_pos * (2 * nb + n_neg)) AS DOUBLE)
            |    / CAST(2 * sum(n_pos) * sum(n_neg) AS DOUBLE) END AS auc
            | FROM c""".stripMargin.replaceAll("\n", " ")))

  /** Exact ROC/PR curve ([[Roc.rocCurve]]): every operating point of
    * the same detector with exact tp/fp counts; the single-partition
    * cumulative window runs over the BOUNDED score histogram (11
    * discount levels), never the corpus. */
  private def qRocCurve = Q(
    (s, dir) => Roc.rocCurve(t(s, dir, "lineitem"),
      F.round(F.col("l_discount") * 100), F.col("l_returnflag") === "R"),
    Some(s"""$rocHistCtes,
            | t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS p, CAST(sum(n_neg) AS BIGINT) AS n FROM h),
            | cv AS (SELECT score AS threshold,
            |   CAST(sum(n_pos) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
            |   CAST(sum(n_neg) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
            |  FROM h)
            | SELECT threshold, tp, fp,
            |  CASE WHEN t.p = 0 THEN NULL ELSE CAST(tp AS DOUBLE) / CAST(t.p AS DOUBLE) END AS tpr,
            |  CASE WHEN t.n = 0 THEN NULL ELSE CAST(fp AS DOUBLE) / CAST(t.n AS DOUBLE) END AS fpr,
            |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS "precision"
            | FROM cv, t ORDER BY threshold DESC""".stripMargin.replaceAll("\n", " ")))

  /** SEGMENTED exact ROC-AUC ([[Roc.rocAucBy]]): the same detector
    * evaluated per linestatus segment — the ranking-quality analog of
    * segmented model-perf profiling; a per-segment inversion is
    * invisible in the global AUC. One exchange + a segment-partitioned
    * window; the oracle replays the per-segment fractions. */
  private def qSegmentedRocAuc = Q(
    (s, dir) => Roc.rocAucBy(t(s, dir, "lineitem"), F.col("l_linestatus"),
      F.round(F.col("l_discount") * 100), F.col("l_returnflag") === "R"),
    Some("""WITH b AS (SELECT l_linestatus AS segment, CAST(round(l_discount * 100) AS BIGINT) AS score,
           |   l_returnflag = 'R' AS y FROM lineitem
           |  WHERE l_linestatus IS NOT NULL AND l_discount IS NOT NULL AND l_returnflag IS NOT NULL),
           | h AS (SELECT segment, score, CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           |   CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg FROM b GROUP BY 1, 2),
           | c AS (SELECT segment, score, n_pos, n_neg,
           |   CAST(coalesce(sum(n_neg) OVER (PARTITION BY segment ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_neg, 0) AS BIGINT) AS nb
           |  FROM h)
           | SELECT segment, CAST(sum(n_pos) AS BIGINT) AS n_pos, CAST(sum(n_neg) AS BIGINT) AS n_neg,
           |  CAST(sum(n_pos * (2 * nb + n_neg)) AS BIGINT) AS num,
           |  CAST(2 * sum(n_pos) * sum(n_neg) AS BIGINT) AS den,
           |  CASE WHEN sum(n_pos) = 0 OR sum(n_neg) = 0 THEN NULL
           |   ELSE CAST(sum(n_pos * (2 * nb + n_neg)) AS DOUBLE)
           |    / CAST(2 * sum(n_pos) * sum(n_neg) AS DOUBLE) END AS auc
           | FROM c GROUP BY segment ORDER BY segment""".stripMargin.replaceAll("\n", " ")))

  /** Shared histogram + cumulative-negatives CTEs for the plain ROC
    * oracles: discount cents scoring `l_returnflag = 'R'`. */
  private def rocHistCtes: String =
    """WITH b AS (SELECT CAST(round(l_discount * 100) AS BIGINT) AS score, l_returnflag = 'R' AS y
      |  FROM lineitem WHERE l_discount IS NOT NULL AND l_returnflag IS NOT NULL),
      | h AS (SELECT score, CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
      |   CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg FROM b GROUP BY 1),
      | c AS (SELECT score, n_pos, n_neg,
      |   CAST(coalesce(sum(n_neg) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_neg, 0) AS BIGINT) AS nb
      |  FROM h)""".stripMargin.replaceAll("\n", " ")

  /** Train → score → RANK-EVALUATE closure: exact ROC-AUC of the
    * 3-round boosted ensemble's integer predictions detecting
    * high-quantity rows (y > 25). The oracle derives every prediction
    * INDEPENDENTLY as `y − r₃` from the unrolled training CTEs and
    * replays the Mann-Whitney fraction — so model training, scoring,
    * and ranking quality are all pinned in one hash. */
  private def qLsBoostAuc = Q(
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val feats = Seq(
        TreeSplit.FeatureSpec("l_discount_c", F.round(F.col("l_discount") * 100)),
        TreeSplit.FeatureSpec("l_tax_c", F.round(F.col("l_tax") * 100)),
        TreeSplit.FeatureSpec("l_linenumber", F.col("l_linenumber")))
      val m = Boost.lsBoostModel(li, "l_quantity", feats, rounds = 3)
      Roc.rocAuc(li, Boost.predictColumn(m, feats),
        F.col("l_quantity").cast("long") > 25L)
    },
    Some(s"""${boostSqlCtes(3)},
            | sc AS (SELECT rb.y - r.r AS score, rb.y > 25 AS y FROM rb JOIN r3 r ON r.rid = rb.rid),
            | h AS (SELECT score, CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
            |   CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_neg FROM sc GROUP BY 1),
            | c AS (SELECT score, n_pos, n_neg,
            |   CAST(coalesce(sum(n_neg) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_neg, 0) AS BIGINT) AS nb
            |  FROM h)
            | SELECT CAST(sum(n_pos) AS BIGINT) AS n_pos, CAST(sum(n_neg) AS BIGINT) AS n_neg,
            |  CAST(sum(n_pos * (2 * nb + n_neg)) AS BIGINT) AS num,
            |  CAST(2 * sum(n_pos) * sum(n_neg) AS BIGINT) AS den,
            |  CASE WHEN sum(n_pos) = 0 OR sum(n_neg) = 0 THEN NULL
            |   ELSE CAST(sum(n_pos * (2 * nb + n_neg)) AS DOUBLE)
            |    / CAST(2 * sum(n_pos) * sum(n_neg) AS DOUBLE) END AS auc
            | FROM c""".stripMargin.replaceAll("\n", " ")))

  /** Bit-exact LS-boosting ([[Boost.lsBoost]]): the oracle replays the
    * ENTIRE 3-round boosting run — base prediction, per-round residual
    * histograms, split argmax (score DESC, feature, threshold), floor
    * leaf values, residual updates by row id, exact per-round SSE — as
    * unrolled CTEs. */
  private def boostSqlCtes(rounds: Int): String = {
    def round(t: Int) =
      s"""h$t AS MATERIALIZED (SELECT u.f, u.b, CAST(sum(r.r) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
         |  FROM u JOIN r${t - 1} r ON r.rid = u.rid WHERE u.b IS NOT NULL GROUP BY 1, 2),
         | mx$t AS (SELECT f, CAST(max(b) AS BIGINT) AS mb FROM h$t GROUP BY 1),
         | pre$t AS (SELECT t.f, t.b AS thr, CAST(sum(h.s) AS BIGINT) AS sl, CAST(sum(h.n) AS BIGINT) AS nl
         |  FROM (SELECT h.f, h.b FROM h$t h JOIN mx$t m ON m.f = h.f WHERE h.b < m.mb) t
         |  JOIN h$t h ON h.f = t.f AND h.b <= t.b GROUP BY 1, 2),
         | tot$t AS (SELECT f, CAST(sum(s) AS BIGINT) AS st, CAST(sum(n) AS BIGINT) AS nt FROM h$t GROUP BY 1),
         | cand$t AS (SELECT p.f, p.thr, p.sl, p.nl, tt.st - p.sl AS sr, tt.nt - p.nl AS nr,
         |  CAST(p.sl AS DOUBLE) * CAST(p.sl AS DOUBLE) / CAST(p.nl AS DOUBLE)
         |   + CAST(tt.st - p.sl AS DOUBLE) * CAST(tt.st - p.sl AS DOUBLE) / CAST(tt.nt - p.nl AS DOUBLE) AS score
         |  FROM pre$t p JOIN tot$t tt ON tt.f = p.f WHERE p.nl > 0 AND tt.nt - p.nl > 0),
         | pick$t AS MATERIALIZED (SELECT * FROM cand$t ORDER BY score DESC, f, thr LIMIT 1),
         | lv$t AS MATERIALIZED (SELECT CAST(floor(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)) AS BIGINT) AS lv,
         |  CAST(floor(CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)) AS BIGINT) AS rv FROM pick$t),
         | r$t AS MATERIALIZED (SELECT r.rid, r.r - CASE WHEN uf.b <= (SELECT thr FROM pick$t)
         |   THEN (SELECT lv FROM lv$t) ELSE (SELECT rv FROM lv$t) END AS r
         |  FROM r${t - 1} r JOIN u uf ON uf.rid = r.rid AND uf.f = (SELECT f FROM pick$t)),
         | sse$t AS (SELECT CAST(sum(r * r) AS BIGINT) AS v FROM r$t)"""
    val rs = (1 to rounds).map(round).mkString(",\n ")
    s"""WITH rb AS MATERIALIZED (SELECT row_number() OVER () AS rid, CAST(l_quantity AS BIGINT) AS y,
       |  CAST(round(l_discount * 100) AS BIGINT) AS f1, CAST(round(l_tax * 100) AS BIGINT) AS f2,
       |  CAST(l_linenumber AS BIGINT) AS f3 FROM lineitem WHERE l_quantity IS NOT NULL),
       | u AS (SELECT rid, 'l_discount_c' AS f, f1 AS b FROM rb
       |  UNION ALL SELECT rid, 'l_tax_c', f2 FROM rb
       |  UNION ALL SELECT rid, 'l_linenumber', f3 FROM rb),
       | bs AS (SELECT CAST(sum(y) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n FROM rb),
       | m0 AS (SELECT CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS m, n FROM bs),
       | r0 AS MATERIALIZED (SELECT rid, y - (SELECT m FROM m0) AS r FROM rb),
       | sse0 AS (SELECT CAST(sum(r * r) AS BIGINT) AS v FROM r0),
       | $rs""".stripMargin.replaceAll("\n", " ")
  }

  private def qLsBoost = Q(
    (s, dir) => Boost.lsBoost(t(s, dir, "lineitem"), "l_quantity",
      Seq(
        TreeSplit.FeatureSpec("l_discount_c", F.round(F.col("l_discount") * 100)),
        TreeSplit.FeatureSpec("l_tax_c", F.round(F.col("l_tax") * 100)),
        TreeSplit.FeatureSpec("l_linenumber", F.col("l_linenumber"))),
      rounds = 3),
    Some {
      def row(t: Int) =
        s"""SELECT CAST($t AS BIGINT) AS round, (SELECT f FROM pick$t) AS feature,
           | (SELECT thr FROM pick$t) AS threshold, (SELECT lv FROM lv$t) AS left_val,
           | (SELECT rv FROM lv$t) AS right_val, (SELECT nl FROM pick$t) AS n_left,
           | (SELECT nr FROM pick$t) AS n_right, (SELECT v FROM sse$t) AS sse"""
      s"""${boostSqlCtes(3)}
         | SELECT CAST(0 AS BIGINT) AS round, '__base' AS feature, CAST(NULL AS BIGINT) AS threshold,
         |  (SELECT m FROM m0) AS left_val, (SELECT m FROM m0) AS right_val,
         |  (SELECT n FROM m0) AS n_left, CAST(0 AS BIGINT) AS n_right, (SELECT v FROM sse0) AS sse
         | UNION ALL ${row(1)}
         | UNION ALL ${row(2)}
         | UNION ALL ${row(3)}
         | ORDER BY round""".stripMargin.replaceAll("\n", " ")
    })

  /** Fixed-point k-means ([[graft.pipeline.KMeansFixed]]): the oracle
    * replays ALL of training — quantization, smallest-id init, integer
    * argmin assignment with (distance, index) ties, floor-div centroid
    * updates, empty-cluster survival — as unrolled iteration CTEs, so
    * any divergence anywhere in the 3-round training run fails the
    * hash, exactly like the BPE and NB oracles. */
  private def kmeansSqlCtes(k: Int, iters: Int, scale: Long): String = {
    def round(i: Int) =
      s"""d$i AS (SELECT e.vec_id, ct.c, CAST(sum((e.q - ct.v) * (e.q - ct.v)) AS BIGINT) AS d2
         |  FROM e JOIN cent${i - 1} ct ON ct.dim = e.dim GROUP BY 1, 2),
         | a$i AS (SELECT vec_id, c, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM d$i),
         | b$i AS (SELECT vec_id, c, d2 FROM a$i WHERE rn = 1),
         | s$i AS (SELECT b.c, e.dim, CAST(sum(e.q) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
         |  FROM b$i b JOIN e ON e.vec_id = b.vec_id GROUP BY 1, 2),
         | cent$i AS (SELECT p.c, p.dim,
         |   CASE WHEN s.n IS NULL THEN p.v ELSE CAST(floor(CAST(s.s AS DOUBLE) / CAST(s.n AS DOUBLE)) AS BIGINT) END AS v
         |  FROM cent${i - 1} p LEFT JOIN s$i s ON s.c = p.c AND s.dim = p.dim),
         | st$i AS (SELECT c, CAST(count(*) AS BIGINT) AS n_members, CAST(sum(d2) AS BIGINT) AS inertia FROM b$i GROUP BY 1)"""
    val rounds = (1 to iters).map(round).mkString(",\n ")
    s"""WITH x AS (SELECT vec_id, unnest(list_transform(generate_series(1, len(embedding)), i -> {'i': i, 'v': embedding[i]})) AS s FROM embeddings),
       | e AS (SELECT vec_id, s.i AS dim, CAST(floor(CAST(s.v AS DOUBLE) * $scale.0) AS BIGINT) AS q FROM x),
       | ids AS (SELECT DISTINCT vec_id FROM e ORDER BY vec_id LIMIT $k),
       | c0m AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c, vec_id FROM ids),
       | cent0 AS (SELECT c0m.c, e.dim, e.q AS v FROM c0m JOIN e ON e.vec_id = c0m.vec_id),
       | $rounds""".stripMargin.replaceAll("\n", " ")
  }

  /** Shared CTEs for the decision-stump oracles: the histogram, the
    * non-equi prefix join (histogram-sized — the oracle's luxury; the
    * implementation scans the collected histogram once), and the
    * integer-fraction impurity. */
  private def treeStumpCtes: String =
    """WITH rbase AS MATERIALIZED (
      |  SELECT row_number() OVER () AS rid, l_quantity, l_discount, l_tax, l_returnflag FROM lineitem),
      | u AS (
      |  SELECT rid, 'l_quantity' AS f, CAST(l_quantity AS BIGINT) AS b, l_returnflag AS l FROM rbase
      |  UNION ALL SELECT rid, 'l_discount_c', CAST(round(l_discount * 100) AS BIGINT), l_returnflag FROM rbase
      |  UNION ALL SELECT rid, 'l_tax_c', CAST(round(l_tax * 100) AS BIGINT), l_returnflag FROM rbase),
      | bins AS (SELECT f, b, l, CAST(count(*) AS BIGINT) AS c FROM u
      |  WHERE b IS NOT NULL AND l IS NOT NULL GROUP BY 1, 2, 3),
      | thr AS (SELECT DISTINCT f, b FROM bins),
      | tot AS (SELECT f, l, CAST(sum(c) AS BIGINT) AS ct FROM bins GROUP BY 1, 2),
      | lc AS (SELECT t.f, t.b AS thr, bb.l, CAST(sum(bb.c) AS BIGINT) AS cl
      |  FROM thr t JOIN bins bb ON bb.f = t.f AND bb.b <= t.b GROUP BY 1, 2, 3),
      | sides AS (SELECT th.f, th.b AS thr, tt.l, coalesce(l2.cl, 0) AS cl, tt.ct - coalesce(l2.cl, 0) AS cr
      |  FROM thr th JOIN tot tt ON tt.f = th.f
      |  LEFT JOIN lc l2 ON l2.f = th.f AND l2.thr = th.b AND l2.l = tt.l),
      | spl AS (SELECT f, thr, CAST(sum(cl) AS BIGINT) AS n_left, CAST(sum(cr) AS BIGINT) AS n_right,
      |  CAST(sum(cl * cl) AS BIGINT) AS sl2, CAST(sum(cr * cr) AS BIGINT) AS sr2
      |  FROM sides GROUP BY 1, 2),
      | cand AS (SELECT f AS feature, thr AS threshold, n_left, n_right,
      |  CAST((n_left * n_left - sl2) * n_right + (n_right * n_right - sr2) * n_left AS BIGINT) AS num,
      |  CAST(n_left * n_right AS BIGINT) AS den
      |  FROM spl WHERE n_left > 0 AND n_right > 0),
      | scored AS (SELECT feature, threshold, n_left, n_right, num, den,
      |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS impurity FROM cand)"""
      .stripMargin.replaceAll("\n", " ")

  private def treeFeatures: Seq[TreeSplit.FeatureSpec] = Seq(
    TreeSplit.FeatureSpec("l_quantity", F.col("l_quantity")),
    TreeSplit.FeatureSpec("l_discount_c", F.round(F.col("l_discount") * 100)),
    TreeSplit.FeatureSpec("l_tax_c", F.round(F.col("l_tax") * 100)))

  /** Exact-Gini stump candidates ([[TreeSplit.stumpCandidates]]) on
    * lineitem's return flag: the 20 best (impurity, feature,
    * threshold) splits, every count exact, the criterion an integer
    * fraction with one final divide. */
  private def qTreeStump = Q(
    (s, dir) => TreeSplit.stumpCandidates(
        t(s, dir, "lineitem"), "l_returnflag", treeFeatures)
      .orderBy(F.col("impurity"), F.col("feature"), F.col("threshold"))
      .limit(20),
    Some(s"""$treeStumpCtes
            | SELECT feature, threshold, n_left, n_right, num, den, impurity
            | FROM scored ORDER BY impurity, feature, threshold LIMIT 20"""
      .stripMargin.replaceAll("\n", " ")))

  /** Best split per feature ([[TreeSplit.stumpBest]]). */
  private def qTreeStumpBest = Q(
    (s, dir) => TreeSplit.stumpBest(
        t(s, dir, "lineitem"), "l_returnflag", treeFeatures),
    Some(s"""$treeStumpCtes
            | SELECT feature, threshold, n_left, n_right, num, den, impurity FROM (
            |   SELECT *, row_number() OVER (PARTITION BY feature ORDER BY impurity, threshold) AS rn
            |   FROM scored)
            | WHERE rn = 1 ORDER BY feature""".stripMargin.replaceAll("\n", " ")))

  /** Depth-2 tree ([[TreeSplit.depth2]]): root split + each child's
    * best split. The oracle picks the root from the shared stump scan,
    * routes every ROW by `CASE WHEN b <= thr … ELSE 'right'` via the
    * row id, rebuilds both child histograms, and re-runs the whole
    * candidate scan per node — the full level-wise training step
    * replayed in SQL. */
  private def qTreeDepth2 = Q(
    (s, dir) => TreeSplit.depth2(
      t(s, dir, "lineitem"), "l_returnflag", treeFeatures),
    Some(s"""$treeStumpCtes,
            | root AS (SELECT feature, threshold FROM scored ORDER BY impurity, feature, threshold LIMIT 1),
            | sd AS (SELECT u2.rid, CASE WHEN u2.b <= (SELECT threshold FROM root) THEN 'left' ELSE 'right' END AS node
            |  FROM u u2 WHERE u2.f = (SELECT feature FROM root)),
            | ub AS (SELECT sd.node, u.f, u.b, u.l FROM u JOIN sd ON sd.rid = u.rid),
            | bins2 AS (SELECT node, f, b, l, CAST(count(*) AS BIGINT) AS c FROM ub
            |  WHERE b IS NOT NULL AND l IS NOT NULL GROUP BY 1, 2, 3, 4),
            | thr2 AS (SELECT DISTINCT node, f, b FROM bins2),
            | tot2 AS (SELECT node, f, l, CAST(sum(c) AS BIGINT) AS ct FROM bins2 GROUP BY 1, 2, 3),
            | lc2 AS (SELECT t.node, t.f, t.b AS thr, bb.l, CAST(sum(bb.c) AS BIGINT) AS cl
            |  FROM thr2 t JOIN bins2 bb ON bb.node = t.node AND bb.f = t.f AND bb.b <= t.b GROUP BY 1, 2, 3, 4),
            | sides2 AS (SELECT th.node, th.f, th.b AS thr, tt.l, coalesce(l2.cl, 0) AS cl, tt.ct - coalesce(l2.cl, 0) AS cr
            |  FROM thr2 th JOIN tot2 tt ON tt.node = th.node AND tt.f = th.f
            |  LEFT JOIN lc2 l2 ON l2.node = th.node AND l2.f = th.f AND l2.thr = th.b AND l2.l = tt.l),
            | spl2 AS (SELECT node, f, thr, CAST(sum(cl) AS BIGINT) AS n_left, CAST(sum(cr) AS BIGINT) AS n_right,
            |  CAST(sum(cl * cl) AS BIGINT) AS sl2, CAST(sum(cr * cr) AS BIGINT) AS sr2
            |  FROM sides2 GROUP BY 1, 2, 3),
            | cand2 AS (SELECT node, f AS feature, thr AS threshold, n_left, n_right,
            |  CAST((n_left * n_left - sl2) * n_right + (n_right * n_right - sr2) * n_left AS BIGINT) AS num,
            |  CAST(n_left * n_right AS BIGINT) AS den
            |  FROM spl2 WHERE n_left > 0 AND n_right > 0),
            | scored2 AS (SELECT node, feature, threshold, n_left, n_right, num, den,
            |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS impurity FROM cand2),
            | best2 AS (SELECT node, feature, threshold, n_left, n_right, num, den, impurity FROM (
            |  SELECT *, row_number() OVER (PARTITION BY node ORDER BY impurity, feature, threshold) AS rn FROM scored2)
            |  WHERE rn = 1)
            | SELECT node, feature, threshold, n_left, n_right, num, den, impurity FROM (
            |  SELECT 'root' AS node, feature, threshold, n_left, n_right, num, den, impurity
            |   FROM scored ORDER BY impurity, feature, threshold LIMIT 1)
            | UNION ALL SELECT node, feature, threshold, n_left, n_right, num, den, impurity FROM best2
            | ORDER BY node""".stripMargin.replaceAll("\n", " ")))

  private def qKmeansTrain = Q(
    (s, dir) => graft.pipeline.KMeansFixed.train(
      t(s, dir, "embeddings"), "embedding", "vec_id", k = 4, iters = 3),
    Some {
      s"""${kmeansSqlCtes(4, 3, 1000L)}
         | SELECT ct.c AS cluster, CAST(ct.dim AS BIGINT) AS dim, ct.v AS cval,
         |  coalesce(st.n_members, 0) AS n_members, coalesce(st.inertia, 0) AS inertia
         | FROM cent3 ct LEFT JOIN st3 st ON st.c = ct.c
         | ORDER BY cluster, dim""".stripMargin.replaceAll("\n", " ")
    })

  /** k-means INFERENCE ([[graft.pipeline.KMeansFixed.assign]]): train
    * the 3-iteration model, then map-only assignment of the whole
    * corpus. The oracle unrolls a FOURTH assignment round against the
    * trained centroids — so train and inference are both replayed. */
  private def qKmeansAssign = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val m = graft.pipeline.KMeansFixed.trainModel(emb, "embedding", "vec_id",
        k = 4, iters = 3)
      graft.pipeline.KMeansFixed.assign(emb, "embedding", "vec_id", m)
        .orderBy("id")
    },
    Some {
      s"""${kmeansSqlCtes(4, 4, 1000L)}
         | SELECT vec_id AS id, c AS cluster, d2 AS dist2 FROM b4 ORDER BY id"""
        .stripMargin.replaceAll("\n", " ")
    })

  /** k-means assignment AT INGESTION: the same map-only scoring column
    * on a Structured Streaming frame (stateless — the model is a plan
    * literal), append mode, AvailableNow. Oracle shared with
    * [[qKmeansAssign]] verbatim. */
  private def qStreamingKmeansAssign = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val m = graft.pipeline.KMeansFixed.trainModel(emb, "embedding", "vec_id",
        k = 4, iters = 3)
      val sdf = st(s, dir, "embeddings")
      Streams.toMemory(graft.pipeline.KMeansFixed.assign(sdf, "embedding", "vec_id", m))
        .orderBy("id")
    },
    qKmeansAssign.oracle)

  /** k-means assignment BEYOND the plan literal
    * ([[graft.pipeline.KMeansFixed.assignJoin]]): the broadcast-join
    * route [[graft.pipeline.KMeansFixed.assign]] takes automatically
    * past the k·dim ≤ 2¹⁶ centroid-literal bound (an IVF codebook at
    * 4096×64 is 4× over it) — centroids ship once per executor as a
    * broadcast side, the argmin is a map-side-combined
    * `min(struct(d, c))` per id. Forced here on the SAME 4-cluster
    * model so the oracle is shared with [[qKmeansAssign]] verbatim:
    * both routes must produce the identical assignment. */
  private def qKmeansAssignJoin = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val m = graft.pipeline.KMeansFixed.trainModel(emb, "embedding", "vec_id",
        k = 4, iters = 3)
      graft.pipeline.KMeansFixed.assignJoin(emb, "embedding", "vec_id", m)
        .orderBy("id")
    },
    qKmeansAssign.oracle)

  /** k-means EVALUATION: the cluster × ground-truth-label contingency
    * table ([[graft.pipeline.KMeansFixed.assign]] joined back to the
    * embeddings' labels) — the purity readout after training. One
    * map-only scoring pass + one bounded groupBy; the oracle reuses
    * the 4th unrolled assignment round joined to the label column. */
  private def qKmeansClusterPurity = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val m = graft.pipeline.KMeansFixed.trainModel(emb, "embedding", "vec_id",
        k = 4, iters = 3)
      graft.pipeline.KMeansFixed.assign(emb, "embedding", "vec_id", m)
        .join(emb.select(F.col("vec_id").as("id"),
          F.col("label").cast("long").as("label")), Seq("id"))
        .groupBy("cluster", "label").agg(F.count(F.lit(1)).as("n"))
        .orderBy("cluster", "label")
    },
    Some {
      s"""${kmeansSqlCtes(4, 4, 1000L)}
         | SELECT b4.c AS cluster, CAST(e.label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n
         | FROM b4 JOIN embeddings e ON e.vec_id = b4.vec_id
         | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", " ")
    })

  /** Quantile binning ([[ExactQuantiles.quantileBins]]): lineitem
    * quantity cut at exact quartiles (integer-valued, so type-7
    * interpolation is exact in binary64 and the cut points equal
    * `quantile_cont`'s bit-for-bit), then the per-bin summary. */
  private def qQuantileBins = Q(
    (s, dir) => ExactQuantiles.quantileBins(
        t(s, dir, "lineitem"), "l_quantity").orderBy("bin"),
    Some("""WITH q AS (SELECT quantile_cont(l_quantity, 0.25) AS q1,
           |   quantile_cont(l_quantity, 0.5) AS q2,
           |   quantile_cont(l_quantity, 0.75) AS q3 FROM lineitem),
           | b AS (SELECT CASE WHEN CAST(l_quantity AS DOUBLE) <= q1 THEN 0
           |   WHEN CAST(l_quantity AS DOUBLE) <= q2 THEN 1
           |   WHEN CAST(l_quantity AS DOUBLE) <= q3 THEN 2
           |   ELSE 3 END AS bin, CAST(l_quantity AS DOUBLE) AS v
           |  FROM lineitem CROSS JOIN q)
           | SELECT bin, CAST(count(*) AS BIGINT) AS n, min(v) AS v_min, max(v) AS v_max
           | FROM b GROUP BY bin ORDER BY bin""".stripMargin.replaceAll("\n", " ")))

  /** Smoothed target encoding ([[FeatureEncoding.targetEncode]]): each
    * event_type's mean `value` shrunk toward the global prior with
    * m = 10. Decimal-exact sums + one fixed IEEE tree → hash-exact. */
  private def qTargetEncoding = Q(
    (s, dir) => FeatureEncoding.targetEncode(
        events(s, dir), "event_type", "value", smoothing = 10.0)
      .orderBy("category"),
    Some("""WITH pc AS (SELECT event_type AS category, CAST(count(value) AS BIGINT) AS n,
           |   CAST(sum(CAST(value AS DECIMAL(33,6))) AS DOUBLE) AS s
           |  FROM events GROUP BY 1),
           | g AS (SELECT CAST(count(value) AS BIGINT) AS gn,
           |   CAST(sum(CAST(value AS DECIMAL(33,6))) AS DOUBLE) AS gs FROM events)
           | SELECT category, n,
           |  (s + 10.0 * (gs / CAST(gn AS DOUBLE))) / (CAST(n AS DOUBLE) + 10.0) AS enc
           | FROM pc CROSS JOIN g ORDER BY category""".stripMargin.replaceAll("\n", " ")))

  /** χ² class keywords ([[TextAnalysis.classChi2Keywords]]): top-10
    * class-DISCRIMINATIVE terms per `source` (the feature-selection
    * companion of `class_tfidf`). All 2×2-table inputs are exact
    * BIGINT document frequencies; the statistic is one fixed scalar
    * IEEE tree mirrored verbatim, rank ties (chi2 DESC, term DESC). */
  private def qClassChi2Keywords = Q(
    (s, dir) => TextAnalysis.classChi2Keywords(
        t(s, dir, "documents"), "source", "text", 10)
      .orderBy("class", "rank"),
    Some("""WITH dt AS (
           |  SELECT source AS class, unnest(list_distinct(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0))) AS term
           |  FROM documents),
           | a AS (SELECT class, term, CAST(count(*) AS BIGINT) AS df_class FROM dt GROUP BY 1, 2),
           | dft AS (SELECT term, CAST(sum(df_class) AS BIGINT) AS df FROM a GROUP BY 1),
           | nc AS (SELECT source AS class, CAST(count(*) AS BIGINT) AS ncd FROM documents GROUP BY 1),
           | nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           | s1 AS (SELECT a.class, a.term, a.df_class, dft.df, (SELECT n FROM nt) AS n,
           |   CAST(a.df_class AS DOUBLE) AS ad, CAST(nc.ncd - a.df_class AS DOUBLE) AS bd,
           |   CAST(dft.df - a.df_class AS DOUBLE) AS cd,
           |   CAST((SELECT n FROM nt) - nc.ncd - (dft.df - a.df_class) AS DOUBLE) AS dd,
           |   CAST((SELECT n FROM nt) AS DOUBLE) AS nd
           |  FROM a JOIN dft USING (term) JOIN nc USING (class)),
           | s2 AS (SELECT class, term, df_class, df,
           |   CASE WHEN df = n THEN 0.0 ELSE
           |     (nd * (ad * dd - bd * cd) * (ad * dd - bd * cd))
           |       / ((ad + bd) * (cd + dd) * (ad + cd) * (bd + dd)) END AS chi2
           |  FROM s1),
           | r AS (SELECT class, term, df_class, df, chi2,
           |   row_number() OVER (PARTITION BY class ORDER BY chi2 DESC, term DESC) AS rank FROM s2)
           | SELECT class, term, df_class, df, chi2, CAST(rank AS BIGINT) AS rank
           | FROM r WHERE rank <= 10 ORDER BY class, rank""".stripMargin.replaceAll("\n", " ")))

  /** Calibration bins ([[ModelPerf.calibrationBins]]) of the dyadic
    * md5-weight classifier logit against the `lang = 'en'` label: the
    * reliability table, 16 bins over [−8, 8]. Logits are exact (16
    * fractional bits per weight), counts BIGINT, bounds/frac single
    * IEEE expressions — the whole table hash-matches. */
  private def qCalibrationReport = Q(
    (s, dir) => {
      val w = QualityClassifier.md5Weights(1024)
      val scored = t(s, dir, "documents").select(
        QualityClassifier.logitOf(F.col("text"), w.toSeq, 0.0,
          QualityClassifier.featureMd5(_, 1024)).as("logit"),
        (F.col("lang") === "en").as("y"))
      ModelPerf.calibrationBins(scored, F.col("logit"), F.col("y"),
        bins = 16, lo = -8.0, hi = 8.0).orderBy("bin")
    },
    Some("""WITH w AS (SELECT j, (CAST('0x' || substr(md5('w:' || CAST(j AS VARCHAR)), 1, 4) AS INT) - 32768) / 65536.0 AS wt
           |   FROM generate_series(0, 1023) g(j)),
           | tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> len(t) > 0)) AS t
           |   FROM documents),
           | f AS (SELECT doc_id, CAST('0x' || substr(md5('f:' || t), 1, 4) AS INT) % 1024 AS j FROM tok),
           | sc AS (SELECT doc_id, sum(wt) AS logit FROM f JOIN w USING (j) GROUP BY 1),
           | lg AS (SELECT d.doc_id, coalesce(sc.logit, 0.0) AS logit,
           |   CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
           |  FROM documents d LEFT JOIN sc USING (doc_id)),
           | b AS (SELECT CASE WHEN logit <= -8.0 THEN 0
           |   WHEN logit >= 8.0 THEN 15
           |   ELSE least(CAST(floor(((logit - -8.0) / 16.0) * 16.0) AS BIGINT), 15) END AS bin, y
           |  FROM lg),
           | g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos FROM b GROUP BY 1)
           | SELECT bin, -8.0 + (CAST(bin AS DOUBLE) * 16.0) / 16.0 AS bin_lo,
           |  -8.0 + (CAST(bin + 1 AS DOUBLE) * 16.0) / 16.0 AS bin_hi,
           |  n, n_pos, CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos
           | FROM g ORDER BY bin""".stripMargin.replaceAll("\n", " ")))

  /** BPE merge-candidate table ([[TextAnalysis.bpePairCounts]]): top-50
    * adjacent character pairs within tokens, occurrence-weighted — the
    * round-0 pair counts of BPE vocabulary training. */
  private def qBpePairStats = Q(
    (s, dir) => TextAnalysis.bpePairCounts(t(s, dir, "documents"), "text", 50),
    Some("""WITH tok AS (SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0)) AS t FROM documents),
           | pr AS (SELECT unnest([substr(t, i, 2) for i in range(1, len(t))]) AS pair FROM tok WHERE len(t) >= 2)
           | SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM pr GROUP BY pair
           | ORDER BY cnt DESC, pair LIMIT 50""".stripMargin.replaceAll("\n", " ")))

  /** NFC text canonicalization ([[graft.functions.UnicodeNormalize]],
    * the native codegen'd expression): per doc the md5 of the
    * normalized text, a changed flag, and the normalized length. Java
    * and ICU both implement UAX #15, so the digests hash-match. */
  private def qNormalizeNfc = Q(
    (s, dir) => {
      val norm = graft.functions.Normalize.unicode_normalize(F.col("text"), "NFC")
      t(s, dir, "documents").select(F.col("doc_id"),
          F.md5(norm).as("norm_md5"),
          (norm =!= F.col("text")).as("changed"),
          F.length(norm).as("n_chars_norm"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, md5(nfc_normalize(text)) AS norm_md5,
           | nfc_normalize(text) <> text AS changed,
           | length(nfc_normalize(text)) AS n_chars_norm
           | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** l-diversity audit ([[DataAudit.lDiversity]]): distinct users per
    * (event_type, day) quasi-identifier group, reported as the
    * l-histogram. All counts exact. */
  private def qLDiversity = Q(
    (s, dir) => DataAudit.lDiversity(
        events(s, dir).withColumn("day", F.to_date(F.col("ts"))),
        Seq("event_type", "day"), "user_id")
      .orderBy("l"),
    Some("""WITH g AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           |   CAST(count(DISTINCT user_id) AS BIGINT) AS l, CAST(count(*) AS BIGINT) AS r
           |  FROM events GROUP BY 1, 2)
           | SELECT l, CAST(count(*) AS BIGINT) AS n_groups, CAST(sum(r) AS BIGINT) AS n_rows
           | FROM g GROUP BY l ORDER BY l""".stripMargin.replaceAll("\n", " ")))

  /** Near-dup cluster-size histogram: one row per duplicate-family
    * size with the family count — the "how bad is the duplication"
    * summary a curation run reports before deciding cap/threshold
    * settings. Reuses the `dedup_clusters` provable-equality regime;
    * the keeper rows (one per cluster) make the histogram exact. */
  private def qDedupClusterHistogram = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism, F.col("doc_id"))
      Dedup.nearDupClusters(docs, "text", "doc_id",
          numPerm = 64, bands = 32, threshold = 0.5)
        .filter(F.col("keep"))
        .groupBy("cluster_size").agg(F.count(F.lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    },
    Some(s"""WITH RECURSIVE ${nearDupComponentsCte()},
           | sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size FROM comp GROUP BY component)
           | SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
           | FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin.replaceAll("\n", " ")))

  /** Last-touch attribution ([[graft.pipeline.AsofJoin]]): every
    * purchase joined to the user's latest click/view at-or-before it —
    * the marketing-analytics shape of the point-in-time join. Oracle =
    * DuckDB's native ASOF LEFT JOIN (independent implementation), same
    * regime as `asof_join`. */
  private def qAttributionLastTouch = Q(
    (s, dir) => {
      val ev = events(s, dir)
      val touches = ev.filter(F.col("event_type").isin("click", "view"))
        .select(F.col("user_id"), F.col("ts"),
          F.col("event_id").as("touch_id"),
          F.col("event_type").as("touch_type"))
      graft.pipeline.AsofJoin.asofLeft(
          ev.filter(F.col("event_type") === "purchase")
            .select("user_id", "ts", "event_id", "value"),
          touches, keyCols = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightPayload = Seq("touch_id", "touch_type"), tieCol = "touch_id")
        .select(F.col("event_id"), F.col("user_id"),
          F.unix_micros(F.col("ts")).as("ts_us"),
          F.col("value").as("purchase_value"),
          F.col("touch_id"), F.col("touch_type"))
        .orderBy("event_id")
    },
    Some("""SELECT l.event_id, l.user_id,
           | epoch_us(CAST(l.ts AS TIMESTAMP)) AS ts_us,
           | l.value AS purchase_value,
           | r.event_id AS touch_id, r.event_type AS touch_type
           | FROM (SELECT * FROM events WHERE event_type = 'purchase') l
           | ASOF LEFT JOIN
           |  (SELECT user_id, ts, event_id, event_type FROM events
           |   WHERE event_type IN ('click', 'view')) r
           | ON l.user_id = r.user_id AND l.ts >= r.ts
           | ORDER BY l.event_id""".stripMargin.replaceAll("\n", " ")))

  /** Join-cardinality preflight ([[DataAudit.joinCardinality]]): the
    * exact output size of the events⋈events self-join on user_id
    * (Σ cnt² — the worst-case many-to-many shape) computed WITHOUT
    * running the join. All BIGINTs; max_key ties to the largest key. */
  private def qJoinCardinality = Q(
    (s, dir) => {
      val ev = t(s, dir, "events")
      DataAudit.joinCardinality(ev, ev, "user_id", "user_id")
    },
    Some("""WITH c AS (SELECT CAST(user_id AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS cnt
           |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
           | j AS (SELECT k, CAST(cnt * cnt AS BIGINT) AS p FROM c),
           | m AS (SELECT p, k FROM j ORDER BY p DESC, k DESC LIMIT 1)
           | SELECT CAST(COALESCE(sum(p), 0) AS BIGINT) AS out_rows,
           |  (SELECT CAST(count(*) AS BIGINT) FROM events) AS left_rows,
           |  (SELECT CAST(count(*) AS BIGINT) FROM events) AS right_rows,
           |  CAST(count(*) AS BIGINT) AS matched_keys,
           |  (SELECT p FROM m) AS max_key_product,
           |  (SELECT k FROM m) AS max_key
           | FROM j""".stripMargin.replaceAll("\n", " ")))

  /** ANN at INGESTION ([[Similarity.ivfTopK]] streaming mode): query
    * vectors arrive as a stream, probe the static IVF-indexed corpus
    * via a stateless stream-static cell join, and the bounded top-k
    * aggregate (complete mode, k entries of state per query) emits
    * neighbors. Probed EXHAUSTIVELY (nprobe = numCentroids), so the
    * streamed result must equal the batch brute force — this reuses
    * the `embedding_ivf_exhaustive` oracle verbatim. */
  private def qStreamingAnn = Q(
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val sdf = st(s, dir, "embeddings")
        .filter(F.col("vec_id") < 20)
      Streams.toMemory(Similarity.ivfTopK(emb, sdf, numCentroids = 8, nprobe = 8, k = 5),
        "complete").select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    },
    qEmbeddingIvfExhaustive.oracle)

  /** Exact percent-rank without a global sort
    * ([[ExactQuantiles.percentRanks]]): per-value counts →
    * range-partitioned prefix sums, never an unpartitioned window (the
    * single-task trap `percent_rank() OVER (ORDER BY v)` plans). The
    * oracle IS that native window function — an independent
    * implementation, not a SQL re-derivation. */
  private def qPercentRanks = Q(
    (s, dir) => ExactQuantiles.percentRanks(
      t(s, dir, "lineitem"), "l_quantity").orderBy("value"),
    Some("""WITH pr AS (SELECT CAST(l_quantity AS DOUBLE) AS value,
           |   percent_rank() OVER (ORDER BY CAST(l_quantity AS DOUBLE)) AS p,
           |   row_number() OVER (ORDER BY CAST(l_quantity AS DOUBLE)) AS rn
           |  FROM lineitem)
           | SELECT value, CAST(min(rn) - 1 AS BIGINT) AS n_below, min(p) AS pct_rank
           | FROM pr GROUP BY value ORDER BY value""".stripMargin.replaceAll("\n", " ")))

  /** Exact Spearman rank correlation ([[DataAudit.spearmanCorr]]) of
    * quantity vs extended price: integer doubled-midranks, BIGINT
    * sufficient statistics, one IEEE ratio — the oracle replays rank
    * construction (per-value tie counts + strict-below prefix sums)
    * and the centered sums bit-for-bit. */
  private def qSpearmanCorr = Q(
    (s, dir) => graft.analysis.DataAudit.spearmanCorr(
      t(s, dir, "lineitem"), "l_quantity", "l_extendedprice"),
    Some("""WITH b AS (SELECT CAST(l_quantity AS DOUBLE) AS a, CAST(l_extendedprice AS DOUBLE) AS v2 FROM lineitem
           |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
           | nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
           | ga AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
           | ra AS (SELECT v, c, CAST(coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c, 0) AS BIGINT) AS nb FROM ga),
           | gb AS (SELECT v2 AS v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
           | rb AS (SELECT v, c, CAST(coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c, 0) AS BIGINT) AS nb FROM gb),
           | d AS (SELECT (2 * ra.nb + ra.c - nn.n) AS da, (2 * rb.nb + rb.c - nn.n) AS db
           |  FROM b JOIN ra ON ra.v = b.a JOIN rb ON rb.v = b.v2 CROSS JOIN nn)
           | SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(da * db) AS BIGINT) AS s_ab,
           |  CAST(sum(da * da) AS BIGINT) AS s_aa, CAST(sum(db * db) AS BIGINT) AS s_bb,
           |  CASE WHEN sum(da * da) = 0 OR sum(db * db) = 0 THEN NULL
           |   ELSE CAST(sum(da * db) AS DOUBLE)
           |    / (sqrt(CAST(sum(da * da) AS DOUBLE)) * sqrt(CAST(sum(db * db) AS DOUBLE))) END AS rho
           | FROM d""".stripMargin.replaceAll("\n", " ")))

  /** Spearman rank-correlation MATRIX ([[DataAudit.spearmanMatrix]]):
    * all three pairs over (quantity, discount, tax) with EVERY rank
    * table from one melted scan + one range exchange and all sums from
    * one aggregate. The oracle rebuilds all three rank tables and the
    * complete-case join chain. */
  private def qSpearmanMatrix = Q(
    (s, dir) => graft.analysis.DataAudit.spearmanMatrix(
      t(s, dir, "lineitem"), Seq("l_quantity", "l_discount", "l_tax")),
    Some("""WITH b AS (SELECT CAST(l_quantity AS DOUBLE) AS va, CAST(l_discount AS DOUBLE) AS vb,
           |   CAST(l_tax AS DOUBLE) AS vc FROM lineitem
           |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
           | nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
           | ga AS (SELECT va AS v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
           | ra AS (SELECT v, c, CAST(coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c, 0) AS BIGINT) AS nb FROM ga),
           | gb AS (SELECT vb AS v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
           | rb AS (SELECT v, c, CAST(coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c, 0) AS BIGINT) AS nb FROM gb),
           | gc AS (SELECT vc AS v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
           | rc AS (SELECT v, c, CAST(coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c, 0) AS BIGINT) AS nb FROM gc),
           | d AS (SELECT (2 * ra.nb + ra.c - nn.n) AS da, (2 * rb.nb + rb.c - nn.n) AS db,
           |   (2 * rc.nb + rc.c - nn.n) AS dc
           |  FROM b JOIN ra ON ra.v = b.va JOIN rb ON rb.v = b.vb JOIN rc ON rc.v = b.vc CROSS JOIN nn),
           | s AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |   CAST(sum(da * db) AS BIGINT) AS sab, CAST(sum(da * dc) AS BIGINT) AS sac,
           |   CAST(sum(db * dc) AS BIGINT) AS sbc, CAST(sum(da * da) AS BIGINT) AS saa,
           |   CAST(sum(db * db) AS BIGINT) AS sbb, CAST(sum(dc * dc) AS BIGINT) AS scc FROM d)
           | SELECT 'l_discount' AS f1, 'l_quantity' AS f2, n,
           |   CAST(sab AS DOUBLE) / (sqrt(CAST(saa AS DOUBLE)) * sqrt(CAST(sbb AS DOUBLE))) AS rho FROM s
           | UNION ALL SELECT 'l_discount', 'l_tax', n,
           |   CAST(sbc AS DOUBLE) / (sqrt(CAST(sbb AS DOUBLE)) * sqrt(CAST(scc AS DOUBLE))) FROM s
           | UNION ALL SELECT 'l_quantity', 'l_tax', n,
           |   CAST(sac AS DOUBLE) / (sqrt(CAST(saa AS DOUBLE)) * sqrt(CAST(scc AS DOUBLE))) FROM s
           | ORDER BY f1, f2""".stripMargin.replaceAll("\n", " ")))

  /** Quantized-log mutual information
    * ([[DataAudit.mutualInformation]]) between return flag and line
    * status: every pointwise term an in-plan floor(1e6·ln) integer
    * weighted by the exact cell count — the information-theoretic
    * feature↔label association, partitioning-invariant. */
  private def qFeatureMutualInfo = Q(
    (s, dir) => graft.analysis.DataAudit.mutualInformation(
      t(s, dir, "lineitem"), F.col("l_returnflag"), F.col("l_linestatus")),
    Some("""WITH j AS (SELECT l_returnflag AS a, l_linestatus AS b, CAST(count(*) AS BIGINT) AS c
           |  FROM lineitem WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL GROUP BY 1, 2),
           | ca AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM j GROUP BY 1),
           | cb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM j GROUP BY 1),
           | tt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM j),
           | q AS (SELECT j.c, CAST(floor(1000000.0 * ln(CAST(j.c * tt.n AS DOUBLE) / CAST(ca.ca * cb.cb AS DOUBLE))) AS BIGINT) AS pq, tt.n
           |  FROM j JOIN ca ON ca.a = j.a JOIN cb ON cb.b = j.b CROSS JOIN tt)
           | SELECT max(n) AS n, CAST(sum(c * pq) AS BIGINT) AS mi_q,
           |  (CAST(sum(c * pq) AS DOUBLE) / 1000000.0) / CAST(max(n) AS DOUBLE) AS mi_nats
           | FROM q""".stripMargin.replaceAll("\n", " ")))

  /** Fuzzy record linkage AT INGESTION
    * ([[graft.pipeline.FuzzyDedup.matchIndex]] on a Structured
    * Streaming probe): typo'd part names stream against the static
    * master name table through the blocked thresholded-Levenshtein
    * join — stream–static, append mode, stateless per probe row. Both
    * engines replay the identical cross-table linkage. */
  private def qStreamingFuzzyMatch = Q(
    (s, dir) => streamingFuzzyMatch(s, dir, maxBlockSize = None),
    Some(fuzzyMatchOracle(None)))

  /** Cramér's V ([[DataAudit.cramersV]]) between order status and
    * order priority: χ² from the joint histogram via the zero-cell-free
    * `Σ n·o²/(r·s) − n` identity, every term an in-plan floor(1e6·x)
    * integer — the NORMALIZED categorical association, bounded [0,1]
    * across table shapes where raw χ² is not. */
  private def qCramersV = Q(
    (s, dir) => graft.analysis.DataAudit.cramersV(
      t(s, dir, "orders"), F.col("o_orderstatus"), F.col("o_orderpriority")),
    Some("""WITH j AS (SELECT o_orderstatus AS a, o_orderpriority AS b, CAST(count(*) AS BIGINT) AS c
           |  FROM orders WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL GROUP BY 1, 2),
           | ca AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM j GROUP BY 1),
           | cb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM j GROUP BY 1),
           | tt AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(DISTINCT a) AS BIGINT) AS r,
           |   CAST(count(DISTINCT b) AS BIGINT) AS s FROM j),
           | q AS (SELECT max(tt.n) AS n, max(tt.r) AS r_levels, max(tt.s) AS c_levels,
           |   CAST(sum(CAST(floor(1000000.0 * (CAST(tt.n AS DOUBLE) * CAST(j.c * j.c AS DOUBLE)
           |     / CAST(ca.ca * cb.cb AS DOUBLE))) AS BIGINT)) AS BIGINT) AS chi2_q
           |  FROM j JOIN ca ON ca.a = j.a JOIN cb ON cb.b = j.b CROSS JOIN tt)
           | SELECT n, r_levels, c_levels, chi2_q,
           |  greatest(CAST(chi2_q AS DOUBLE) / 1000000.0 - CAST(n AS DOUBLE), 0.0) AS chi2,
           |  CASE WHEN least(r_levels, c_levels) = 1 THEN NULL
           |   ELSE sqrt(greatest(CAST(chi2_q AS DOUBLE) / 1000000.0 - CAST(n AS DOUBLE), 0.0)
           |     / CAST(n * (least(r_levels, c_levels) - 1) AS DOUBLE)) END AS cramers_v
           | FROM q""".stripMargin.replaceAll("\n", " ")))

  /** Blocked edit-distance fuzzy duplicate pairs
    * ([[graft.pipeline.FuzzyDedup.fuzzyPairs]]): the record-linkage
    * tier between exact dedup and MinHash — both engines build the
    * same noisy fixture (every 5th part name plus a deterministic
    * delete-3rd-char typo variant), block on the 2-char lowercase
    * prefix, length-band prefilter, exact Levenshtein ≤ 1. Catches
    * both the planted typos (dist 1) and the generator's exact name
    * collisions (dist 0). */
  private def qFuzzyPairs = Q(
    (s, dir) => {
      val src = t(s, dir, "part").filter(F.col("p_partkey") % 5 === 0)
        .select(F.col("p_partkey"), F.lower(F.col("p_name")).as("nm"))
      val u = src.select(F.col("p_partkey").as("id"), F.col("nm").as("s"))
        .unionAll(src.select((F.col("p_partkey") + 1000000L).as("id"),
          F.concat(F.substring(F.col("nm"), 1, 2),
            F.expr("substring(nm, 4)")).as("s")))
      graft.pipeline.FuzzyDedup.fuzzyPairs(u, "id", "s", maxDist = 1)
        .orderBy("id1", "id2")
    },
    Some("""WITH src AS (SELECT p_partkey, lower(p_name) AS nm FROM part WHERE p_partkey % 5 = 0),
           | u AS (SELECT p_partkey AS id, nm AS s FROM src
           |  UNION ALL
           |  SELECT p_partkey + 1000000, substr(nm, 1, 2) || substr(nm, 4) FROM src),
           | b AS (SELECT id, s, substr(s, 1, 2) AS blk, CAST(len(s) AS BIGINT) AS l FROM u)
           | SELECT x.id AS id1, y.id AS id2, x.s AS s1, y.s AS s2,
           |   CAST(levenshtein(x.s, y.s) AS BIGINT) AS dist
           | FROM b x JOIN b y ON x.blk = y.blk AND x.id < y.id AND abs(x.l - y.l) <= 1
           | WHERE levenshtein(x.s, y.s) <= 1
           | ORDER BY id1, id2""".stripMargin.replaceAll("\n", " ")))

  /** Greedy keep-min-id fuzzy dedup
    * ([[graft.pipeline.FuzzyDedup.dedupApply]]) over the same noisy
    * fixture: every row with ANY ≤-1-edit match at a smaller id drops
    * (the exact-dedup keep-first rule, no transitive closure). */
  private def qFuzzyDedupApply = Q(
    (s, dir) => {
      val src = t(s, dir, "part").filter(F.col("p_partkey") % 5 === 0)
        .select(F.col("p_partkey"), F.lower(F.col("p_name")).as("nm"))
      val u = src.select(F.col("p_partkey").as("id"), F.col("nm").as("s"))
        .unionAll(src.select((F.col("p_partkey") + 1000000L).as("id"),
          F.concat(F.substring(F.col("nm"), 1, 2),
            F.expr("substring(nm, 4)")).as("s")))
      graft.pipeline.FuzzyDedup.dedupApply(u, "id", "s", maxDist = 1)
        .orderBy("id")
    },
    Some("""WITH src AS (SELECT p_partkey, lower(p_name) AS nm FROM part WHERE p_partkey % 5 = 0),
           | u AS (SELECT p_partkey AS id, nm AS s FROM src
           |  UNION ALL
           |  SELECT p_partkey + 1000000, substr(nm, 1, 2) || substr(nm, 4) FROM src),
           | b AS (SELECT id, s, substr(s, 1, 2) AS blk, CAST(len(s) AS BIGINT) AS l FROM u),
           | losers AS (SELECT DISTINCT y.id AS id2
           |  FROM b x JOIN b y ON x.blk = y.blk AND x.id < y.id AND abs(x.l - y.l) <= 1
           |  WHERE levenshtein(x.s, y.s) <= 1)
           | SELECT id, s FROM u WHERE id NOT IN (SELECT id2 FROM losers)
           | ORDER BY id""".stripMargin.replaceAll("\n", " ")))

  /** MULTI-PASS blocked fuzzy pairs
    * ([[graft.pipeline.FuzzyDedup.fuzzyPairsMulti]], prefix + suffix
    * passes): the variant corpus plants the typo in the FIRST
    * character — inside the prefix block key — so the single-pass
    * prefix blocking provably misses every (original, variant) pair
    * (they land in different blocks) while the suffix pass recovers
    * them; the union is exact for ≤1-edit pairs on these strings (one
    * edit cannot corrupt both ends). The oracle replays both passes
    * and the UNION-dedup in SQL. */
  private def qFuzzyPairsMulti = Q(
    (s, dir) => {
      val src = t(s, dir, "part").filter(F.col("p_partkey") % 5 === 0)
        .select(F.col("p_partkey"), F.lower(F.col("p_name")).as("nm"))
      val u = src.select(F.col("p_partkey").as("id"), F.col("nm").as("s"))
        .unionAll(src.select((F.col("p_partkey") + 1000000L).as("id"),
          F.concat(F.lit("z"), F.expr("substring(nm, 2)")).as("s")))
      graft.pipeline.FuzzyDedup.fuzzyPairsMulti(u, "id", "s", maxDist = 1)
        .orderBy("id1", "id2")
    },
    Some("""WITH src AS (SELECT p_partkey, lower(p_name) AS nm FROM part WHERE p_partkey % 5 = 0),
           | u AS (SELECT p_partkey AS id, nm AS s FROM src
           |  UNION ALL
           |  SELECT p_partkey + 1000000, 'z' || substr(nm, 2) FROM src),
           | b AS (SELECT id, s, CAST(len(s) AS BIGINT) AS l,
           |   substr(lower(s), 1, 2) AS pblk, substr(lower(reverse(s)), 1, 2) AS sblk FROM u),
           | cand AS (
           |  SELECT x.id AS id1, y.id AS id2, x.s AS s1, y.s AS s2
           |   FROM b x JOIN b y ON x.pblk = y.pblk AND x.id < y.id AND abs(x.l - y.l) <= 1
           |  UNION
           |  SELECT x.id, y.id, x.s, y.s
           |   FROM b x JOIN b y ON x.sblk = y.sblk AND x.id < y.id AND abs(x.l - y.l) <= 1)
           | SELECT id1, id2, s1, s2, CAST(levenshtein(s1, s2) AS BIGINT) AS dist
           | FROM cand WHERE levenshtein(s1, s2) <= 1
           | ORDER BY id1, id2""".stripMargin.replaceAll("\n", " ")))

  /** CAPPED stream-static fuzzy linkage
    * ([[graft.pipeline.FuzzyDedup.matchIndex]] with `maxBlockSize`):
    * same probe stream and index as `streaming_fuzzy_match`, but index
    * blocks above the cap are skipped — the bounded-fan-out production
    * configuration (block keys are Zipf-distributed at corpus scale;
    * the cap turns the hot-block quadratic into a deterministic recall
    * cut). At sf0.01 the part table's 8 two-char blocks split 4 above /
    * 4 below the 250 cap, so the skip path does real work and the
    * oracle replays it with a HAVING filter. */
  private def qStreamingFuzzyMatchCapped = Q(
    (s, dir) => streamingFuzzyMatch(s, dir, maxBlockSize = Some(250)),
    Some(fuzzyMatchOracle(Some(250))))

  /** First-order Markov transition matrix
    * ([[graft.pipeline.Markov.transitions]]) over each user's
    * time-ordered event stream: exact counts plus the
    * integer-quantized transition probability `(10⁶·cnt) div rowTotal`
    * — no float accumulation anywhere in the matrix. */
  private def qMarkovTransitions = Q(
    (s, dir) => graft.pipeline.Markov.transitions(
      t(s, dir, "events"), "user_id", "ts", "event_type", "event_id")
      .orderBy("prev", "next"),
    Some("""WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
           |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
           | s AS (SELECT event_type AS next,
           |   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
           | t AS (SELECT prev, next, CAST(count(*) AS BIGINT) AS cnt FROM s
           |  WHERE prev IS NOT NULL GROUP BY 1, 2),
           | m AS (SELECT prev, CAST(sum(cnt) AS BIGINT) AS rt FROM t GROUP BY 1)
           | SELECT t.prev, t.next, t.cnt, CAST((1000000 * t.cnt) // m.rt AS BIGINT) AS p_q,
           |  CAST(t.cnt AS DOUBLE) / CAST(m.rt AS DOUBLE) AS p
           | FROM t JOIN m ON m.prev = t.prev ORDER BY t.prev, t.next""".stripMargin.replaceAll("\n", " ")))

  /** Most-likely next event per state
    * ([[graft.pipeline.Markov.topNext]]): deterministic argmax by
    * `(cnt desc, next asc)` over the transition matrix. */
  private def qMarkovTopNext = Q(
    (s, dir) => graft.pipeline.Markov.topNext(
      t(s, dir, "events"), "user_id", "ts", "event_type", "event_id")
      .orderBy("prev"),
    Some("""WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
           |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
           | s AS (SELECT event_type AS next,
           |   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
           | t AS (SELECT prev, next, CAST(count(*) AS BIGINT) AS cnt FROM s
           |  WHERE prev IS NOT NULL GROUP BY 1, 2),
           | m AS (SELECT prev, CAST(sum(cnt) AS BIGINT) AS rt FROM t GROUP BY 1),
           | r AS (SELECT t.prev, t.next, t.cnt,
           |   CAST((1000000 * t.cnt) // m.rt AS BIGINT) AS p_q,
           |   CAST(t.cnt AS DOUBLE) / CAST(m.rt AS DOUBLE) AS p,
           |   row_number() OVER (PARTITION BY t.prev ORDER BY t.cnt DESC, t.next) AS rk
           |  FROM t JOIN m ON m.prev = t.prev)
           | SELECT prev, next, cnt, p_q, p FROM r WHERE rk = 1
           | ORDER BY prev""".stripMargin.replaceAll("\n", " ")))

  /** EWMA + CUSUM timeline monitor
    * ([[graft.analysis.Monitor.ewmaCusumChart]]): integer fixed-point
    * control charts over daily event volume per type — the recursion
    * replays in DuckDB as a recursive CTE step for step, alarms
    * included. 21 of the 150 chart points alarm at (slack 3,
    * threshold 10) on the sf0.01 fixture, so both branches are
    * exercised. */
  private def qEwmaCusumChart = Q(
    (s, dir) => graft.analysis.Monitor.ewmaCusumChart(
      t(s, dir, "events"), "event_type", "ts"),
    Some("""WITH RECURSIVE d AS (
           |  SELECT event_type AS series, CAST(date_trunc('day', ts) AS DATE) AS day,
           |    CAST(count(*) AS BIGINT) AS x
           |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2),
           | o AS (SELECT series, day, x,
           |   CAST(row_number() OVER (PARTITION BY series ORDER BY day) AS BIGINT) AS i FROM d),
           | r AS (
           |  SELECT series, i, day, x, 1000000 * x AS e,
           |    CAST(0 AS BIGINT) AS c, CAST(0 AS BIGINT) AS resid
           |  FROM o WHERE i = 1
           |  UNION ALL
           |  SELECT o.series, o.i, o.day, o.x,
           |    (1 * 1000000 * o.x + 7 * r.e) // 8,
           |    greatest(0, r.c + (1000000 * o.x - r.e) - 3 * 1000000),
           |    1000000 * o.x - r.e
           |  FROM r JOIN o ON o.series = r.series AND o.i = r.i + 1)
           | SELECT series, day, x, e AS ewma_q, resid AS resid_q, c AS cusum_q,
           |  c > 10 * 1000000 AS alarm
           | FROM r ORDER BY series, day""".stripMargin.replaceAll("\n", " ")))

  /** Mann–Kendall trend + Sen's slope
    * ([[graft.analysis.Monitor.trendTest]]): the distribution-free
    * monotone-trend readout over each event type's daily volume —
    * exact S and tie-corrected variance from the bounded daily table,
    * continuity-corrected z, and the exact median pairwise slope. */
  private def qTrendTest = Q(
    (s, dir) => graft.analysis.Monitor.trendTest(
      t(s, dir, "events"), "event_type", "ts").orderBy("event_type"),
    Some("""WITH d AS (SELECT event_type AS s, CAST(date_trunc('day', ts) AS DATE) AS day,
           |   CAST(count(*) AS BIGINT) AS x
           |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2),
           | p AS (SELECT a.s, b.x - a.x AS dx, CAST(date_diff('day', a.day, b.day) AS BIGINT) AS dt
           |  FROM d a JOIN d b ON b.s = a.s AND b.day > a.day),
           | st AS (SELECT s, CAST(sum(CASE WHEN dx > 0 THEN 1 WHEN dx < 0 THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
           |  FROM p GROUP BY 1),
           | nn AS (SELECT s, CAST(count(*) AS BIGINT) AS n_days FROM d GROUP BY 1),
           | ti AS (SELECT s, CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tt
           |  FROM (SELECT s, x, CAST(count(*) AS BIGINT) AS t FROM d GROUP BY 1, 2) GROUP BY 1),
           | sl AS (SELECT s, CAST(dx AS DOUBLE) / CAST(dt AS DOUBLE) AS slope FROM p),
           | r AS (SELECT s, slope, row_number() OVER (PARTITION BY s ORDER BY slope) AS rn,
           |   count(*) OVER (PARTITION BY s) AS cnt FROM sl),
           | sen AS (SELECT s, (min(slope) + max(slope)) / 2.0 AS sen_slope FROM r
           |  WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY s),
           | v AS (SELECT nn.s, nn.n_days, CAST(coalesce(st.s_stat, 0) AS BIGINT) AS s_stat,
           |   CAST(nn.n_days * (nn.n_days - 1) * (2 * nn.n_days + 5) - coalesce(ti.tt, 0) AS DOUBLE) / 18.0 AS var_s
           |  FROM nn LEFT JOIN st ON st.s = nn.s LEFT JOIN ti ON ti.s = nn.s)
           | SELECT v.s AS event_type, v.n_days, v.s_stat, v.var_s,
           |  CASE WHEN v.var_s <= 0.0 THEN NULL
           |   WHEN v.s_stat > 0 THEN CAST(v.s_stat - 1 AS DOUBLE) / sqrt(v.var_s)
           |   WHEN v.s_stat < 0 THEN CAST(v.s_stat + 1 AS DOUBLE) / sqrt(v.var_s)
           |   ELSE 0.0 END AS z,
           |  sen.sen_slope
           | FROM v LEFT JOIN sen ON sen.s = v.s ORDER BY event_type""".stripMargin.replaceAll("\n", " ")))

  /** Theil's U ([[DataAudit.theilsU]]) between document language and
    * source: the asymmetric "what fraction of lang's entropy does
    * knowing source remove" readout, both directions — mutual
    * information and marginal entropies all integer sums of quantized
    * logs, each U one IEEE division of exact BIGINTs. */
  private def qTheilsU = Q(
    (s, dir) => graft.analysis.DataAudit.theilsU(
      t(s, dir, "documents"), F.col("lang"), F.col("source")),
    Some("""WITH j AS (SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS c
           |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
           | tt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM j),
           | ha AS (SELECT CAST(sum(cm * CAST(floor(1000000.0 * ln(CAST(tt.n AS DOUBLE) / CAST(cm AS DOUBLE))) AS BIGINT)) AS BIGINT) AS h_a_q
           |  FROM (SELECT a, CAST(sum(c) AS BIGINT) AS cm FROM j GROUP BY 1) CROSS JOIN tt),
           | hb AS (SELECT CAST(sum(cm * CAST(floor(1000000.0 * ln(CAST(tt.n AS DOUBLE) / CAST(cm AS DOUBLE))) AS BIGINT)) AS BIGINT) AS h_b_q
           |  FROM (SELECT b, CAST(sum(c) AS BIGINT) AS cm FROM j GROUP BY 1) CROSS JOIN tt),
           | ca AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM j GROUP BY 1),
           | cb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM j GROUP BY 1),
           | mi AS (SELECT max(tt.n) AS n,
           |   CAST(sum(j.c * CAST(floor(1000000.0 * ln(CAST(j.c * tt.n AS DOUBLE) / CAST(ca.ca * cb.cb AS DOUBLE))) AS BIGINT)) AS BIGINT) AS mi_q
           |  FROM j JOIN ca ON ca.a = j.a JOIN cb ON cb.b = j.b CROSS JOIN tt)
           | SELECT n, mi_q, h_a_q, h_b_q,
           |  CASE WHEN h_a_q = 0 THEN NULL ELSE CAST(mi_q AS DOUBLE) / CAST(h_a_q AS DOUBLE) END AS u_a_given_b,
           |  CASE WHEN h_b_q = 0 THEN NULL ELSE CAST(mi_q AS DOUBLE) / CAST(h_b_q AS DOUBLE) END AS u_b_given_a
           | FROM mi, ha, hb""".stripMargin.replaceAll("\n", " ")))

  /** Shared DuckDB CTE chain for the DSIR family: tokenize raw
    * (source ≠ src0) and target (source = src0) corpora, build the
    * add-1-smoothed shared-vocabulary unigram models, quantize each
    * per-token log importance ratio as floor(1e6·ln(exact BIGINT
    * fraction)), and sum per document. */
  private def dsirSqlCtes: String =
    """WITH tr AS (SELECT doc_id AS id,
      |   unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0)) AS w
      |  FROM documents WHERE source <> 'src0'),
      | tt AS (SELECT
      |   unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> len(w) > 0)) AS w
      |  FROM documents WHERE source = 'src0'),
      | cr AS (SELECT w, CAST(count(*) AS BIGINT) AS cr FROM tr GROUP BY 1),
      | ct AS (SELECT w, CAST(count(*) AS BIGINT) AS ct FROM tt GROUP BY 1),
      | vo AS (SELECT coalesce(cr.w, ct.w) AS w, coalesce(cr.cr, 0) AS cr, coalesce(ct.ct, 0) AS ct
      |  FROM cr FULL OUTER JOIN ct ON cr.w = ct.w),
      | tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt,
      |   CAST(count(*) AS BIGINT) AS v FROM vo),
      | lr AS (SELECT w, CAST(floor(1000000.0 * ln(CAST((ct + 1) * (nr + v) AS DOUBLE)
      |     / CAST((cr + 1) * (nt + v) AS DOUBLE))) AS BIGINT) AS lr_q
      |  FROM vo CROSS JOIN tot),
      | dw AS (SELECT tr.id AS doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |   CAST(sum(lr.lr_q) AS BIGINT) AS weight_q
      |  FROM tr JOIN lr ON lr.w = tr.w GROUP BY 1)""".stripMargin.replaceAll("\n", " ")

  /** DSIR importance weights ([[graft.pipeline.Dsir.importanceWeights]],
    * Xie et al. NeurIPS 2023): every raw document (source ≠ src0)
    * scored toward the target corpus (source = src0) by the exact
    * integer sum of quantized per-token log importance ratios under
    * add-1-smoothed shared-vocabulary unigram models — the
    * data-selection pass that skims a crawl toward a quality target,
    * partitioning-invariant via the floor(1e6·ln) bridge. */
  private def qDsirWeights = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.pipeline.Dsir.importanceWeights(
        docs.filter(F.col("source") =!= "src0"),
        docs.filter(F.col("source") === "src0"), "text", "doc_id")
        .orderBy("doc_id")
    },
    Some(s"""$dsirSqlCtes
            | SELECT doc_id, n_tokens, weight_q,
            |  (CAST(weight_q AS DOUBLE) / 1000000.0) / CAST(n_tokens AS DOUBLE) AS nats_per_token
            | FROM dw ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** DSIR selection ([[graft.pipeline.Dsir.selectTopK]]): the 50 most
    * target-like raw documents by length-normalized importance weight,
    * id tie-break — a top-k plan (TakeOrderedAndProject), never a
    * global sort. */
  private def qDsirSelect = Q(
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.pipeline.Dsir.selectTopK(
        docs.filter(F.col("source") =!= "src0"),
        docs.filter(F.col("source") === "src0"), "text", "doc_id", 50)
    },
    Some(s"""$dsirSqlCtes
            | SELECT doc_id, n_tokens, weight_q,
            |  (CAST(weight_q AS DOUBLE) / 1000000.0) / CAST(n_tokens AS DOUBLE) AS nats_per_token
            | FROM dw
            | ORDER BY nats_per_token DESC, doc_id LIMIT 50""".stripMargin.replaceAll("\n", " ")))

  /** URL canonicalization ([[graft.pipeline.Urls.normalizeUrl]]): the
    * web-corpus dedup key — scheme/host case, default ports, fragments,
    * utm_* tracking params, and query-parameter ORDER all collapse.
    * Both engines build the identical messy URL from the documents
    * table (mixed case, :443, unsorted params, utm noise, fragment)
    * and must normalize it identically, plus the per-host rollup. */
  private def qUrlCanonicalize = Q(
    (s, dir) => {
      val url = F.concat(
        F.lit("HTTPS://CDN."), F.col("source"), F.lit(".Example.COM:443/Docs/"),
        F.col("doc_id").cast("string"), F.lit("/page?utm_source=feed&b="),
        F.col("lang"), F.lit("&a=1#frag"))
      t(s, dir, "documents")
        .select(F.col("doc_id"), graft.pipeline.Urls.normalizeUrl(url).as("url"),
          graft.pipeline.Urls.urlHost(url).as("host"))
        .orderBy("doc_id")
    },
    Some("""WITH u AS (SELECT doc_id,
           |   'HTTPS://CDN.' || source || '.Example.COM:443/Docs/' || CAST(doc_id AS VARCHAR) || '/page?utm_source=feed&b=' || lang || '&a=1#frag' AS url
           |  FROM documents),
           | p AS (SELECT doc_id, lower(split_part(url, '://', 1)) AS sch,
           |   split_part(split_part(url, '://', 2), '#', 1) AS rest FROM u),
           | p2 AS (SELECT doc_id, sch, split_part(rest, '?', 1) AS pre, split_part(rest, '?', 2) AS qy FROM p),
           | p3 AS (SELECT doc_id, sch, qy, split_part(pre, '/', 1) AS hp,
           |   CASE WHEN len(pre) = len(split_part(pre, '/', 1)) THEN '/'
           |    ELSE substr(pre, len(split_part(pre, '/', 1)) + 1, len(pre)) END AS pth FROM p2),
           | p4 AS (SELECT doc_id, sch, qy, pth, lower(split_part(hp, ':', 1)) AS host, split_part(hp, ':', 2) AS prt FROM p3),
           | p5 AS (SELECT doc_id, sch, pth, host, prt,
           |   array_to_string(list_sort(list_filter(string_split(qy, '&'),
           |     x -> len(x) > 0 AND NOT regexp_matches(x, '^utm_'))), '&') AS q2 FROM p4)
           | SELECT doc_id,
           |  sch || '://' || host ||
           |  CASE WHEN prt <> '' AND NOT ((sch = 'https' AND prt = '443') OR (sch = 'http' AND prt = '80'))
           |   THEN ':' || prt ELSE '' END || pth ||
           |  CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END AS url,
           |  host
           | FROM p5 ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")))

  /** Exact Kendall τ-b ([[DataAudit.kendallTau]]) of quantity vs
    * discount: concordant/discordant counts from the bounded joint
    * histogram (550 cells — never row pairs), tie-corrected, every
    * count BIGINT. The oracle self-joins the same joint histogram and
    * replays the τ_b tree. */
  private def qKendallTau = Q(
    (s, dir) => graft.analysis.DataAudit.kendallTau(
      t(s, dir, "lineitem"), "l_quantity", "l_discount"),
    Some("""WITH j AS (SELECT CAST(l_quantity AS DOUBLE) AS a, CAST(l_discount AS DOUBLE) AS b,
           |   CAST(count(*) AS BIGINT) AS c FROM lineitem
           |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL GROUP BY 1, 2),
           | nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM j),
           | pp AS (SELECT CAST(coalesce(sum(CASE WHEN (y.a > x.a) = (y.b > x.b) THEN x.c * y.c ELSE 0 END), 0) AS BIGINT) AS nc,
           |   CAST(coalesce(sum(CASE WHEN (y.a > x.a) <> (y.b > x.b) THEN x.c * y.c ELSE 0 END), 0) AS BIGINT) AS nd
           |  FROM j x JOIN j y ON (y.a > x.a OR (y.a = x.a AND y.b > x.b)) AND y.a <> x.a AND y.b <> x.b),
           | ta AS (SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n1 FROM (SELECT CAST(sum(c) AS BIGINT) AS t FROM j GROUP BY a)),
           | tb AS (SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS n2 FROM (SELECT CAST(sum(c) AS BIGINT) AS t FROM j GROUP BY b)),
           | n0 AS (SELECT CAST(n * (n - 1) // 2 AS BIGINT) AS v, n FROM nn)
           | SELECT n0.n AS n, pp.nc, pp.nd, ta.n1 AS ties_a, tb.n2 AS ties_b,
           |  CASE WHEN n0.v - ta.n1 = 0 OR n0.v - tb.n2 = 0 THEN NULL
           |   ELSE CAST(pp.nc - pp.nd AS DOUBLE)
           |    / (sqrt(CAST(n0.v - ta.n1 AS DOUBLE)) * sqrt(CAST(n0.v - tb.n2 AS DOUBLE))) END AS tau_b
           | FROM pp, ta, tb, n0""".stripMargin.replaceAll("\n", " ")))

  /** Windowed term co-occurrence with quantized-log PMI
    * ([[TextAnalysis.termCooccurrence]]): skip-gram pair counts within
    * ±2 positions over the documents corpus, exact counts + in-plan
    * floor(1e6·ln) PMI, top-50 by (count, left, right). Pair
    * extraction is map-only array slicing in both engines. */
  private def qTermCooccurrence = Q(
    (s, dir) => TextAnalysis.termCooccurrence(
      t(s, dir, "documents"), "text", window = 2, topK = 50),
    Some("""WITH tk AS (SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
           |   w -> regexp_matches(w, '^[a-z0-9]+$')) AS ts FROM documents),
           | p AS (
           |  SELECT unnest([{'a': ts[i], 'b': ts[i+1]} for i in range(1, len(ts))]) AS pr FROM tk
           |  UNION ALL
           |  SELECT unnest([{'a': ts[i], 'b': ts[i+2]} for i in range(1, len(ts) - 1)]) AS pr FROM tk),
           | g AS (SELECT pr.a AS lft, pr.b AS rgt, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY 1, 2),
           | ca AS (SELECT lft, CAST(sum(cnt) AS BIGINT) AS ca FROM g GROUP BY 1),
           | cb AS (SELECT rgt, CAST(sum(cnt) AS BIGINT) AS cb FROM g GROUP BY 1),
           | tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM g)
           | SELECT g.lft AS "left", g.rgt AS "right", g.cnt,
           |  CAST(floor(1000000.0 * ln(CAST(g.cnt * tt.total AS DOUBLE) / CAST(ca.ca * cb.cb AS DOUBLE))) AS BIGINT) AS pmi_q
           | FROM g JOIN ca ON ca.lft = g.lft JOIN cb ON cb.rgt = g.rgt CROSS JOIN tt
           | ORDER BY g.cnt DESC, g.lft, g.rgt LIMIT 50""".stripMargin.replaceAll("\n", " ")))

  /** Batched multi-column percent-ranks
    * ([[ExactQuantiles.percentRanksMulti]]): three lineitem columns
    * ranked from ONE scan + ONE range exchange (the columns melt into
    * `(column, value)` pairs map-side; per-column prefix bases come
    * from the same bounded per-partition-totals collect), where three
    * [[qPercentRanks]] calls would pay three of each. */
  private def qPercentRanksMulti = Q(
    (s, dir) => ExactQuantiles.percentRanksMulti(
      t(s, dir, "lineitem"), Seq("l_quantity", "l_discount", "l_tax"))
      .orderBy("feature", "value"),
    Some("""WITH u AS (
           |  SELECT 'l_quantity' AS feature, CAST(l_quantity AS DOUBLE) AS value FROM lineitem WHERE l_quantity IS NOT NULL
           |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem WHERE l_discount IS NOT NULL
           |  UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem WHERE l_tax IS NOT NULL),
           | pr AS (SELECT feature, value,
           |   percent_rank() OVER (PARTITION BY feature ORDER BY value) AS p,
           |   row_number() OVER (PARTITION BY feature ORDER BY value) AS rn FROM u)
           | SELECT feature, value, CAST(count(*) AS BIGINT) AS n_value,
           |  CAST(min(rn) - 1 AS BIGINT) AS n_below, min(p) AS pct_rank
           | FROM pr GROUP BY feature, value
           | ORDER BY feature, value""".stripMargin.replaceAll("\n", " ")))

  /** Robust scaling audit ([[FeatureEncoding.robustScaleStats]]):
    * median/IQR fit on the integer-valued quantity column (cut points
    * exact in binary64 → replay through quantile_cont) and the scaled
    * range in one summary row. */
  private def qRobustScale = Q(
    (s, dir) => FeatureEncoding.robustScaleStats(
      t(s, dir, "lineitem"), "l_quantity"),
    Some("""WITH q AS (SELECT quantile_cont(l_quantity, 0.25) AS q1,
           |   quantile_cont(l_quantity, 0.5) AS med,
           |   quantile_cont(l_quantity, 0.75) AS q3 FROM lineitem)
           | SELECT med AS median, q3 - q1 AS iqr, CAST(count(*) AS BIGINT) AS n,
           |  min((CAST(l_quantity AS DOUBLE) - med) / (q3 - q1)) AS scaled_min,
           |  max((CAST(l_quantity AS DOUBLE) - med) / (q3 - q1)) AS scaled_max
           | FROM lineitem CROSS JOIN q GROUP BY med, q3 - q1""".stripMargin.replaceAll("\n", " ")))

  // ------------------------------------------------------------------

  val all: ListMap[String, Q] = ListMap(
    "profile_counts" -> qProfileCounts,
    "profile_types" -> qProfileTypes,
    "profile_mixed_types" -> qProfileMixedTypes,
    "profile_ints" -> qProfileInts,
    "profile_moments" -> qProfileMoments,
    "quantiles_exact" -> qQuantilesExact,
    "kll_quantiles" -> qKllQuantiles,
    "cardinality" -> qCardinality,
    "cardinality_hll_bounds" -> qCardinalityBounds,
    "frequent_items" -> qFrequentItems,
    "unicode_range" -> qUnicodeRange,
    "bow_term_counts" -> qBowTermCounts,
    "corpus_ngrams" -> qCorpusNgrams,
    "tfidf_top_terms" -> qTfIdfTopTerms,
    "corpus_vocab" -> qCorpusVocab,
    "bow_doc_stats" -> qBowDocStats,
    "segmented_profile" -> qSegmentedProfile,
    "segmented_filtered_profile" -> qSegmentedFilteredProfile,
    "merge_profiles" -> qMergeProfiles,
    "full_profile_summary" -> qFullProfileSummary,
    "profile_summary_exact" -> qProfileSummaryExact,
    "profile_store_roundtrip" -> qProfileStoreRoundtrip,
    "csv_source_profile" -> qCsvSourceProfile,
    "why1_roundtrip" -> qWhy1Roundtrip,
    "why1_segmented_roundtrip" -> qWhy1SegmentedRoundtrip,
    "v0_migration_roundtrip" -> qV0MigrationRoundtrip,
    "condition_counts" -> qConditionCounts,
    "condition_counts_parsed" -> qConditionCountsParsed,
    "condition_counts_metric_ref" -> qConditionCountsMetricRef,
    "constraints_report" -> qConstraintsReport,
    "constraints_comparison" -> qConstraintsComparison,
    "constraints_generated" -> qConstraintsGenerated,
    "validators" -> qValidators,
    "validators_sampled" -> qValidatorsSampled,
    "udf_profile" -> qUdfProfile,
    "confusion_matrix" -> qConfusionMatrix,
    "regression_metrics" -> qRegressionMetrics,
    "segmented_model_perf" -> qSegmentedModelPerf,
    "accuracy_estimator" -> qAccuracyEstimator,
    "drift_scores" -> qDriftScores,
    "viz_summary_report" -> qVizSummaryReport,
    "drift_chi2_stat" -> qDriftChi2Stat,
    "drift_ks_exact" -> qDriftKsExact,
    "drift_ks_segmented" -> qDriftKsSegmented,
    "drift_psi_segmented" -> qDriftPsiSegmented,
    "drift_jsd_segmented" -> qDriftJsdSegmented,
    "drift_emd_segmented" -> qDriftEmdSegmented,
    "drift_alert_report" -> qDriftAlertReport,
    "drift_timeline_ks" -> qDriftTimelineKs,
    "drift_hellinger_exact" -> qDriftHellingerExact,
    "drift_psi" -> qDriftPsi,
    "drift_jsd_exact" -> qDriftJsd,
    "drift_emd_exact" -> qDriftEmd,
    "drift_psi_quantile" -> qDriftPsiQuantile,
    "iqr_outliers" -> qIqrOutliers,
    "dedup_exact" -> qDedupExact,
    "dedup_bloom" -> qDedupBloom,
    "dedup_normalized" -> qDedupNormalized,
    "dedup_minhash_sig" -> qDedupMinhashSig,
    "dedup_simhash" -> qDedupSimhash,
    "dedup_minhash_sig_md5" -> qDedupMinhashSigMd5,
    "dedup_simhash_md5" -> qDedupSimhashMd5,
    "ngram_jaccard" -> qNgramJaccard,
    "dedup_near" -> qDedupNear,
    "dedup_clusters" -> qDedupClusters,
    "dedup_keep_best" -> qDedupKeepBest,
    "dedup_paragraphs" -> qDedupParagraphs,
    "dedup_paragraphs_counts" -> qDedupParagraphsCounts,
    "dedup_bloom_sharded" -> qDedupBloomSharded,
    "dedup_apply" -> qDedupApply,
    "dedup_near_capped" -> qDedupNearCapped,
    "dedup_incremental" -> qDedupIncremental,
    "embedding_topk" -> qEmbeddingTopK,
    "embedding_ivf" -> qEmbeddingIvf,
    "embedding_ivf_recall" -> qEmbeddingIvfRecall,
    "embedding_ivf_exhaustive" -> qEmbeddingIvfExhaustive,
    "embedding_pq" -> qEmbeddingPq,
    "embedding_pq_recall" -> qEmbeddingPqRecall,
    "embedding_pq_exhaustive" -> qEmbeddingPqExhaustive,
    "embedding_ivfpq" -> qEmbeddingIvfPq,
    "embedding_ivfpq_exhaustive" -> qEmbeddingIvfPqExhaustive,
    "streaming_ivfpq" -> qStreamingIvfPq,
    "streaming_ivfpq_ingest" -> qStreamingIvfPqIngest,
    "ivfpq_persisted_search" -> qIvfPqPersistedSearch,
    "dedup_embedding" -> qDedupEmbedding,
    "dedup_embedding_lsh" -> qDedupEmbeddingLsh,
    "dedup_embedding_lsh_md5" -> qDedupEmbeddingLshMd5,
    "dedup_embedding_lsh_recall" -> qDedupEmbeddingLshRecall,
    "semdedup" -> qSemDedup,
    "semdedup_clustered" -> qSemDedupClustered,
    "semdedup_auto" -> qSemDedupAuto,
    "semdedup_auto_exact" -> qSemDedupAutoExact,
    "embedding_metric" -> qEmbeddingMetric,
    "embedding_pca_refs" -> qEmbeddingPcaRefs,
    "embedding_pca_refs_exact" -> qEmbeddingPcaRefsExact,
    "embedding_drift" -> qEmbeddingDrift,
    "embedding_centroid_shift" -> qEmbeddingCentroidShift,
    "text_stats" -> qTextStats,
    "text_entropy" -> qTextEntropy,
    "trigram_lm_score" -> qTrigramLmScore,
    "backoff_lm_score" -> qBackoffLmScore,
    "doc_line_dedup" -> qDocLineDedup,
    "corpus_report" -> qCorpusReport,
    "zipf_fit" -> qZipfFit,
    "bm25_top_docs" -> qBm25TopDocs,
    "quality_filter" -> qQualityFilter,
    "quality_classifier_score" -> qQualityClassifierScore,
    "quality_classifier_train" -> qQualityClassifierTrain,
    "c4_clean" -> qC4Clean,
    "charlm_score" -> qCharlmScore,
    "text_repetition" -> qTextRepetition,
    "corpus_pipeline" -> qCorpusPipeline,
    "token_counts" -> qTokenCounts,
    "token_counts_bpe" -> qTokenCountsBpe,
    "streaming_token_counts_bpe" -> qStreamingTokenCountsBpe,
    "mixture_weights_bpe" -> qMixtureWeightsBpe,
    "token_counts_bpe_bytes" -> qTokenCountsBpeBytes,
    "mixture_weights_bpe_bytes" -> qMixtureWeightsBpeBytes,
    "sample_stratified" -> qSampleStratified,
    "sample_split" -> qSampleSplit,
    "sample_balanced" -> qSampleBalanced,
    "sample_temperature" -> qSampleTemperature,
    "sample_domain_cap" -> qSampleDomainCap,
    "corpus_shuffle" -> qCorpusShuffle,
    "corpus_shards" -> qCorpusShards,
    "corpus_shard_stats" -> qCorpusShardStats,
    "mixture_weights" -> qMixtureWeights,
    "mixture_apply" -> qMixtureApply,
    "json_props_profile" -> qJsonPropsProfile,
    "decontaminate" -> qDecontaminate,
    "split_leakage" -> qSplitLeakage,
    "doc_novelty" -> qDocNovelty,
    "corpus_pack" -> qCorpusPack,
    "corpus_chunks" -> qCorpusChunks,
    "curation_e2e" -> qCurationE2e,
    "doc_fingerprint" -> qDocFingerprint,
    "dedup_spans" -> qDedupSpans,
    "dedup_span_ranges" -> qDedupSpanRanges,
    "dedup_spans_apply" -> qDedupSpansApply,
    "doc_fingerprint_md5" -> qDocFingerprintMd5,
    "url_domain_filter" -> qUrlDomainFilter,
    "warc_parse" -> qWarcParse,
    "warc_extract_text" -> qWarcExtractText,
    "warc_gz_roundtrip" -> qWarcGzRoundtrip,
    "warc_file_scan" -> qWarcFileScan,
    "warc_http_extract" -> qWarcHttpExtract,
    "warc_http_dechunk" -> qWarcHttpDechunk,
    "warc_charset_decode" -> qWarcCharsetDecode,
    "warc_content_encoding" -> qWarcContentEncoding,
    "warc_charset_bom" -> qWarcCharsetBom,
    "warc_file_http_extract" -> qWarcFileHttpExtract,
    "streaming_warc_file_scan" -> qStreamingWarcFileScan,
    "crawl_curation_e2e" -> qCrawlCurationE2e,
    "crawl_to_corpus_shards" -> qCrawlToCorpusShards,
    "corpus_shard_sink" -> qCorpusShardSink,
    "html_meta_policy" -> qHtmlMetaPolicy,
    "robots_url_filter" -> qRobotsUrlFilter,
    "robots_sitemaps" -> qRobotsSitemaps,
    "pii_scan" -> qPiiScan,
    "pii_redact" -> qPiiRedact,
    "pii_summary" -> qPiiSummary,
    "nlp_svd_residual" -> Q(
      (s, dir) => graft.pipeline.NlpSvd.residualsDF(
        // O(dim·tokens)/row map stage; spread the single local split
        t(s, dir, "documents").repartition(
          s.sparkContext.defaultParallelism, F.col("doc_id")),
        "doc_id", "text", dim = 64, k = 8)
        .select(F.col("doc_id"), F.round(F.col("residual"), 6).as("residual"))
        .orderBy("doc_id"), None),
    // The SVD family's HASH-EXACT anchor: a closed-form fixture through
    // the REAL fit-and-score path (RowMatrix Gramian -> LAPACK -> V V⁺x
    // residuals). Vectors are integer-valued and axis-aligned except one
    // sign-BALANCED mixed pair per 5-cycle, so the Gramian is an exactly
    // diagonal integer matrix (treeAggregate sums of exactly
    // representable values), the top-2 subspace is exactly span(e1, e2),
    // and every residual is analytic — 0 in-subspace, 1 orthogonal,
    // 4/5 for the (3,0,±4,0) mix — with LAPACK noise (~1e-15) absorbed
    // by round(·, 6). DuckDB states the closed form directly.
    "nlp_svd_residual_exact" -> Q(
      (s, dir) => {
        val base = t(s, dir, "documents").filter(F.col("doc_id") < 40)
          .select(F.col("doc_id"),
            F.when(F.col("doc_id") % 5 === 0, F.array(
                (F.col("doc_id") + 1).cast("double"), F.lit(0.0), F.lit(0.0), F.lit(0.0)))
              .when(F.col("doc_id") % 5 === 1, F.array(
                F.lit(0.0), (F.col("doc_id") + 1).cast("double"), F.lit(0.0), F.lit(0.0)))
              .when(F.col("doc_id") % 5 === 2, F.array(
                F.lit(0.0), F.lit(0.0), F.lit(7.0), F.lit(0.0)))
              .when(F.col("doc_id") % 5 === 3, F.array(
                F.lit(3.0), F.lit(0.0), F.lit(4.0), F.lit(0.0)))
              .otherwise(F.array(
                F.lit(3.0), F.lit(0.0), F.lit(-4.0), F.lit(0.0))).as("v"))
        graft.pipeline.NlpSvd.residualsFromVectors(base, "doc_id", "v",
            dim = 4, k = 2)
          .select(F.col("doc_id"), F.round(F.col("residual"), 6).as("residual"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(CASE
             |  WHEN doc_id % 5 = 2 THEN 1.0
             |  WHEN doc_id % 5 IN (3, 4) THEN 0.8
             |  ELSE 0.0 END AS DOUBLE) AS residual
             | FROM documents WHERE doc_id < 40
             | ORDER BY doc_id""".stripMargin.replaceAll("\n", " "))),
    "multimodal_meta" -> qMultimodalMeta,
    "multimodal_profile" -> qMultimodalProfile,
    "image_stats" -> qImageStats,
    "image_dhash" -> qImageDhash,
    "image_resize_dhash" -> qImageResizeDhash,
    "audio_stats" -> qAudioStats,
    "audio_meta" -> qAudioMeta,
    "video_meta" -> qVideoMeta,
    "video_frame_dhash" -> qVideoFrameDhash,
    "dedup_video_scenes" -> qDedupVideoScenes,
    "audio_fingerprint" -> qAudioFingerprint,
    "dedup_audio" -> qDedupAudio,
    "dedup_images" -> qDedupImages,
    "streaming_dedup_images" -> qStreamingDedupImages,
    "image_stats_png" -> qImageStatsPng,
    "image_exif" -> qImageExif,
    "frame_hashes" -> Q(
      (s, dir) => {
        val bin = t(s, dir, "documents")
          .select(F.col("doc_id"), F.encode(F.col("text"), "UTF-8").as("content"))
        Multimodal.frameSampleHashes(bin, "content")
          .select(F.col("doc_id"), F.col("frame_hashes").getItem(0).as("f0"),
            F.col("frame_hashes").getItem(3).as("f3"))
          .orderBy("doc_id")
      }, None),
    "frame_hashes_md5" -> qFrameHashesMd5,
    "window_profile" -> qWindowProfile,
    "sliding_window_profile" -> qSlidingWindowProfile,
    "events_sessionize" -> qEventsSessionize,
    "asof_join" -> qAsofJoin,
    "range_join_sessions" -> qRangeJoinSessions,
    "events_funnel" -> qEventsFunnel,
    "events_retention" -> qEventsRetention,
    "ranking_metrics" -> qRankingMetrics,
    "ranking_metrics_strings" -> qRankingMetricsStrings,
    "ranking_metrics_segmented" -> qRankingMetricsSegmented,
    "timeline_anomaly" -> qTimelineAnomaly,
    "streaming_window_profile" -> qStreamingWindowProfile,
    "streaming_heavy_hitters" -> qStreamingHeavyHitters,
    "streaming_drift_psi" -> qStreamingDriftPsi,
    "streaming_drift_jsd" -> qStreamingDriftJsd,
    "streaming_drift_emd" -> qStreamingDriftEmd,
    "streaming_sessionize" -> qStreamingSessionize,
    "streaming_dedup" -> qStreamingDedup,
    "streaming_dedup_store" -> qStreamingDedupStore,
    "streaming_near_dedup" -> qStreamingNearDedup,
    "streaming_quality_score" -> qStreamingQualityScore,
    "referential_integrity" -> qReferentialIntegrity,
    "k_anonymity" -> qKAnonymity,
    "schema_drift" -> qSchemaDrift,
    "benford_digits" -> qBenfordDigits,
    "corpus_diff" -> qCorpusDiff,
    "corpus_overlap" -> qCorpusOverlap,
    "containment_minhash" -> qContainmentMinhash,
    "code_stats" -> qCodeStats,
    "mad_outliers" -> qMadOutliers,
    "segment_quantiles" -> qSegmentQuantiles,
    "streaming_ref_integrity" -> qStreamingRefIntegrity,
    "embedding_class_separation" -> qEmbeddingClassSeparation,
    "embedding_norm_quantiles" -> qEmbeddingNormQuantiles,
    "bm25_retrieval" -> qBm25Retrieval,
    "doc_winnowing" -> qDocWinnowing,
    "dedup_winnow" -> qDedupWinnow,
    "cluster_safe_split" -> qClusterSafeSplit,
    "class_tfidf" -> qClassTfidf,
    "pagerank_neardups" -> qPagerankNearDups,
    "nb_lang_score" -> qNbLangScore,
    "ols_doc_length" -> qOlsDocLength,
    "key_skew_report" -> qKeySkewReport,
    "embedding_sq8_topk" -> qEmbeddingSq8TopK,
    "bpe_pair_stats" -> qBpePairStats,
    "class_chi2_keywords" -> qClassChi2Keywords,
    "calibration_report" -> qCalibrationReport,
    "bpe_train_merges" -> qBpeTrainMerges,
    "bpe_train_fast" -> qBpeTrainFast,
    "bpe_train_bytes" -> qBpeTrainBytes,
    "bpe_encode_bytes" -> qBpeEncodeBytes,
    "bpe_fertility_bytes" -> qBpeFertilityBytes,
    "streaming_nb_score" -> qStreamingNbScore,
    "normalize_nfc" -> qNormalizeNfc,
    "l_diversity" -> qLDiversity,
    "dedup_cluster_histogram" -> qDedupClusterHistogram,
    "attribution_last_touch" -> qAttributionLastTouch,
    "bpe_encode" -> qBpeEncode,
    "bpe_encode_native" -> qBpeEncodeNative,
    "html_block_classify" -> qHtmlBlockClassify,
    "html_extract_text" -> qHtmlExtractText,
    "html_boilerplate_rate" -> qHtmlBoilerplateRate,
    "kmeans_train" -> qKmeansTrain,
    "tree_stump" -> qTreeStump,
    "tree_stump_best" -> qTreeStumpBest,
    "tree_depth2" -> qTreeDepth2,
    "bpe_fertility" -> qBpeFertility,
    "ls_boost" -> qLsBoost,
    "roc_auc" -> qRocAuc,
    "roc_curve" -> qRocCurve,
    "segmented_roc_auc" -> qSegmentedRocAuc,
    "drift_rank_sum" -> qDriftRankSum,
    "salted_join_agg" -> qSaltedJoinAgg,
    "ls_boost_auc" -> qLsBoostAuc,
    "ls_boost_predict" -> qLsBoostPredict,
    "streaming_ls_boost_predict" -> qStreamingLsBoostPredict,
    "stump_confusion" -> qStumpConfusion,
    "streaming_stump_confusion" -> qStreamingStumpConfusion,
    "html_extract_inline" -> qHtmlExtractInline,
    "range_partition_plan" -> qRangePartitionPlan,
    "feature_correlations" -> qFeatureCorrelations,
    "streaming_html_extract" -> qStreamingHtmlExtract,
    "kmeans_assign" -> qKmeansAssign,
    "streaming_kmeans_assign" -> qStreamingKmeansAssign,
    "kmeans_assign_join" -> qKmeansAssignJoin,
    "kmeans_cluster_purity" -> qKmeansClusterPurity,
    "quantile_bins" -> qQuantileBins,
    "target_encoding" -> qTargetEncoding,
    "join_cardinality" -> qJoinCardinality,
    "robust_scale" -> qRobustScale,
    "percent_ranks" -> qPercentRanks,
    "percent_ranks_multi" -> qPercentRanksMulti,
    "spearman_corr" -> qSpearmanCorr,
    "spearman_matrix" -> qSpearmanMatrix,
    "kendall_tau" -> qKendallTau,
    "feature_mutual_info" -> qFeatureMutualInfo,
    "url_canonicalize" -> qUrlCanonicalize,
    "term_cooccurrence" -> qTermCooccurrence,
    "stump_agreement" -> qStumpAgreement,
    "streaming_ann" -> qStreamingAnn,
    "html_numeric_entities" -> qHtmlNumericEntities,
    "cramers_v" -> qCramersV,
    "fuzzy_pairs" -> qFuzzyPairs,
    "fuzzy_pairs_multi" -> qFuzzyPairsMulti,
    "fuzzy_dedup_apply" -> qFuzzyDedupApply,
    "dsir_weights" -> qDsirWeights,
    "dsir_select" -> qDsirSelect,
    "theils_u" -> qTheilsU,
    "markov_transitions" -> qMarkovTransitions,
    "markov_top_next" -> qMarkovTopNext,
    "ewma_cusum_chart" -> qEwmaCusumChart,
    "trend_test" -> qTrendTest,
    "conformal_intervals" -> qConformalIntervals,
    "conformal_coverage" -> qConformalCoverage,
    "streaming_conformal" -> qStreamingConformal,
    "winsorize_summary" -> qWinsorize,
    "t_closeness" -> qTCloseness,
    "bootstrap_mean_ci" -> qBootstrapMeanCI,
    "ab_proportion_test" -> qAbProportionTest,
    "mondrian_conformal" -> qMondrianConformal,
    "key_concentration" -> qKeyConcentration,
    "ab_cuped" -> qAbCuped,
    "cliffs_delta" -> qCliffsDelta,
    "bootstrap_ab_diff" -> qBootstrapAbDiff,
    "contrastive_triplets" -> qContrastiveTriplets,
    "pack_by_bpe_cost" -> qPackByBpeCost,
    "pack_by_bpe_cost_bytes" -> qPackByBpeCostBytes,
    "streaming_fuzzy_match" -> qStreamingFuzzyMatch,
    "streaming_fuzzy_match_capped" -> qStreamingFuzzyMatchCapped,
    "nb_confusion" -> qNbConfusion)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, q) => k -> q.build }

  val oracleSql: Map[String, String] =
    all.collect { case (k, Q(_, Some(sql))) => k -> sql }
}
