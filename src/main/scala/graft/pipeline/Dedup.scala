package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** Deduplication operators for training-data pipelines.
  *
  * All stages are expression-only (codegen'd, no UDFs): shingling and
  * signatures are per-row higher-order-function computations (no shuffle);
  * candidate generation is one shuffle on the band/bucket key; verification
  * joins only candidate pairs. At 100 TB the cost is dominated by the one
  * band-bucket exchange, which is the minimum any LSH scheme needs.
  */
object Dedup {

  /** Exact dedup: content hash + per-hash duplicate stats. `keep` marks
    * the canonical (minimum-id) row per hash.
    *
    * Scale shape: groupBy + join-back instead of a window — the window
    * would funnel every copy of a duplicated document onto ONE task
    * (duplicate-heavy corpora are exactly the skewed case), while the
    * groupBy's map-side partial aggregation collapses each partition's
    * copies to one row before the exchange, and AQE's skew-join handling
    * splits the join-back for pathological keys. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withH = df.withColumn("text_hash", F.md5(F.col(textCol)))
    val stats = withH.groupBy("text_hash").agg(
      F.count(F.lit(1)).as("dup_count"), F.min(F.col(idCol)).as("__keep_id"))
      .withColumnRenamed("text_hash", "__stats_hash")
    // null-safe join: NULL-text rows form one group (groupBy and window
    // partitioning both treat NULL as a key; a plain join would drop them).
    // keep is null-safe too, so NULL-id rows get keep=false rather than
    // NULL. Precondition (documented): idCol is a unique non-null row id —
    // with duplicated ids, every holder of the group minimum is marked.
    withH.join(stats, F.col("text_hash") <=> F.col("__stats_hash"))
      .withColumn("keep", F.col(idCol) <=> F.col("__keep_id"))
      .select(F.col(idCol), F.col("text_hash"), F.col("dup_count"), F.col("keep"))
  }

  /** Dedup-oriented text normalization (the Dolma/CCNet "fuzzy-exact"
    * pre-pass, Soldaini et al. 2024 §3 territory): lowercase, map every
    * non-alphanumeric to a space (so punctuation differences never merge
    * adjacent words), collapse runs of whitespace, trim. Pure codegen'd
    * string ops — map-only, no UDF — and deliberately limited to regex
    * classes whose semantics agree between Java regex and RE2 so the
    * DuckDB oracle reproduces it byte-for-byte. */
  def normalizeText(text: Column): Column =
    F.trim(F.regexp_replace(
      F.regexp_replace(F.lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Exact dedup over [[normalizeText]]-normalized content: two documents
    * differing only in case, punctuation, or whitespace collapse to one
    * hash group. Same groupBy + join-back scale shape as [[exact]];
    * output column is `norm_hash` so callers can carry both hashes. */
  def normalizedExact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    exact(df.withColumn("__norm_text", normalizeText(F.col(textCol))),
      "__norm_text", idCol)
      .withColumnRenamed("text_hash", "norm_hash")

  /** Lowercased whitespace tokens of a text column; empty text yields an
    * EMPTY array, not [""] (splitting empty text produces one empty
    * token). The one tokenizer shared by shingling, SimHash and the NLP
    * term vectors — keep fixes here. */
  def tokens(textCol: Column): Column =
    F.filter(F.split(F.lower(F.trim(textCol)), "\\s+"), w => F.length(w) > 0)

  /** Distinct word n-gram shingles of `textCol` (lowercased), as an array
    * column — the input to MinHash / Jaccard. */
  def shingles(textCol: Column, n: Int = 3): Column = {
    val words = tokens(textCol)
    val count = F.size(words) - (n - 1)
    // Guard count<=0: sequence(1, 0) would run DESCENDING and index out of
    // range; short documents yield an empty shingle set instead.
    val idx = F.when(count > 0, F.sequence(F.lit(1), count))
      .otherwise(F.array().cast("array<int>"))
    F.array_distinct(
      F.transform(idx, i => F.concat_ws(" ", F.slice(words, i, F.lit(n)))))
  }

  /** Winnowing fingerprint set (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the MOSS scheme): hash every POSITIONAL word n-gram, slide a
    * `window`-hash window, keep each window's minimum, dedupe. Two
    * documents sharing any run of `n + window − 1` words share a
    * fingerprint — position-robust substring sampling with density
    * ~2/(window+1), the multi-fingerprint generalization of
    * [[graft.functions.Fingerprints.rolling_min_hash]].
    *
    * The default hash is the md5-prefix→long idiom so oracles replay it;
    * production callers pass `F.xxhash64(_)` for the codegen'd path
    * (selection semantics are hash-agnostic). Pure per-row map work —
    * no shuffle; join the exploded fingerprints to find cross-doc
    * matches.
    *
    * Built on the native [[graft.functions.PosShingleStrings]] /
    * [[graft.functions.WinnowSelect]] expressions, NOT nested HOFs:
    * a `transform` lambda referencing the gram array re-evaluates the
    * entire gram subtree per window position after CollapseProject —
    * O(len²) hashing per document, measured 925 s (vs seconds) on the
    * 100× scale probe. Only the per-gram hash itself stays a lambda
    * (over the MATERIALIZED gram-string array), so it remains
    * caller-pluggable at O(len). */
  def winnowFingerprints(textCol: Column, n: Int = 4, window: Int = 4,
      hash: Column => Column = g =>
        F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")): Column = {
    val grams = graft.functions.MinHash.pos_shingle_strings(tokens(textCol), n)
    graft.functions.MinHash.winnow_select(F.transform(grams, hash), window)
  }

  /** Cross-document winnowing matches: document pairs sharing ≥
    * `minShared` winnowing fingerprints — position-robust substring
    * plagiarism/boilerplate detection (the MOSS match step).
    *
    * `maxDocFreq` is SEMANTICS, not a perf hack: fingerprints present in
    * more than that many documents (corpus-wide boilerplate) carry no
    * pair signal and are dropped BEFORE pairing — exactly the df-cap
    * every plagiarism detector applies, and deterministically
    * replayable in SQL (HAVING count ≤ cap). It also bounds the join:
    * each surviving fingerprint bucket yields ≤ cap² pairs, so the
    * fp-keyed self-join can never go corpus-quadratic.
    *
    * Scale: explode (id, fp) → df-filter via one fp-keyed aggregate →
    * fp-keyed self-join → (a, b) count aggregation. Only 8-byte
    * fingerprints and ids ever shuffle. The exploded (id, fp) frame is
    * localCheckpoint-ed first: the df-aggregate and BOTH self-join sides
    * read it, and without the checkpoint each of the three would re-run
    * the whole tokenize→gram→hash→winnow pipeline (same pattern as
    * [[hashNearDups]]). */
  def winnowMatches(df: DataFrame, textCol: String, idCol: String,
      n: Int = 4, window: Int = 4, minShared: Int = 2,
      maxDocFreq: Int = 100,
      hash: Column => Column = g =>
        F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")): DataFrame = {
    // NOT widened (r20) — see [[minHashNearDups]]'s note (winnow
    // hashing is the same µs-per-row class).
    val fps = df.select(F.col(idCol).as("__id"),
      F.explode(winnowFingerprints(F.col(textCol), n, window, hash)).as("fp"))
      .localCheckpoint(true)
    val keep = fps.groupBy("fp").agg(F.count(F.lit(1)).as("__df"))
      .where(F.col("__df") <= maxDocFreq).select("fp")
    val kept = fps.join(keep, Seq("fp"))
    val a = kept.select(F.col("fp"), F.col("__id").as("a"))
    val b = kept.select(F.col("fp"), F.col("__id").as("b"))
    a.join(b, Seq("fp")).where(F.col("a") < F.col("b"))
      .groupBy("a", "b").agg(F.count(F.lit(1)).as("n_shared"))
      .where(F.col("n_shared") >= minShared)
  }

  /** MinHash signature (P permutations) of a shingle-ID array column via
    * the native one-pass expression. (The HOF formulation re-evaluates
    * the shingle pipeline per permutation after projection collapse —
    * see MinHash.scala's scaladoc.) */
  def minHashSignature(idsCol: Column, numPerm: Int = 64): Column =
    graft.functions.MinHash.minhash_signature(idsCol, numPerm)

  /** LSH band hashes straight from the shingle-ID array: docs sharing any
    * band hash are candidates. NULL (no candidates) for empty id sets. */
  def bandHashes(idsCol: Column, numPerm: Int, bands: Int): Column =
    graft.functions.MinHash.minhash_bands(idsCol, numPerm, bands)

  /** Distinct 64-bit shingle ids: xxhash64 of each shingle. Jaccard over
    * id sets equals Jaccard over shingle sets modulo 64-bit collisions
    * (~n²/2⁶⁵ — negligible at any corpus size that fits a cluster), and
    * an 8-byte id replaces an arbitrarily long shingle string in every
    * shuffle payload downstream. Native one-pass expression (the HOF
    * formulation runs three interpreted lambda layers per row — see
    * [[graft.functions.ShingleIds]]); [[shingleIdsHof]] is the kept
    * semantics oracle. */
  def shingleIds(textCol: Column, n: Int = 3): Column =
    graft.functions.MinHash.shingle_ids(tokens(textCol), n)

  /** The original HOF formulation of [[shingleIds]] — bit-identical
    * output, kept ONLY as the semantics oracle for PipelineSpec. */
  private[graft] def shingleIdsHof(textCol: Column, n: Int = 3): Column =
    F.array_distinct(F.transform(shingles(textCol, n), s => F.xxhash64(s)))

  /** Within-bucket candidate generation is quadratic in bucket size: at
    * web-corpus scale, boilerplate shared by 10⁶ documents (license
    * headers, templated pages) lands them in one (band, hash) bucket and
    * yields ~5·10¹¹ pairs from that bucket alone — a salt on the band key
    * re-routes the bucket but does NOT shrink its pair count. Two
    * mitigations live here; both bound work WITHOUT dropping over-cap
    * buckets outright (dropping is wrong for exactly the case the cap
    * targets: members of a near-identical mega-cluster collide in EVERY
    * band, so all their buckets over-cap at once and the corpus' largest
    * duplicate cluster would silently not be deduplicated at all).
    *
    * [[lshPairs]] — for SELF-join paths ([[minHashNearDups]],
    * [[graft.pipeline.Similarity.cosineNearDupLsh]]): under-cap buckets
    * enumerate all pairs as usual; an over-cap bucket instead emits STAR
    * edges, linking each member to the bucket's minimum-id representative
    * — O(n) candidates instead of O(n²), and under transitive closure
    * ([[nearDupClusters]]) the whole mega-cluster still lands in one
    * component. Pair-level recall accounting: a pair (x,y) in an over-cap
    * bucket where neither is the representative is not emitted FROM THAT
    * BUCKET; it is still found via any under-cap bucket the pair shares
    * (prob 1−(1−s^r)^(b−1) per the usual band math), and in the mega-
    * cluster case (all members mutually near-identical) both (rep,x) and
    * (rep,y) pass verification so clustering recovers it exactly.
    *
    * [[capBuckets]] — for ASYMMETRIC joins ([[nearDupsAgainstIndex]],
    * batch × corpus index): star edges don't apply (the two sides are
    * different tables), so over-cap index buckets are thinned to ~cap
    * deterministic representatives via a hash threshold
    * (xxhash64(band, hash, id) mod n < cap — map-only after the size
    * join, no skewed per-bucket sort; hashing the bucket key along with
    * the id spreads representative duty across docs per bucket instead
    * of electing one corpus-wide sample). A new-batch doc matching corpus
    * boilerplate still pairs with up to `cap` representatives per band
    * and is verified against them — it IS flagged as a duplicate; only
    * WHICH corpus members it is linked to is thinned. Under-cap buckets
    * pass through untouched.
    *
    * The size pre-aggregation is a map-side-combined groupBy on the same
    * (band, hash) key as the pair exchange itself, so the added cost is
    * one cheap aggregation of 8-byte keys. Set `maxBucketSize <= 0` to
    * disable either mechanism. Use [[overflowBuckets]] to audit which
    * buckets a cap touches. (Cap rationale: Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499
    * follow-ups; star-edge linking: the large-star/small-star trick of
    * Kiveris et al., SoCC 2014, applied at candidate generation.) */
  private[pipeline] def lshPairs(
      banded: DataFrame, keyCols: Seq[String], idCol: String,
      maxBucketSize: Int): DataFrame = {
    val keys = keyCols.map(F.col)
    def allPairs(b: DataFrame): DataFrame = {
      val l = b.select(keys :+ F.col(idCol).as("a"): _*)
      val r = b.select(keys :+ F.col(idCol).as("b"): _*)
      l.join(r, keyCols).filter(F.col("a") < F.col("b")).select("a", "b")
    }
    val pairs =
      if (maxBucketSize <= 0) allPairs(banded)
      else {
        val stats = banded.groupBy(keys: _*).agg(
          F.count(F.lit(1)).as("__bucket_n"), F.min(F.col(idCol)).as("__rep"))
        // The tagged relation below is referenced three times (self-join
        // l/r + star branch). ReuseExchange collapses the expensive part —
        // the wide (band, hash, id) exchange is computed once and reused at
        // the other two references (pinned by DedupCapSpec under the
        // sort-merge plan). The stats agg's partial pass + 8-byte-key
        // exchange does duplicate once across the union branches; that is
        // a cheap re-scan of the (cached, in minHashNearDups) banding, not
        // a second corpus shuffle.
        val tagged = banded.join(stats, keyCols)
        val small = allPairs(
          tagged.filter(F.col("__bucket_n") <= maxBucketSize)
            .select(keys :+ F.col(idCol): _*))
        // rep = min(id) ⇒ rep < member under the same ordering as the
        // a < b filter, so star edges need no extra normalization.
        val star = tagged
          .filter(F.col("__bucket_n") > maxBucketSize && F.col(idCol) =!= F.col("__rep"))
          .select(F.col("__rep").as("a"), F.col(idCol).as("b"))
        small.unionByName(star)
      }
    pairs.dropDuplicates("a", "b")
  }

  /** Thins over-cap buckets to ~`maxBucketSize` hash-chosen representatives
    * (see the recall accounting on [[lshPairs]]); under-cap buckets and
    * `maxBucketSize <= 0` pass through unchanged. Only for asymmetric
    * join paths — self-join paths use [[lshPairs]]' star edges, which
    * keep every member reachable. */
  private[graft] def capBuckets(
      banded: DataFrame, keyCols: Seq[String], idCol: String,
      maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) banded
    else {
      val keys = keyCols.map(F.col)
      val stats = banded.groupBy(keys: _*)
        .agg(F.count(F.lit(1)).as("__bucket_n"))
      banded.join(stats, keyCols)
        .filter(F.col("__bucket_n") <= maxBucketSize ||
          F.pmod(F.xxhash64(keys :+ F.col(idCol): _*), F.col("__bucket_n")) < maxBucketSize)
        .drop("__bucket_n")
    }

  /** Audit companion of the bucket cap: the (band, hash, size) of every
    * bucket that `maxBucketSize` switches from all-pairs to star-edge /
    * sampled handling in [[minHashNearDups]] — run it on a corpus sample
    * to tune the cap and quantify the pair-level recall trade. */
  def overflowBuckets(
      df: DataFrame, textCol: String, idCol: String,
      numPerm: Int = 64, bands: Int = 32, maxBucketSize: Int = 1000): DataFrame =
    df.select(F.col(idCol).as("doc_id"),
        F.posexplode(bandHashes(shingleIds(F.col(textCol)), numPerm, bands))
          .as(Seq("band", "bh")))
      .groupBy("band", "bh").agg(F.count(F.lit(1)).as("bucket_size"))
      .filter(F.col("bucket_size") > maxBucketSize)

  /** Ceiling on the longs [[minHashNearDups]] collects for its driver
    * finish: Σ size(ids) shingle ids plus `bands` band hashes per row,
    * i.e. at most 16 MB of longs — the same rationale as
    * `ConnectedComponents.LocalEdgeBound`. It covers the sf0.01 (~27 k
    * ids) and sf0.1 (~265 k ids) fixtures and a curation batch of a few
    * thousand documents; a corpus-scale input (the 100× scale probe
    * has ~27 M ids) keeps the distributed band exchange. */
  private[graft] val LocalShingleBound: Long = 2000000L

  /** Ceiling on the candidate pairs the driver finish may enumerate,
    * counted from the bucket sizes before any pair is built: Σ C(n, 2)
    * over buckets at or under the cap plus n − 1 per over-cap bucket.
    * Past it (a large uncapped bucket) the pair set and its Jaccard
    * merges would cost tens of MB and seconds of driver time, so the
    * distributed plan runs instead. */
  private[graft] val LocalCandidateBound: Long = 1000000L

  /** Full MinHash-LSH near-dup pipeline: returns candidate pairs with
    * their exact shingle-set Jaccard (over 64-bit shingle ids), filtered
    * at `threshold`.
    *
    * Scale shape: shingle→sign→band per row (map-only) into a persisted
    * (doc_id, ids) projection, so shingling runs once. For integral
    * ids, one aggregate job materializes the persist and measures
    * Σ size(ids) and the row count; then one of two finishes runs, with
    * the same rows:
    *  1. at most [[LocalShingleBound]] collected longs (ids plus `bands`
    *     band hashes per row) and at most [[LocalCandidateBound]]
    *     candidates: (doc_id, ids, band hashes) are collected in one
    *     job and the driver builds the band buckets, the all-pairs /
    *     star-edge candidates of [[lshPairs]], the deduped pair set and
    *     each pair's exact Jaccard. The result
    *     is built from driver data with the distributed plan's schema,
    *     so the call pins nothing. The candidate count is taken from the
    *     bucket sizes before any pair is built; past its bound the
    *     distributed plan runs from the still-persisted ids.
    *  2. otherwise the banded exchange carries ONLY (band, hash, doc_id)
    *     — never the shingle arrays; candidate pairs are deduped, then the
    *     two id-arrays are re-fetched by joining the pair list back to the
    *     persisted projection — so array bytes move only for verified
    *     candidates. The pair result is eagerly localCheckpointed so the
    *     persist can be released before the caller's own actions run; the
    *     returned frame reads that checkpoint, so it stays pinned for the
    *     session.
    * Pathological buckets (corpus-scale boilerplate) switch to star-edge
    * candidate generation on either branch — see [[lshPairs]] for the
    * recall accounting.
    *
    * Not lazy: the call runs its Spark jobs (two on the driver finish)
    * before it returns. */
  def minHashNearDups(
      df: DataFrame, textCol: String, idCol: String,
      numPerm: Int = 64, bands: Int = 32, threshold: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame =
    minHashNearDups(df, textCol, idCol, numPerm, bands, threshold, maxBucketSize,
      LocalShingleBound)

  /** [[minHashNearDups]] with an explicit driver-finish bound (0 forces
    * the distributed plan). */
  private[graft] def minHashNearDups(
      df: DataFrame, textCol: String, idCol: String, numPerm: Int, bands: Int,
      threshold: Double, maxBucketSize: Int, localShingleBound: Long): DataFrame = {
    // NOT widened (r20): shingling is ~µs per row — unlike the
    // Levenshtein/codec paths, a one-file input's single-core map stage
    // here is cheaper than the added exchange + per-task overhead on the
    // iterative consumers (A/B-measured at sf0.1: every CC-based dedup
    // query was equal-or-faster without the widen).
    val ids = df.select(F.col(idCol).as("doc_id"),
      shingleIds(F.col(textCol)).as("ids"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val banded = ids.select(F.col("doc_id"),
        F.posexplode(bandHashes(F.col("ids"), numPerm, bands)).as(Seq("band", "bh")))
      val verified = lshPairs(banded, Seq("band", "bh"), "doc_id", maxBucketSize)
        .join(ids.select(F.col("doc_id").as("a"), F.col("ids").as("ia")), Seq("a"))
        .join(ids.select(F.col("doc_id").as("b"), F.col("ids").as("ib")), Seq("b"))
        .withColumn("jaccard", jaccard(F.col("ia"), F.col("ib")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
      val local = integralId(ids.schema("doc_id").dataType).flatMap { toId =>
        // (rows, Σ size(ids)) as an RDD aggregate: one job with no
        // exchange (Dataset.agg runs a cache stage, a map stage and a
        // result stage), and it materializes the persist
        val (n, nIds) = ids.select(
            F.when(F.col("ids").isNotNull, F.size(F.col("ids"))).otherwise(0))
          .rdd.aggregate((0L, 0L))(
            (acc, r) => (acc._1 + 1, acc._2 + r.getInt(0)),
            (x, y) => (x._1 + y._1, x._2 + y._2))
        if (nIds + n * bands > localShingleBound) None
        else {
          val conf = df.sparkSession.conf
          // size(NULL) is -1 outside ANSI when the legacy flag is on
          // (Spark's own rule), which makes jaccard() read 1.0
          val legacySizeOfNull = conf.get("spark.sql.legacy.sizeOfNull").toBoolean &&
            !conf.get("spark.sql.ansi.enabled").toBoolean
          localNearDups(
            ids.select(F.col("doc_id"), F.col("ids"), bandHashes(F.col("ids"), numPerm, bands))
              .collect(),
            bands, threshold, maxBucketSize, legacySizeOfNull, toId)
        }
      }
      local match {
        case Some(rows) => df.sparkSession.createDataFrame(rows, verified.schema)
        case None => verified.localCheckpoint(true)
      }
    } finally ids.unpersist(blocking = false)
  }

  /** Long view of an integral id column's values, and back: the driver
    * finish compares ids as longs, which is Spark's order on these
    * types. Other id types take the distributed plan. */
  private def integralId(t: org.apache.spark.sql.types.DataType): Option[Long => Any] = {
    import org.apache.spark.sql.types._
    t match {
      case LongType => Some(l => l)
      case IntegerType => Some(_.toInt)
      case ShortType => Some(_.toShort)
      case ByteType => Some(_.toByte)
      case _ => None
    }
  }

  /** The driver finish of [[minHashNearDups]] over collected (doc_id,
    * ids, band hashes) rows: the rows [[lshPairs]] + the re-fetch joins
    * + the `threshold` filter would produce, or None when the candidate
    * count exceeds [[LocalCandidateBound]]. A NULL id never pairs; a
    * repeated id pairs once per pair of its rows, as in the joins. */
  private def localNearDups(
      rows: Array[org.apache.spark.sql.Row], bands: Int, threshold: Double,
      maxBucketSize: Int, legacySizeOfNull: Boolean, toId: Long => Any)
      : Option[java.util.List[org.apache.spark.sql.Row]] = {
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    val id: Array[java.lang.Long] =
      rows.map(r => if (r.isNullAt(0)) null else Long.box(r.getAs[Number](0).longValue))
    val bhs: Array[Array[Long]] =
      rows.map(r => if (r.isNullAt(2)) null else r.getSeq[Long](2).toArray)
    // Buckets with ≥ 2 rows, per band: sort the band's hashes, keep the
    // repeated ones, then gather their rows — singletons never allocate.
    val bandedRows = rows.indices.filter(bhs(_) != null).toArray
    val hs = new Array[Long](bandedRows.length)
    val buckets = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Int]]
    for (band <- 0 until bands) {
      for (k <- bandedRows.indices) hs(k) = bhs(bandedRows(k))(band)
      java.util.Arrays.sort(hs)
      val shared = new java.util.HashMap[Long, mutable.ArrayBuffer[Int]]()
      for (k <- 1 until hs.length if hs(k) == hs(k - 1))
        shared.putIfAbsent(hs(k), mutable.ArrayBuffer.empty[Int])
      if (!shared.isEmpty) bandedRows.foreach { i =>
        val b = shared.get(bhs(i)(band))
        if (b != null) b += i
      }
      buckets ++= shared.values.asScala
    }
    def underCap(n: Int) = maxBucketSize <= 0 || n <= maxBucketSize
    val candidates = buckets.iterator.map { b =>
      val n = b.length.toLong
      if (underCap(b.length)) n * (n - 1) / 2 else n - 1
    }.sum
    if (candidates > LocalCandidateBound) return None

    val pairs = mutable.HashSet.empty[(Long, Long)]
    buckets.foreach { b =>
      val members = b.iterator.map(id(_)).filter(_ != null).map(_.longValue).toArray
      if (underCap(b.length)) {
        for (x <- members; y <- members if x < y) pairs += ((x, y))
      } else if (members.nonEmpty) {
        // star edges to the minimum-id representative, rep < member
        val rep = members.min
        members.foreach(m => if (m != rep) pairs += ((rep, m)))
      }
    }
    val rowsOf = rows.indices.filter(id(_) != null).groupBy(id(_).longValue)
    val sorted = mutable.HashMap.empty[Int, Array[Long]]
    def idSet(i: Int): Array[Long] = sorted.getOrElseUpdate(i,
      if (rows(i).isNullAt(1)) null else rows(i).getSeq[Long](1).toArray.distinct.sorted)
    // jaccard(): NULL on a NULL side (the filter drops it), or 1.0 when
    // size(NULL) is -1; 0.0 on an empty union
    def jaccardOf(x: Int, y: Int): Option[Double] = {
      val (p, q) = (idSet(x), idSet(y))
      if (p == null || q == null) { if (legacySizeOfNull) Some(1.0) else None }
      else {
        var i = 0; var j = 0; var inter = 0
        while (i < p.length && j < q.length) {
          if (p(i) < q(j)) i += 1
          else if (p(i) > q(j)) j += 1
          else { inter += 1; i += 1; j += 1 }
        }
        val union = p.length + q.length - inter
        Some(if (union == 0) 0.0 else inter.toDouble / union.toDouble)
      }
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    for ((a, b) <- pairs; x <- rowsOf(a); y <- rowsOf(b); j <- jaccardOf(x, y) if j >= threshold)
      out.add(org.apache.spark.sql.Row(toId(a), toId(b), j))
    Some(out)
  }

  /** Materialized LSH index of a corpus: one row per doc with its
    * shingle-id set and band hashes. Written once (e.g. partitioned
    * parquet), it turns ingestion-time dedup into an O(new batch)
    * problem — [[nearDupsAgainstIndex]] never re-shingles the corpus.
    * Append each accepted batch's index rows to keep it current. */
  def minHashIndex(
      df: DataFrame, textCol: String, idCol: String,
      numPerm: Int = 64, bands: Int = 32): DataFrame = {
    // NOT widened (r20) — see [[minHashNearDups]]'s note.
    val ids = shingleIds(F.col(textCol))
    df.select(F.col(idCol).as("doc_id"), ids.as("ids"))
      .withColumn("bhs", bandHashes(F.col("ids"), numPerm, bands))
  }

  /** Incremental near-dup: new-batch docs vs an existing [[minHashIndex]]
    * — returns (a = new doc, b = index doc, jaccard ≥ threshold). The
    * batch is shingled once (persisted across banding + re-fetch); the
    * index contributes two PRUNED column scans (band hashes for the
    * join, id-arrays re-fetched only for deduped candidates) and is
    * never re-shingled. `numPerm`/`bands` must match the index's.
    * Intra-batch duplicates are [[minHashNearDups]]'s job — compose
    * both at ingestion. The cap is applied to the INDEX side (the corpus-
    * scale one, where boilerplate mega-buckets live); the batch side is
    * ingestion-sized and left uncapped. */
  def nearDupsAgainstIndex(
      newDf: DataFrame, index: DataFrame, textCol: String, idCol: String,
      numPerm: Int = 64, bands: Int = 32, threshold: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame = {
    val batch = minHashIndex(newDf, textCol, idCol, numPerm, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nb = batch.select(F.col("doc_id").as("a"),
        F.posexplode(F.col("bhs")).as(Seq("band", "bh")))
      val ib = capBuckets(
        index.select(F.col("doc_id").as("b"),
          F.posexplode(F.col("bhs")).as(Seq("band", "bh"))),
        Seq("band", "bh"), "b", maxBucketSize)
      val pairs = nb.join(ib, Seq("band", "bh"))
        .select("a", "b").dropDuplicates("a", "b")
      pairs
        .join(batch.select(F.col("doc_id").as("a"), F.col("ids").as("ia")), Seq("a"))
        .join(index.select(F.col("doc_id").as("b"), F.col("ids").as("ib")), Seq("b"))
        .withColumn("jaccard", jaccard(F.col("ia"), F.col("ib")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
        .localCheckpoint(true)
    } finally batch.unpersist(blocking = false)
  }

  /** Near-duplicate CLUSTERS: [[minHashNearDups]] pairs closed under
    * transitivity via [[ConnectedComponents]], one row per clustered doc:
    * (doc_id, component = min doc_id of the cluster, cluster_size,
    * keep = is-the-canonical-doc). Docs with no near-dup are absent —
    * they are all keepers; a 100 TB pipeline anti-joins `keep = false`
    * doc_ids against the corpus rather than materializing the identity
    * rows. The pair list (candidate-bounded, ≪ corpus) is the only input
    * to the iterative stage, so clustering cost scales with duplicates
    * found, not data scanned. Both stages pick their finish by a counted
    * size bound: a small corpus is paired and clustered on the driver
    * and leaves nothing pinned; a large one runs the distributed band
    * exchange and star rounds. Not lazy: the pairing and clustering
    * jobs run before the call returns. */
  def nearDupClusters(
      df: DataFrame, textCol: String, idCol: String,
      numPerm: Int = 64, bands: Int = 32, threshold: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame =
    nearDupClusters(df, textCol, idCol, numPerm, bands, threshold, maxBucketSize,
      LocalShingleBound)

  /** [[nearDupClusters]] with an explicit [[minHashNearDups]] driver-finish
    * bound (0 forces its distributed plan). */
  private[graft] def nearDupClusters(
      df: DataFrame, textCol: String, idCol: String, numPerm: Int, bands: Int,
      threshold: Double, maxBucketSize: Int, localShingleBound: Long): DataFrame = {
    val pairs = minHashNearDups(df, textCol, idCol, numPerm, bands, threshold,
      maxBucketSize, localShingleBound)
    val comp = ConnectedComponents.components(pairs, "a", "b")
    val sizes = comp.groupBy(F.col("component").as("c2"))
      .agg(F.count(F.lit(1)).as("cluster_size"))
    comp.join(sizes, F.col("component") === F.col("c2"))
      .withColumn("keep", F.col("id") === F.col("component"))
      .select(F.col("id").as("doc_id"), F.col("component"),
        F.col("cluster_size"), F.col("keep"))
  }

  /** Apply near-dup clustering as a CORPUS FILTER: `df` minus every
    * clustered non-keeper — the materialized form of the anti-join the
    * [[nearDupClusters]] scaladoc prescribes (docs with no near-dup
    * never enter the drop list, so the anti-join's build side is
    * bounded by duplicates FOUND, not corpus size). `scoreCol = Some`
    * keeps the best member per cluster ([[nearDupClustersKeepBest]]);
    * `None` keeps the minimum id. All input columns pass through
    * untouched. */
  def dropNearDups(
      df: DataFrame, textCol: String, idCol: String,
      scoreCol: Option[String] = None,
      numPerm: Int = 64, bands: Int = 32, threshold: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame = {
    val clustered = scoreCol match {
      case Some(s) => nearDupClustersKeepBest(df, textCol, idCol, s,
        numPerm, bands, threshold, maxBucketSize)
      case None => nearDupClusters(df, textCol, idCol,
        numPerm, bands, threshold, maxBucketSize)
    }
    val drops = clustered.filter(!F.col("keep"))
      .select(F.col("doc_id").as("__drop_id"))
    df.join(drops, F.col(idCol) === F.col("__drop_id"), "left_anti")
  }

  /** Leakage-safe train/val/test split: every near-dup CLUSTER lands
    * entirely in ONE split. Plain [[Sampling.hashSplit]] on the doc id
    * puts two near-duplicates of the same document on opposite sides of
    * the train/test boundary with probability 2·p·(1−p) each — the
    * contamination `split_leakage` audits for AFTER the fact; splitting
    * on the cluster's canonical component id instead makes that leak
    * impossible by construction (reference analog: whylogs validates
    * splits but cannot repair them; this is the repair).
    *
    * The split key is the component id (min member id) for clustered
    * docs and the doc's own id for singletons — both deterministic, so
    * the split is stable across runs and engines like every hashSplit.
    *
    * Scale: clustering is [[nearDupClusters]] (banded LSH candidates,
    * never all-pairs, finished on the driver below its size bounds);
    * the (doc → component) table is bounded by CLUSTERED docs, not
    * corpus size, and joins back LEFT on the id key — singletons pass
    * through with no extra shuffle beyond that join. Output: all input
    * columns + `split_key` + `split`. */
  def clusterSafeSplit(
      df: DataFrame, textCol: String, idCol: String,
      splits: Seq[(String, Double)], salt: String = "split",
      numPerm: Int = 64, bands: Int = 32, threshold: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame = {
    val comp = nearDupClusters(df, textCol, idCol,
        numPerm, bands, threshold, maxBucketSize)
      .select(F.col("doc_id").as("__cs_id"), F.col("component"))
    df.join(comp, F.col(idCol) === F.col("__cs_id"), "left")
      .withColumn("split_key", F.coalesce(F.col("component"), F.col(idCol)))
      .withColumn("split", Sampling.hashSplit(F.col("split_key"), salt, splits))
      .drop("__cs_id", "component")
  }

  /** [[nearDupClusters]] with a QUALITY keep policy: production pipelines
    * keep the best cluster member (longest, highest quality score), not
    * the smallest id. `scoreCol` ranks members; the keeper is the
    * (score desc, id asc) argmax — deterministic under ties. Output rows
    * and clustering are identical to [[nearDupClusters]]; only `keep`
    * moves, and the member's score rides along.
    *
    * Scale shape: clustering is [[nearDupClusters]]' (either finish);
    * keeper election is a groupBy(component) max of a
    * (score, -id) struct + a SHUFFLE join-back on the same key — the
    * [[exact]] shape, NOT a window: a mega-cluster (the star-edge path's
    * explicit design case — every member of a 10⁸-doc boilerplate
    * family reaches one component) would land every member in ONE
    * window task's sort, while the groupBy's map-side partials collapse
    * each partition's members to one row before the exchange and AQE's
    * skew handling splits the join-back. The keeper table shuffles on
    * `component` (O(components) rows but never broadcast — AQE may
    * still CHOOSE a broadcast when it measures small, which is then
    * correct by measurement, not by assumption). */
  def nearDupClustersKeepBest(
      df: DataFrame, textCol: String, idCol: String, scoreCol: String,
      numPerm: Int = 64, bands: Int = 32, threshold: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame = {
    val clustered = nearDupClusters(df, textCol, idCol,
      numPerm, bands, threshold, maxBucketSize)
      .join(df.select(F.col(idCol).as("doc_id"),
        F.col(scoreCol).cast("double").as("score")), Seq("doc_id"))
    val best = clustered.groupBy(F.col("component").as("__bcomp"))
      .agg(F.max(F.struct(F.col("score"), (-F.col("doc_id")).as("__nid")))
        .as("__best"))
    clustered.join(best, F.col("component") === F.col("__bcomp"))
      .withColumn("keep",
        F.col("doc_id") === -F.col("__best").getField("__nid"))
      .select("doc_id", "component", "cluster_size", "score", "keep")
  }

  /** Paragraph-level exact dedup (the Dolma corpus's second dedup
    * granularity after whole-document: boilerplate paragraphs — headers,
    * navigation, license blocks — repeat across documents that are not
    * themselves duplicates). Explodes `sep`-separated paragraphs with
    * their in-document position, keys each by md5, and marks every
    * non-canonical occurrence (canonical = first (id, index) in order);
    * a pipeline drops or masks `keep = false` rows and reassembles
    * documents by position.
    *
    * Scale shape: occurrence counts and canonical election are a
    * groupBy(para_hash) + join-back — the [[exact]] shape — NOT a
    * window: a window over the hash key funnels every copy of a
    * corpus-wide boilerplate paragraph (a license block repeated 10⁸
    * times is the very case paragraph dedup exists for) into ONE
    * task's sort, while the groupBy's map-side partial aggregation
    * collapses each partition's copies to one (hash, count, min) row
    * before the exchange and AQE's skew handling splits the join-back
    * for pathological hashes. The stats exchange carries only 16-byte
    * hashes; paragraph strings ride the join-back side (they are the
    * payload being masked). [[paragraphDedupCounts]] ships no string
    * anywhere. */
  def paragraphDedup(df: DataFrame, textCol: String, idCol: String,
      sep: String = "\n"): DataFrame =
    electParagraphKeepers(explodeParagraphs(df, textCol, idCol, sep))

  /** Count-only [[paragraphDedup]]: identical occurrence counts and
    * keep verdicts, but the paragraph STRING is dropped before any
    * exchange — every shuffled row is (id, para_idx, 16-byte hash).
    * The masking pass then anti-joins `keep = false` (id, para_idx)
    * back against the corpus, so the strings never leave their scan. */
  def paragraphDedupCounts(df: DataFrame, textCol: String, idCol: String,
      sep: String = "\n"): DataFrame =
    electParagraphKeepers(
      explodeParagraphs(df, textCol, idCol, sep).drop("para"))

  /** One row per non-blank paragraph: (id, para_idx, para, para_hash). */
  private def explodeParagraphs(df: DataFrame, textCol: String,
      idCol: String, sep: String): DataFrame =
    df.select(F.col(idCol).as("id"),
        F.posexplode(F.split(F.col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("para_idx", "para")))
      .filter(F.trim(F.col("para")) =!= "")
      .select(F.col("id"), F.col("para_idx").cast("long").as("para_idx"),
        F.col("para"), F.md5(F.col("para").cast("binary")).as("para_hash"))

  /** The groupBy + join-back canonical election shared by both
    * paragraph variants; any extra columns on `paras` ride along. */
  private def electParagraphKeepers(paras: DataFrame): DataFrame = {
    val stats = paras.groupBy(F.col("para_hash").as("__stats_hash")).agg(
      F.count(F.lit(1)).as("occurrences"),
      F.min(F.struct(F.col("id"), F.col("para_idx"))).as("__first"))
    paras.join(stats, F.col("para_hash") <=> F.col("__stats_hash"))
      .withColumn("keep",
        F.struct(F.col("id"), F.col("para_idx")) === F.col("__first"))
      .drop("__stats_hash", "__first")
  }

  /** Positionful word n-gram hashes: element i = xxhash64 of the gram at
    * token offset i (0-based), NOT deduplicated — [[shingleIds]]' sibling
    * for span-level analyses that need provenance. Native one-pass
    * expression: the HOF formulation (slice+concat inside a transform
    * lambda) re-tokenizes the document once per gram after
    * CollapseProject, which measured 20× slower at sf0.1. */
  def posShingleHashes(textCol: Column, n: Int): Column =
    graft.functions.MinHash.pos_shingle_hashes(tokens(textCol), n)

  /** Exact duplicated-substring detection at fixed n-token granularity
    * (the distributed-friendly variant of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * their suffix-array pass finds duplicated spans ≥ k tokens; every
    * such span contains a duplicated n-gram for n ≤ k, so flagging
    * duplicated n-grams with positions recovers the same spans at n-token
    * resolution without a corpus-wide suffix array). Output: one row per
    * (doc, position) whose n-gram occurs more than once in the corpus
    * (across docs or repeated within one), with the total occurrence
    * count — a pipeline cuts or masks these spans.
    *
    * Scale shape: grams leave the row as 8-byte xxhash64 keys (the gram
    * STRINGS never shuffle); one map-side-combined groupBy(hash) for the
    * occurrence counts and one shuffle join back on the same key — both
    * exchanges carry (hash, int) pairs. Same-hash false positives are
    * ~n²·2⁻⁶⁴ per corpus — absent below ~10⁹ distinct grams; beyond
    * that, re-verify flagged spans with one string comparison. */
  def duplicateSpans(
      df: DataFrame, textCol: String, idCol: String, n: Int = 20): DataFrame = {
    val exploded = df
      .select(F.col(idCol).as("doc_id"),
        F.posexplode(posShingleHashes(F.col(textCol), n)).as(Seq("pos0", "__g")))
      .select(F.col("doc_id"), (F.col("pos0") + 1).as("pos"), F.col("__g"))
    val dups = exploded.groupBy("__g")
      .agg(F.count(F.lit(1)).as("n_copies"))
      .filter(F.col("n_copies") > 1L)
    exploded.join(dups, "__g").select("doc_id", "pos", "n_copies")
  }

  /** [[duplicateSpans]] merged into maximal cut-ready token ranges
    * (doc_id, start_pos, end_pos, n_grams): consecutive flagged
    * positions collapse via gaps-and-islands (island = pos − row_number
    * per doc), end_pos covers the last gram's full n tokens. The window
    * partitions BY DOC — per-partition state is bounded by document
    * length, never corpus size. */
  def duplicateSpanRanges(
      df: DataFrame, textCol: String, idCol: String, n: Int = 20): DataFrame = {
    val spans = duplicateSpans(df, textCol, idCol, n)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    spans
      .withColumn("__island", F.col("pos") - F.row_number().over(w))
      .groupBy("doc_id", "__island")
      .agg(F.min("pos").as("start_pos"),
        (F.max("pos") + (n - 1)).as("end_pos"),
        F.count(F.lit(1)).as("n_grams"))
      .select("doc_id", "start_pos", "end_pos", "n_grams")
  }

  /** APPLY the duplicated-span cut list: remove every token covered by a
    * duplicated n-gram occurrence EXCEPT the corpus-wide canonical one
    * (the minimum (doc, position) occurrence keeps its copy — Lee et
    * al.'s "drop all but one copy", arXiv:2107.06499, at n-token
    * resolution). Output one row per input doc: `(doc_id, <out>,
    * n_cut)` where `<out>` is the surviving tokens re-joined by single
    * spaces (whitespace-NORMALIZED text, the same token stream every
    * downstream op here consumes) and `n_cut` counts removed tokens.
    *
    * A token inside a CANONICAL occurrence can still be cut when an
    * overlapping non-canonical occurrence of a different gram covers
    * it — the union-of-cut-ranges semantics is deterministic and
    * order-free, which is what makes it one declarative plan.
    *
    * Scale shape: grams shuffle as 8-byte hashes with int positions
    * (strings never leave the row until reconstruction); the per-doc
    * cut set is bounded by document length and rides one doc-keyed
    * exchange; reconstruction is a doc-keyed left join of the (tiny)
    * cut arrays back to one row per doc. */
  def cutDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
      n: Int = 20, out: String = "text_clean"): DataFrame = {
    val toks = df.select(F.col(idCol).as("doc_id"),
      tokens(F.col(textCol)).as("__toks"))
    val exploded = toks
      .select(F.col("doc_id"),
        F.posexplode(graft.functions.MinHash.pos_shingle_hashes(F.col("__toks"), n))
          .as(Seq("pos0", "__g")))
      .select(F.col("doc_id"), (F.col("pos0") + 1).as("pos"), F.col("__g"))
    val dups = exploded.groupBy("__g").agg(
      F.count(F.lit(1)).as("n_copies"),
      F.min(F.struct(F.col("doc_id"), F.col("pos"))).as("__first"))
      .filter(F.col("n_copies") > 1L)
    val cut = exploded.join(dups, "__g")
      .filter(F.struct(F.col("doc_id"), F.col("pos")) =!= F.col("__first"))
      .select(F.col("doc_id"),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).as("idx"))
      .groupBy("doc_id").agg(F.collect_set("idx").as("__cut"))
    toks.join(cut, Seq("doc_id"), "left")
      .select(F.col("doc_id"),
        F.array_join(
          F.filter(F.col("__toks"), (t, i) =>
            !F.coalesce(F.array_contains(F.col("__cut"), i + 1), F.lit(false))),
          " ").as(out),
        F.coalesce(F.size(F.col("__cut")), F.lit(0)).cast("long").as("n_cut"))
  }

  /** Exact Jaccard similarity of two (distinct-element) array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = F.size(F.array_intersect(a, b))
    val union = F.size(F.array_union(a, b))
    F.when(union === 0, 0.0).otherwise(inter.cast("double") / union.cast("double"))
  }

  /** 64-bit SimHash over token hashes: bit b of the signature is the
    * majority vote of bit b across token xxhash64 values. Native one-pass
    * expression (the HOF fold re-hashed every token 64× after projection
    * collapse): map-only, no shuffle, no UDF. */
  def withSimHash(df: DataFrame, textCol: String, out: String = "simhash"): DataFrame =
    df.withColumn(out, graft.functions.MinHash.simhash64(
      F.transform(tokens(F.col(textCol)), t => F.xxhash64(t))))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = F.bit_count(a.bitwiseXOR(b))

  /** Banded Hamming near-dup pairs over ANY 64-bit signature column —
    * SimHash for text, [[Multimodal.DHash]] for images: split the
    * signature into `bands` contiguous chunks, candidates = id pairs
    * sharing at least one chunk value (one chunk-keyed exchange per
    * side — never all-pairs), verify = exact `bit_count(xor) <=
    * maxHamming`. Pigeonhole recall guarantee: a pair within
    * `maxHamming < bands` bits ALWAYS shares an exact band; beyond
    * that banding is approximate — raise `bands` (or permute bits
    * upstream) for higher recall.
    *
    * SELECTIVITY AT SCALE: a random band value is `64/bands` bits, so
    * the expected bucket holds n/2^(64/bands) signatures and the band
    * join enumerates Σ n_b² pairs — with 8-bit bands (bands = 8) that
    * is n²/256, QUADRATIC once n reaches millions (measured: 1M
    * signatures ≈ 8 CPU-minutes at local[32]). At corpus scale either
    * widen the bands (bands = 4 ⇒ 16-bit values, buckets of n/65536,
    * guarantee maxHamming < 4) or tighten `maxBucketSize` and account
    * the recall loss — the same cap/recall trade every banded family
    * here documents. Degenerate chunks (a constant
    * region across the corpus, e.g. letterboxed borders) form
    * mega-buckets; [[capBuckets]] thins BOTH join sides to the same
    * hash-sampled member set of EXPECTED size `maxBucketSize` (the
    * `pmod(hash, n) < cap` filter is binomial sampling, not a hard
    * cap; deterministic in (band, value, id), so the two sides keep
    * identical survivors) — an overflowing bucket contributes
    * O(cap²)-expected candidate pairs instead of cap × bucket, and a
    * pair is reported iff it shares a band where both members survive
    * the thinning. With `maxBucketSize` at or above every bucket size
    * the join is exhaustive.
    *
    * The slim (id, hash) projection is localCheckpoint-ed before the
    * self-join: the two banded sides plus the two cap-count aggregates
    * would otherwise re-run the upstream lineage — e.g. a per-row
    * image decode + dHash — four times. Batch-only (the checkpoint and
    * self-join both need a bounded input); streams use
    * [[hashNearDupsAgainstIndex]]. Output: `(a, b, hamming)` with
    * `a < b`, one row per pair. */
  /** The `bands` contiguous `64/bands`-bit chunks of a signature, as an
    * array column (shared by the symmetric and asymmetric banded
    * Hamming joins — both sides MUST chunk identically). */
  private def hashChunks(h: Column, bands: Int): Column = {
    require(bands >= 1 && bands <= 64 && 64 % bands == 0,
      s"bands must divide 64, got $bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    F.array((0 until bands).map { b =>
      F.shiftrightunsigned(h, b * width).bitwiseAND(F.lit(mask))
    }: _*)
  }

  def hashNearDups(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, bands: Int = 8,
      maxBucketSize: Int = 10000): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val slim = df
      .select(F.col(idCol).as("__hnd_id"), F.col(hashCol).cast("long").as("__hnd_h"))
      .localCheckpoint(true)
    def side(a: String, h: String) = slim
      .select(F.col("__hnd_id").as(a), F.col("__hnd_h").as(h))
      .select(F.col(a), F.col(h),
        F.posexplode(hashChunks(F.col(h), bands)).as(Seq("band", "bv")))
    val left = capBuckets(side("a", "ha"), Seq("band", "bv"), "a", maxBucketSize)
    val right = capBuckets(side("b", "hb"), Seq("band", "bv"), "b", maxBucketSize)
    left.join(right, Seq("band", "bv"))
      .filter(F.col("a") < F.col("b"))
      .select(F.col("a"), F.col("b"),
        hamming64(F.col("ha"), F.col("hb")).cast("int").as("hamming"))
      .filter(F.col("hamming") <= maxHamming)
      .dropDuplicates("a", "b")
  }

  /** [[hashNearDups]]' ASYMMETRIC sibling: probe rows against a stored
    * signature index — the media analog of [[nearDupsAgainstIndex]].
    * Only the (tiny) banded index side is bucket-capped; each probe row
    * carries its own signature through the band join, so the plan is
    * one declarative stream-static join when `probe` is a streaming
    * DataFrame. The index's slim (id, hash) projection is
    * localCheckpoint-ed (it is referenced by both the cap-count
    * aggregate and the band join); the probe side stays lazy and is
    * evaluated once. CAUTION on unbounded streams: the trailing
    * `dropDuplicates` is STATEFUL and retains every emitted pair
    * indefinitely — fine under bounded triggers (`AvailableNow`, the
    * test/backfill shape), but a continuous ingestion stream must
    * bound it upstream with `withWatermark` +
    * `dropDuplicatesWithinWatermark` (docs arrive in one micro-batch,
    * so a short watermark suffices — same accounting as
    * [[graft.streaming.DedupStream.nearDupsAgainstIndex]]). Output:
    * `(a = probe id, b = index id, hamming)`, one row per pair; ids
    * may come from disjoint spaces — no `a < b` ordering is
    * imposed. */
  def hashNearDupsAgainstIndex(probe: DataFrame, probeId: String,
      probeHash: String, index: DataFrame, indexId: String,
      indexHash: String, maxHamming: Int, bands: Int = 8,
      maxBucketSize: Int = 10000): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    val p = probe
      .select(F.col(probeId).as("a"), F.col(probeHash).cast("long").as("ha"))
      .select(F.col("a"), F.col("ha"),
        F.posexplode(hashChunks(F.col("ha"), bands)).as(Seq("band", "bv")))
    val slimIx = index
      .select(F.col(indexId).as("b"), F.col(indexHash).cast("long").as("hb"))
      .localCheckpoint(true)
    val ix = capBuckets(
      slimIx.select(F.col("b"), F.col("hb"),
        F.posexplode(hashChunks(F.col("hb"), bands)).as(Seq("band", "bv"))),
      Seq("band", "bv"), "b", maxBucketSize)
    p.join(ix, Seq("band", "bv"))
      .select(F.col("a"), F.col("b"),
        hamming64(F.col("ha"), F.col("hb")).cast("int").as("hamming"))
      .filter(F.col("hamming") <= maxHamming)
      .dropDuplicates("a", "b")
  }

  /** Per-document n-gram novelty: the fraction of a document's DISTINCT
    * word n-grams that appear in no other document — the doc-level lens
    * on [[duplicateSpans]]' corpus-level flags (RefinedWeb/Gopher-style
    * screens keep documents whose content is mostly their own; novelty
    * ≈ 0 marks boilerplate shells). Returns (id, n_grams, n_shared,
    * novelty) with novelty = 1 − n_shared/n_grams as ONE exact division;
    * documents shorter than `n` words have 0 grams and novelty 1.
    *
    * Scale shape: grams shuffle as 8-byte xxhash64 ids; the corpus-wide
    * gram table is a map-side-combined groupBy counting HOLDER DOCS per
    * gram (grams pre-deduped per doc, so a doc repeating its own phrase
    * is not "shared"); the join-back is on the gram-id key with AQE skew
    * handling; nothing driver-side. */
  def novelty(df: DataFrame, textCol: String, idCol: String,
      n: Int = 13): DataFrame = {
    val grams = df
      .select(F.col(idCol).as("__id"),
        F.explode_outer(F.array_distinct(
          posShingleHashes(F.col(textCol), n))).as("__g"))
    val holders = grams.filter(F.col("__g").isNotNull)
      .groupBy("__g").agg(F.count(F.lit(1)).as("__docs"))
    grams.join(holders, Seq("__g"), "left")
      .groupBy(F.col("__id").as(idCol))
      .agg(
        F.count(F.col("__g")).as("n_grams"),
        F.sum(F.when(F.col("__docs") > 1L, 1L).otherwise(0L)).as("n_shared"))
      .select(F.col(idCol), F.col("n_grams"), F.col("n_shared"),
        (F.lit(1.0) - F.col("n_shared").cast("double") /
          F.greatest(F.col("n_grams").cast("double"), F.lit(1.0))).as("novelty"))
  }

  // ------------------------------------------------------------------
  // Bloom-filter membership dedup (the memory-bounded large-corpus
  // exact-dedup device — Dolma's bloom dedup, arXiv:2402.00159 §2.2:
  // false positives drop a few unique docs, never keep a duplicate).
  // Build is one scan + the partial/final OR-merge of
  // [[graft.metrics.BloomAgg]]; probe is a broadcast of the single-row
  // bitset + a map-only bit test — no distinct-key shuffle, no join on
  // the corpus.
  // ------------------------------------------------------------------

  /** Oracle-replayable bit positions for `key`: hash `i` of `numHashes`
    * is the first `hexChars` hex chars of md5("i:" ++ key), parsed as an
    * int — so a SQL engine working purely on md5 hex STRINGS derives the
    * identical position set (the hex substring ↔ parsed int bijection).
    * Bitset size is 16^hexChars. NULL key → NULL (skipped by the agg). */
  def bloomPositionsMd5(key: Column, numHashes: Int = 4, hexChars: Int = 4): Column = {
    require(hexChars >= 1 && hexChars <= 7, "hexChars must keep positions in Int range")
    // array(...) of NULL elements is not itself NULL — gate on the key
    // so NULL keys yield a NULL array the bloom agg skips
    F.when(key.isNull, F.lit(null)).otherwise(
      F.array((0 until numHashes).map { i =>
        F.conv(F.substring(F.md5(F.concat(F.lit(s"$i:"), key)), 1, hexChars), 16, 10)
          .cast("int")
      }: _*))
  }

  /** Production bit positions: xxhash64 with per-function seed columns,
    * modulo `numBits` — one codegen'd hash per function, no string
    * materialization. */
  def bloomPositionsXx(key: Column, numHashes: Int, numBits: Int): Column =
    // xxhash64 skips NULL children (hashing only the seed), which would
    // silently give every NULL key the same position set — gate instead
    F.when(key.isNull, F.lit(null)).otherwise(
      F.array((0 until numHashes).map { i =>
        F.pmod(F.xxhash64(F.lit(i), key), F.lit(numBits.toLong)).cast("int")
      }: _*))

  /** Build a Bloom bitset over `positions` (an `array<int>` per row, from
    * [[bloomPositionsMd5]]/[[bloomPositionsXx]]): a single-row frame
    * `(bloom: array<bigint>, n_items: bigint)`. */
  def bloomBuild(df: DataFrame, positions: Column, numBits: Int): DataFrame =
    df.agg(
      graft.functions.bloom_agg(positions, numBits).as("bloom"),
      F.sum(F.when(positions.isNotNull, 1L).otherwise(0L)).as("n_items"))

  /** Membership test: true iff every bit in `positions` is set in
    * `bloom` (an `array<bigint>` bitset column, normally from a
    * broadcast of [[bloomBuild]]'s row). Codegen'd builtins only
    * (element_at + getbit). */
  def bloomMayContain(bloom: Column, positions: Column): Column =
    F.forall(positions, p =>
      F.call_function("getbit",
        F.element_at(bloom, F.shiftright(p, 6) + 1), (p % 64).cast("long")) === 1)

  /** Flag probe rows against a reference corpus' Bloom filter with a
    * `maybe_dup` membership column. `bloomDf` must be [[bloomBuild]]'s
    * single-row output; it is broadcast, so probing is map-only — which
    * also makes this legal STATELESS in Structured Streaming (a
    * stream-static broadcast: no watermark, no state store). */
  def bloomProbe(probe: DataFrame, positions: Column, bloomDf: DataFrame): DataFrame =
    probe.crossJoin(F.broadcast(bloomDf.select("bloom")))
      .withColumn("maybe_dup", bloomMayContain(F.col("bloom"), positions))
      .drop("bloom")

  // ------------------------------------------------------------------
  // Sharded Bloom: the past-broadcast-budget path. A single bitset is
  // bounded by one aggregation buffer and the broadcast to probers
  // (1e9 keys at 10 bits/key ≈ 1.25 GB — already at the edge); beyond
  // that, shard keys by a hash prefix and build one INDEPENDENT bloom
  // per shard (same aggregate, one groupBy(shard)), then co-partition
  // probes by the same prefix — a shuffle join on the shard id, no
  // broadcast, each shard's bitset sized for its key share.
  // ------------------------------------------------------------------

  /** Oracle-replayable shard id in [0, numShards): the first 7 hex
    * chars of md5("shard:" ++ key) mod numShards — disjoint digest
    * input from [[bloomPositionsMd5]]'s "i:" prefix, so shard routing
    * and bit positions are independent hashes of the key. NULL key →
    * NULL shard (the row joins nothing and probes false). */
  def bloomShardMd5(key: Column, numShards: Int): Column = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    F.pmod(
      F.conv(F.substring(F.md5(F.concat(F.lit("shard:"), key)), 1, 7), 16, 10)
        .cast("int"),
      F.lit(numShards))
  }

  /** Build one Bloom bitset PER SHARD: `(shard, bloom, n_items)` rows,
    * one per shard value present in `df`. Same partial/final OR-merge
    * as [[bloomBuild]] behind one groupBy on the (tiny) shard key —
    * map-side partials mean the exchange ships numShards bitsets per
    * partition, never rows. `shard` and `positions` must both derive
    * from the SAME key expression ([[bloomShardMd5]] /
    * [[bloomPositionsMd5]]) so probes route to the bloom that saw the
    * key. */
  def bloomBuildSharded(df: DataFrame, shard: Column, positions: Column,
      numBits: Int): DataFrame =
    df.groupBy(shard.as("shard")).agg(
      graft.functions.bloom_agg(positions, numBits).as("bloom"),
      F.sum(F.when(positions.isNotNull, 1L).otherwise(0L)).as("n_items"))

  /** Membership test against a [[bloomBuildSharded]] table: probes
    * co-partition with the bloom rows on the shard id — a SHUFFLE hash
    * join (numShards bitset rows build the hash side; the corpus-scale
    * probe side streams), never a broadcast: the sharded path exists
    * precisely because the combined bitsets exceed broadcast budget.
    * A probe whose shard has no bloom row (or a NULL key) gets
    * `maybe_dup = false` — nothing was inserted there. */
  def bloomProbeSharded(probe: DataFrame, shard: Column, positions: Column,
      bloomDf: DataFrame): DataFrame = {
    // the bloom side's columns join in under reserved __-prefixed names
    // so a probe frame already carrying `bloom` (or `shard`) stays
    // unambiguous; only the internal __ names themselves are reserved
    val reserved = Set("__shard", "__bshard", "__bbloom")
    val clash = probe.columns.filter(reserved)
    require(clash.isEmpty,
      s"probe columns ${clash.mkString(", ")} collide with reserved internal names")
    probe.withColumn("__shard", shard)
      .join(
        bloomDf.select(F.col("shard").as("__bshard"), F.col("bloom").as("__bbloom"))
          .hint("shuffle_hash"),
        F.col("__shard") === F.col("__bshard"), "left")
      .withColumn("maybe_dup",
        F.coalesce(bloomMayContain(F.col("__bbloom"), positions), F.lit(false)))
      .drop("__bbloom", "__bshard", "__shard")
  }

  /** A sharded-Bloom key derivation: closes over shard count, hash
    * count and bitset size, and derives BOTH the shard id and the bit
    * positions from ONE key expression — so a caller can never pair
    * `bloomShardMd5(colA)` with positions of `colB` (which routes
    * probes to blooms that never saw the key and returns
    * silently-wrong membership). Build with [[BloomKeyer.md5]]
    * (oracle-replayable hex-string derivation) or [[BloomKeyer.xx]]
    * (codegen'd xxhash64 production derivation), then pass the SAME
    * keyer to [[Dedup.bloomBuildKeyed]] and [[Dedup.bloomProbeKeyed]]. */
  final class BloomKeyer private[Dedup] (
      val numShards: Int, val numBits: Int,
      shardOf: Column => Column, positionsOf: Column => Column) {
    def shard(key: Column): Column = shardOf(key)
    def positions(key: Column): Column = positionsOf(key)
  }

  object BloomKeyer {
    /** Oracle-replayable derivation ([[bloomShardMd5]] +
      * [[bloomPositionsMd5]]); bitset size is 16^hexChars. */
    def md5(numShards: Int, numHashes: Int = 4, hexChars: Int = 4): BloomKeyer = {
      require(hexChars >= 1 && hexChars <= 7, "hexChars must keep positions in Int range")
      new BloomKeyer(numShards, 1 << (4 * hexChars),
        bloomShardMd5(_, numShards), bloomPositionsMd5(_, numHashes, hexChars))
    }

    /** Production derivation: shard = xxhash64 with a dedicated seed
      * (disjoint from [[bloomPositionsXx]]'s 0..numHashes-1 seeds, so
      * routing and positions stay independent hashes of the key). */
    def xx(numShards: Int, numHashes: Int, numBits: Int): BloomKeyer = {
      require(numShards >= 1, s"numShards must be >= 1, got $numShards")
      new BloomKeyer(numShards, numBits,
        key => F.when(key.isNull, F.lit(null)).otherwise(
          F.pmod(F.xxhash64(F.lit("shard"), key), F.lit(numShards.toLong)).cast("int")),
        bloomPositionsXx(_, numHashes, numBits))
    }
  }

  /** [[bloomBuildSharded]] with shard and positions derived from one
    * `key` by the same [[BloomKeyer]] the probe side will use. */
  def bloomBuildKeyed(df: DataFrame, key: Column, keyer: BloomKeyer): DataFrame =
    bloomBuildSharded(df, keyer.shard(key), keyer.positions(key), keyer.numBits)

  /** [[bloomProbeSharded]] with shard and positions derived from one
    * `key` by the same [[BloomKeyer]] that built `bloomDf`. */
  def bloomProbeKeyed(probe: DataFrame, key: Column, keyer: BloomKeyer,
      bloomDf: DataFrame): DataFrame =
    bloomProbeSharded(probe, keyer.shard(key), keyer.positions(key), bloomDf)
}
