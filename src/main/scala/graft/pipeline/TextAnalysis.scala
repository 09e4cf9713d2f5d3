package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

import graft.core.Checkpoint

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language ID, all as codegen'd column expressions (map-only,
  * no UDFs — a 100 TB corpus pays exactly one scan and no Python/JVM
  * serialization boundary).
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    F.when(F.length(F.trim(text)) === 0, 0).otherwise(F.size(F.split(F.trim(text), "\\s+")))

  /** BPE-style pre-tokenizer pattern (the GPT-2 shape, published in the
    * paper's released tokenizer): English contractions, space-prefixed
    * letter runs, digit runs, and other-symbol runs. Restricted to
    * constructs shared by java.util.regex and RE2 (no lookahead, ASCII
    * classes) so the DuckDB oracle evaluates the identical pattern; both
    * engines use leftmost-first alternation, so match counts agree. */
  val BpeTokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+"

  /** BPE-ish token count: number of [[BpeTokenPattern]] matches — the
    * standard cheap proxy for LLM token cost (whitespace runs merge into
    * the following token, mirroring byte-level BPE pre-tokenization). */
  def bpeTokenCount(text: Column): Column =
    F.size(F.regexp_extract_all(text, F.lit(BpeTokenPattern), F.lit(0)))

  /** Count of alphabetic characters. */
  def alphaCount(text: Column): Column =
    F.length(text) - F.length(F.regexp_replace(text, "[A-Za-z]", ""))

  /** Count of digit characters. */
  def digitCount(text: Column): Column =
    F.length(text) - F.length(F.regexp_replace(text, "[0-9]", ""))

  /** Count of punctuation characters (fixed class, regex-portable). */
  def punctCount(text: Column): Column =
    F.length(text) - F.length(F.regexp_replace(text, "[.,;:!?'\"()-]", ""))

  /** Small per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deterministic and replicable in ANSI SQL. */
  val StopWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "ist", "den", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "des", "en", "un", "du", "une", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "他", "这", "中", "大"))

  /** Tokens of lowercased text. */
  def tokens(text: Column): Column = F.split(F.lower(F.trim(text)), "\\s+")

  /** Stopword hits for one language list (with multiplicity). */
  def stopwordHits(text: Column, words: Seq[String]): Column = {
    val toks = tokens(text)
    F.size(F.filter(toks, t => words.map(w => t === F.lit(w)).reduce(_ || _)))
  }

  /** Language-ID heuristic: argmax of per-language stopword hit counts;
    * 'und' (undetermined) when no list hits; ties break by language code
    * ascending (deterministic). */
  def langId(text: Column): Column = {
    val scored = StopWords.map { case (lang, words) =>
      F.struct(stopwordHits(text, words).as("hits"), F.lit(lang).as("lang"))
    }
    // max by (hits, reversed-lang) ⇒ ties pick lexicographically smallest lang
    val best = F.aggregate(
      F.array(scored: _*),
      F.struct(F.lit(-1).as("hits"), F.lit("zzz").as("lang")),
      (acc, s) => F.when(
        s.getField("hits") > acc.getField("hits") ||
          (s.getField("hits") === acc.getField("hits") &&
            s.getField("lang") < acc.getField("lang")), s).otherwise(acc))
    F.when(best.getField("hits") <= 0, F.lit("und")).otherwise(best.getField("lang"))
  }

  /** Rule-based quality features + composite score, integer-ratio based so
    * results are deterministic across engines. */
  def withQuality(df: DataFrame, textCol: String): DataFrame = {
    val t = F.col(textCol)
    val nChars = F.length(t)
    val nTok = tokenCount(t)
    df.withColumn("n_chars", nChars)
      .withColumn("n_tokens", nTok)
      .withColumn("n_alpha", alphaCount(t))
      .withColumn("n_digits", digitCount(t))
      .withColumn("n_punct", punctCount(t))
      .withColumn("alpha_ratio",
        F.when(nChars === 0, 0.0).otherwise(alphaCount(t).cast("double") / nChars.cast("double")))
      .withColumn("mean_token_len",
        F.when(nTok === 0, 0.0).otherwise(
          (nChars - nTok + 1).cast("double") / nTok.cast("double")))
      .withColumn("stopword_hits", stopwordHits(t, StopWords.head._2))
      .withColumn("quality_ok",
        F.col("n_tokens") >= 5 && F.col("alpha_ratio") > 0.5 && F.col("mean_token_len") < 15.0)
  }

  /** Gopher-style repetition quality signals (Rae et al.,
    * arXiv:2112.11446, Table A1), word-level: repeated-word ratio,
    * characters covered by the most frequent word bigram, characters in
    * duplicated word trigrams — all against the space-joined token text.
    * One native map-only pass per row ([[graft.functions.RepetitionStats]]);
    * every output is an integer or a single int/int division, so the
    * DuckDB oracle reproduces it bit-for-bit. NULL text → NULL stats. */
  def withRepetition(df: DataFrame, textCol: String): DataFrame = {
    val toks = Dedup.tokens(F.col(textCol))
    val st = graft.functions.Repetition.repetition_stats(toks)
    val nw = F.size(toks)
    val nd = F.size(F.array_distinct(toks))
    val norm = st.getField("norm_chars")
    def frac(chars: Column): Column =
      F.when(norm === 0, 0.0).otherwise(chars.cast("double") / norm.cast("double"))
    df.withColumn("n_words", nw)
      .withColumn("n_distinct_words", nd)
      .withColumn("word_rep_ratio",
        F.when(nw === 0, 0.0).otherwise(
          F.lit(1.0) - nd.cast("double") / nw.cast("double")))
      .withColumn("top2_count", st.getField("top2_count"))
      .withColumn("top2_frac", frac(st.getField("top2_chars")))
      .withColumn("dup3_frac", frac(st.getField("dup3_chars")))
  }

  /** Per-document analysis frame: id, token stats, language guess. */
  def analyze(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withQuality(df, textCol)
      .withColumn("lang_guess", langId(F.col(textCol)))
      .select(idCol, "n_chars", "n_tokens", "n_alpha", "n_digits", "n_punct",
        "alpha_ratio", "mean_token_len", "quality_ok", "lang_guess")

  /** Top-k characteristic terms per document by tf-idf with the
    * reciprocal idf (score = tf/df — term frequency in the doc over the
    * number of docs containing the term). The single IEEE division makes
    * the score bit-exact across engines, unlike a log-smoothed idf whose
    * `ln` may differ in the last ulp between libm implementations; the
    * ranking this produces is the standard "what words make this doc
    * different" signal a corpus-exploration pipeline wants.
    *
    * Scale shape — ONE scan, three exchanges, no join: explode → one
    * groupBy((doc, term)) for tf; df attaches as `count(*)` over a
    * window partitioned BY TERM on the tf rows (tf has exactly one row
    * per (doc, term), so the partition size IS the document frequency —
    * a groupBy(term)+join-back formulation re-scanned the corpus and
    * Spark's stats happily broadcast the vocab side, which at web scale
    * is 10⁸ terms); then a window partitioned BY DOC (bounded per-doc
    * term count) for the top-k cut. A stopword's term partition holds
    * one row per containing doc — WindowExec buffers it through a
    * spillable sorter, so ubiquitous terms cost disk, not memory. Ties
    * broken by term so output is deterministic. */
  def tfIdfTopTerms(
      df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    val toks = df.select(F.col(idCol),
      F.explode(Dedup.tokens(F.col(textCol))).as("term"))
    val tf = toks.groupBy(idCol, "term").agg(F.count(F.lit(1)).as("tf"))
    val w = Window.partitionBy(idCol)
      .orderBy(F.col("score").desc, F.col("term"))
    tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
      .withColumn("score", F.col("tf").cast("double") / F.col("df").cast("double"))
      .withColumn("rank", F.row_number().over(w).cast("long"))
      .filter(F.col("rank") <= k)
      .select(F.col(idCol), F.col("term"), F.col("tf"), F.col("df"),
        F.col("score"), F.col("rank"))
  }

  /** c-TF-IDF class keywords (the BERTopic/class-based variant of
    * [[tfIdfTopTerms]]): the k terms most characteristic of each CLASS
    * (source, language, topic cluster …) — `tf` counted over the class's
    * concatenated text, down-weighted by the number of classes containing
    * the term. Same reciprocal-idf scoring as [[tfIdfTopTerms]] (exact
    * integers + one IEEE divide), so the ranked output replays
    * bit-for-bit in SQL. Rank order is (score DESC, term DESC): the
    * bounded-heap keeps the lexicographically largest payload on score
    * ties, and the oracle mirrors it.
    *
    * Scale shape: tokens collapse map-side into the (class, term) tf
    * aggregate; class_df is a second aggregate over that (vocab-sized,
    * NOT corpus-sized) frame; the scored frame is localCheckpoint-ed so
    * the top-k pass and the tf/class_df rejoin don't re-scan the corpus;
    * the per-class cut is [[graft.functions.top_k_agg]] — O(k) heap per
    * class in partial AND final, never a window over a class mega-key
    * (one class's vocab at web scale is 10⁸ rows in one window task's
    * sort). The rejoin build side is classes × k rows — broadcast. */
  def classTfidf(
      df: DataFrame, classCol: String, textCol: String, k: Int = 10): DataFrame = {
    val toks = df.select(F.col(classCol).as("class"),
      F.explode(Dedup.tokens(F.col(textCol))).as("term"))
    val tf = toks.groupBy("class", "term").agg(F.count(F.lit(1)).as("tf"))
    val cdf = tf.groupBy("term").agg(F.count(F.lit(1)).as("class_df"))
    val scored = tf.join(cdf, Seq("term"))
      .withColumn("score", F.col("tf").cast("double") / F.col("class_df").cast("double"))
      .localCheckpoint(true)
    val top = scored.groupBy("class")
      .agg(graft.functions.top_k_agg(F.col("score"), F.col("term"), k).as("top"))
      .select(F.col("class"), F.posexplode(F.col("top")).as(Seq("pos", "entry")))
      .select(F.col("class"), F.col("entry.id").as("term"),
        (F.col("pos") + 1).cast("long").as("rank"))
    scored.join(F.broadcast(top), Seq("class", "term"))
      .select(F.col("class"), F.col("term"), F.col("tf"), F.col("class_df"),
        F.col("score"), F.col("rank"))
  }

  /** Distributed BPE vocabulary training (Sennrich et al., ACL 2016):
    * greedy merge rounds over the frequency-weighted word vocabulary —
    * the tokenizer-training pass a 100 TB corpus pipeline runs. Each
    * round counts adjacent SYMBOL pairs (weighted by word frequency),
    * merges the most frequent pair everywhere, and repeats; returns
    * the learned merge table `(round, s1, s2, merged, cnt)`.
    *
    * Representation: a word's symbol sequence is one STRING with
    * double U+001F separators at every boundary INCLUDING both ends
    * (`••a••b••`), so one `regexp_replace` of `•s1••s2•` with
    * `•s1s2•` applies a merge with correct greedy left-to-right
    * non-overlapping semantics: each match consumes one separator from
    * each flanking boundary, leaving a single `•` behind for the next
    * adjacent occurrence to anchor on (`••a••b••a••b••` merges BOTH
    * pairs in one pass), while a symbol-INTERNAL `s1s2` substring can
    * never match (no separator inside a symbol). No lookahead, so the
    * same pattern runs on java.util.regex and RE2 — the cross-engine
    * bridge that makes the SQL oracle replay training exactly.
    *
    * Only `[a-z0-9]+` tokens enter the vocabulary (the standard
    * pre-tokenization cut, and what keeps patterns metacharacter-free
    * in both engines). Ties break (count DESC, s1, s2). Training stops
    * early when no pair remains.
    *
    * Scale shape per round: ONE map-side-combined groupBy over the
    * adjacent-pair space (bounded by running-vocab size, not corpus),
    * a driver-side top-1 (TakeOrdered), and a map-only regexp_replace
    * over the vocabulary frame — which holds one row per DISTINCT
    * word, not per occurrence, so rounds never rescan the corpus. The
    * evolving frame is localCheckpointed per round (iterative lineage
    * truncation, as [[graft.pipeline.ConnectedComponents]]) and released
    * once superseded; the last once the merges are on the driver. */
  def bpeTrainMerges(df: DataFrame, textCol: String, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    val sep = "\u001f"
    val sep2 = sep + sep
    val vocab = df
      .select(F.explode(F.filter(tokens(F.col(textCol)),
        w => w.rlike("^[a-z0-9]+$"))).as("t"))
      .groupBy("t").agg(F.count(F.lit(1)).as("freq"))
      .select(F.concat(F.lit(sep2),
          F.regexp_replace(F.col("t"), "(.)", "$1" + sep2)).as("e"),
        F.col("freq"))
    var frame = vocab.localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    try {
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val syms = F.filter(F.split(F.col("e"), sep2), s => F.length(s) > 0)
        val len = F.greatest(F.size(syms) - 1, F.lit(0))
        val adj = F.arrays_zip(F.slice(syms, F.lit(1), len), F.slice(syms, F.lit(2), len))
        val top = frame
          .select(F.explode(adj).as("p"), F.col("freq"))
          .groupBy(F.col("p.0").as("s1"), F.col("p.1").as("s2"))
          .agg(F.sum("freq").as("cnt"))
          .orderBy(F.col("cnt").desc, F.col("s1"), F.col("s2"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (s1, s2, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((r, s1, s2, s1 + s2, cnt))
          val next = frame.select(
            F.regexp_replace(F.col("e"),
              F.lit(sep + s1 + sep2 + s2 + sep), F.lit(sep + s1 + s2 + sep)).as("e"),
            F.col("freq")).localCheckpoint(true)
          Checkpoint.release(frame) // superseded; next is materialized
          frame = next
          r += 1
        }
      }
    } finally Checkpoint.release(frame)
    merges.toSeq.toDF("round", "s1", "s2", "merged", "cnt")
  }

  /** Windowed term CO-OCCURRENCE with exact PMI — the skip-gram
    * statistics an embedding-training pipeline aggregates before
    * building input/output vocabularies (word2vec/GloVe shape): for
    * every ordered token pair within `window` positions, the exact
    * occurrence count, plus the pointwise mutual information as a
    * QUANTIZED integer — `pmi_q = floor(1e6 · ln(cnt·total /
    * (cnt_left·cnt_right)))`, the ln evaluated in-plan on an
    * exactly-cast integer ratio so it replays in SQL bit-for-bit (the
    * NaiveBayes/LM-scorer bridge). Top `topK` pairs by
    * (count DESC, left, right).
    *
    * Scale shape: pair extraction is MAP-ONLY array slicing (one
    * zip_with per distance, no self-join, no window function), one
    * map-side-combined groupBy over the pair space, marginals are two
    * bounded aggregates of the PAIR table (never the corpus) joined
    * back, and the top-k is TakeOrdered. */
  def termCooccurrence(df: DataFrame, textCol: String, window: Int = 2,
      topK: Int = 50): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = F.filter(tokens(F.col(textCol)), w => w.rlike("^[a-z0-9]+$"))
    val len = F.size(toks)
    val pairs = F.flatten(F.array((1 to window).map { d =>
      val m = F.greatest(len - d, F.lit(0))
      F.zip_with(F.slice(toks, F.lit(1), m), F.slice(toks, F.lit(d + 1), m),
        (a, b) => F.struct(a.as("a"), b.as("b")))
    }: _*))
    // the pair table feeds FOUR consumers (itself, two marginals, the
    // total) — checkpoint it so the corpus is scanned ONCE, not four
    // times (the marginal aggregates then run over pair rows only)
    val g = df.select(F.explode(pairs).as("p"))
      .select(F.col("p.a").as("left"), F.col("p.b").as("right"))
      .groupBy("left", "right").agg(F.count(F.lit(1)).as("cnt"))
      .localCheckpoint(false)
    val ca = g.groupBy("left").agg(F.sum("cnt").as("__ca"))
    val cb = g.groupBy("right").agg(F.sum("cnt").as("__cb"))
    val tot = g.agg(F.sum("cnt").as("__t"))
    g.join(ca, Seq("left")).join(cb, Seq("right"))
      .crossJoin(F.broadcast(tot))
      .select(F.col("left"), F.col("right"), F.col("cnt"),
        F.floor(F.lit(1000000.0) *
          F.log((F.col("cnt") * F.col("__t")).cast("double") /
            (F.col("__ca") * F.col("__cb")).cast("double")))
          .cast("long").as("pmi_q"))
      .orderBy(F.col("cnt").desc, F.col("left"), F.col("right"))
      .limit(topK)
  }

  /** PRODUCTION-SCALE BPE training: the identical greedy sequential
    * merge sequence as [[bpeTrainMerges]] — same pair counting (per
    * adjacent position, frequency-weighted), same greedy left-to-right
    * non-overlapping merge application, same (count DESC, s1, s2) tie
    * break, same early stop — computed from ONE Spark job instead of
    * one job per merge. BPE training depends on the corpus only through
    * the frequency-weighted WORD HISTOGRAM (the pre-tokenization
    * contract: distinct `[a-z0-9]+` words, bounded by vocabulary
    * growth, not corpus size — the same reason every production
    * tokenizer trainer aggregates words first), so the single
    * map-side-combined `groupBy(word)` is the only distributed pass; a
    * 32k-merge vocabulary then trains driver-side in seconds over the
    * collected histogram with an INDEXED incremental loop:
    *
    *  - `pairCounts` holds every adjacent pair's exact weighted count;
    *  - a TreeSet ordered (count DESC, s1, s2) yields each round's
    *    argmax in O(log P) — no rescan;
    *  - merging pair p touches ONLY the words that contain p (tracked
    *    in an inverted index), updating the handful of neighbor-pair
    *    counts each occurrence shifts — the standard tokenizer-trainer
    *    bookkeeping, O(occurrences) per round rather than O(corpus).
    *
    * Equivalence to the distributed trainer is exact (spec-pinned on
    * the corpus and on adversarial run/tie words, and `bpe_train_fast`
    * hash-matches the same unrolled SQL replay oracle as
    * [[bpeTrainMerges]]): successive picked counts are non-increasing
    * (a merge only creates pairs no more frequent than itself), so the
    * greedy argmax sequence is identical.
    *
    * `maxDistinctWords` bounds the driver collect LOUDLY (the histogram
    * for a web-scale corpus after `[a-z0-9]+` pre-tokenization is
    * typically 1e6-1e7 words — far under the default; a corpus that
    * blows past it needs stronger pre-tokenization, not a bigger
    * driver). */
  def bpeTrainMergesFast(df: DataFrame, textCol: String, rounds: Int,
      maxDistinctWords: Long = 20000000L,
      byteLevel: Boolean = false): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    // byte-level mode (GPT-2 family): pretokens keep their leading
    // space and ALL scripts survive (no [a-z0-9]+ cut); each distinct
    // pretoken's initial symbols are its UTF-8 bytes as lowercase hex
    // pairs — SQL-replayable (hex(encode(t))) and metachar-free, so the
    // same merge/tie machinery runs unchanged over the byte alphabet.
    val histSrc =
      if (byteLevel) df.select(F.explode(bytePretokens(F.col(textCol))).as("t"))
      else df.select(F.explode(F.filter(tokens(F.col(textCol)),
        w => w.rlike("^[a-z0-9]+$"))).as("t"))
    val hist = histSrc.groupBy("t").agg(F.count(F.lit(1)).as("freq"))
    val nWords = hist.count()
    require(nWords <= maxDistinctWords,
      s"$nWords distinct words exceeds the $maxDistinctWords driver-histogram bound")
    val collected = hist.collect()
    val words = new Array[Array[String]](collected.length)
    val freqs = new Array[Long](collected.length)
    var wi = 0
    while (wi < collected.length) {
      words(wi) =
        if (byteLevel)
          collected(wi).getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)
            .map(b => f"${b & 0xff}%02x")
        else collected(wi).getString(0).map(_.toString).toArray
      freqs(wi) = collected(wi).getLong(1)
      wi += 1
    }
    type Pair = (String, String)
    val counts = scala.collection.mutable.HashMap.empty[Pair, Long]
    // HashSet, not BitSet: a BitSet sizes to the LARGEST member, so a
    // rare pair seen only in a high-indexed word would allocate maxWordId/8
    // bytes — at 32k pairs over millions of words that is gigabytes
    val index = scala.collection.mutable.HashMap.empty[Pair, scala.collection.mutable.HashSet[Int]]
    def addPair(p: Pair, w: Int, f: Long): Unit = {
      counts.updateWith(p)(c => Some(Math.addExact(c.getOrElse(0L), f)))
      index.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty[Int]) += w
    }
    // ordered view: (count DESC, s1, s2) — the exact distributed ORDER BY
    val ord = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(b._1, a._1)
          if (c != 0) c
          else {
            val c1 = a._2.compareTo(b._2)
            if (c1 != 0) c1 else a._3.compareTo(b._3)
          }
        }
      })
    def setCount(p: Pair, next: Long): Unit = {
      val prev = counts.getOrElse(p, 0L)
      if (prev != 0L) ord.remove((prev, p._1, p._2))
      if (next != 0L) { counts(p) = next; ord.add((next, p._1, p._2)) }
      else counts.remove(p)
    }
    wi = 0
    while (wi < words.length) {
      val w = words(wi); val f = freqs(wi)
      var i = 0
      while (i + 1 < w.length) { addPair((w(i), w(i + 1)), wi, f); i += 1 }
      wi += 1
    }
    counts.foreach { case ((a, b), c) => ord.add((c, a, b)) }
    def pairsOf(w: Array[String]): scala.collection.mutable.HashMap[Pair, Long] = {
      val m = scala.collection.mutable.HashMap.empty[Pair, Long]
      var i = 0
      while (i + 1 < w.length) {
        m.updateWith((w(i), w(i + 1)))(c => Some(c.getOrElse(0L) + 1L)); i += 1
      }
      m
    }
    // greedy left-to-right non-overlapping — the regexp_replace semantics
    def applyMerge(w: Array[String], s1: String, s2: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        if (i + 1 < w.length && w(i) == s1 && w(i + 1) == s2) {
          out += s1 + s2; i += 2
        } else { out += w(i); i += 1 }
      }
      out.toArray
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var r = 1
    while (r <= rounds && !ord.isEmpty) {
      val top = ord.first()
      val (cnt, s1, s2) = (top._1, top._2, top._3)
      merges += ((r, s1, s2, s1 + s2, cnt))
      val hit = index.getOrElse((s1, s2), scala.collection.mutable.HashSet.empty[Int])
      hit.toSeq.foreach { w =>
        val before = pairsOf(words(w))
        if (before.contains((s1, s2))) { // index entries can be stale
          val f = freqs(w)
          val after0 = applyMerge(words(w), s1, s2)
          words(w) = after0
          val after = pairsOf(after0)
          (before.keySet ++ after.keySet).foreach { p =>
            val d = after.getOrElse(p, 0L) - before.getOrElse(p, 0L)
            if (d != 0L) {
              setCount(p, Math.addExact(counts.getOrElse(p, 0L),
                Math.multiplyExact(d, f)))
              if (d > 0L) index.getOrElseUpdate(p,
                scala.collection.mutable.HashSet.empty[Int]) += w
            }
          }
        }
      }
      index.remove((s1, s2))
      r += 1
    }
    merges.toSeq.toDF("round", "s1", "s2", "merged", "cnt")
  }

  /** BPE ENCODING with a learned merge table — the inference side of
    * [[bpeTrainMerges]]: apply the merges in training order to every
    * `[a-z0-9]+` token and return the document's BPE symbols in
    * order. Map-only (one regexp_replace per merge over the
    * double-separator encoding, then split), so encoding is one
    * corpus scan; the same replace semantics as training means
    * train-then-encode round-trips exactly (oracle-checked end to end
    * in `bpe_encode`).
    *
    * PLAN-SIZE BUDGET: this shape folds ONE regex node per merge into
    * the Column tree, so it is the ORACLE-BRIDGE encoder — correct and
    * SQL-replayable for merge tables up to a few hundred entries, but
    * unplannable at a production 32k-merge vocabulary. For real
    * vocabularies use [[bpeSegmentNative]], which computes the
    * identical function (equivalence spec-pinned, same oracle) with
    * the table as one broadcast-style reference object instead of
    * plan nodes. */
  def bpeSegment(text: Column, merges: Seq[(String, String)]): Column = {
    val sep = "\u001f"
    val sep2 = sep + sep
    val toksA = F.filter(tokens(text), w => w.rlike("^[a-z0-9]+$"))
    val enc = F.transform(toksA, t => {
      val e0 = F.concat(F.lit(sep2), F.regexp_replace(t, "(.)", "$1" + sep2))
      val eN = merges.foldLeft(e0) { case (e, (s1, s2)) =>
        F.regexp_replace(e, F.lit(sep + s1 + sep2 + s2 + sep),
          F.lit(sep + s1 + s2 + sep))
      }
      F.filter(F.split(eN, sep2), x => F.length(x) > 0)
    })
    F.flatten(enc)
  }

  /** Production-vocabulary BPE encoding: the same function as
    * [[bpeSegment]] — bit-identical output, pinned by spec and by the
    * shared `bpe_encode` oracle — computed by the native
    * [[graft.functions.BpeEncodeTokens]] expression, which applies the
    * merge table in O(passes × word-length) per word with the table
    * held once per executor. No per-merge plan nodes, so a 32k-merge
    * production vocabulary encodes a 100 TB corpus in one map-only
    * codegen'd scan. Prefer this everywhere except the oracle bridge. */
  def bpeSegmentNative(text: Column, merges: Seq[(String, String)]): Column = {
    val toksA = F.filter(tokens(text), w => w.rlike("^[a-z0-9]+$"))
    graft.functions.BpeEncode.bpe_encode_tokens(toksA, merges)
  }

  /** GPT-2-style byte-level pretokens: space-prefixed letter / number /
    * punctuation runs, case preserved, EVERY script kept — the
    * lookahead-free subset of the GPT-2 pretokenizer pattern (the
    * original's `\s+(?!\S)` trailing-space branch needs lookahead,
    * which RE2 lacks, so pure whitespace runs are dropped instead of
    * becoming tokens; words carry their single leading space exactly
    * like GPT-2). Runs identically on java.util.regex and RE2 — the
    * cross-engine bridge for the byte-mode oracles. */
  def bytePretokens(text: Column): Column =
    F.regexp_extract_all(text,
      F.lit(" ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"), F.lit(0))

  /** A pretoken's UTF-8 bytes as a lowercase-hex string — the
    * byte-level alphabet in SQL-replayable form (`lower(hex(encode(t)))`
    * in DuckDB): every 2-char hex pair is one byte symbol, alphanumeric
    * and metachar-free, so the double-separator merge machinery and
    * the native encoder run over bytes unchanged. */
  def byteHex(tok: Column): Column = F.lower(F.hex(F.encode(tok, "UTF-8")))

  /** Byte-level BPE encoding with a [[bpeTrainMergesFast]]
    * `byteLevel = true` merge table: pretokenize, hex the UTF-8 bytes,
    * and run the native table-driven encoder over hex-pair symbols
    * (`symWidth = 2`). Map-only, one corpus scan, table held once per
    * executor — the production path for pricing real-world vocabularies
    * on unicode-heavy corpora, where the default `[a-z0-9]+` mode
    * silently drops every non-ASCII word from the count. */
  def bpeSegmentBytes(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeEncode.bpe_encode_tokens(
      F.transform(bytePretokens(text), t => byteHex(t)), merges, symWidth = 2)

  /** Tokenizer FERTILITY audit: per group, how well a trained BPE
    * vocabulary compresses the corpus — `(n_docs, n_tokens, n_chars,
    * n_symbols, chars_per_symbol, symbols_per_token)`. The go/no-go
    * readout after training a vocabulary (fertility creeping toward
    * 1 symbol/char means the vocab doesn't fit the corpus — the
    * standard multilingual-tokenizer failure). Encodes with the native
    * table-driven encoder, so it prices a real 32k vocabulary; all
    * counts exact BIGINTs, the two ratios single IEEE divides. One
    * map-only encode scan + one groupBy. */
  def bpeFertility(df: DataFrame, textCol: String, groupCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val toksA = F.filter(tokens(F.col(textCol)), w => w.rlike("^[a-z0-9]+$"))
    val syms = bpeSegmentNative(F.col(textCol), merges)
    df.select(F.col(groupCol).as("source"),
        F.coalesce(F.size(toksA).cast("long"), F.lit(0L)).as("__nt"),
        F.coalesce(F.aggregate(toksA, F.lit(0L),
          (acc, t) => acc + F.length(t).cast("long")), F.lit(0L)).as("__nc"),
        F.coalesce(F.size(syms).cast("long"), F.lit(0L)).as("__ns"))
      .groupBy("source")
      .agg(F.count(F.lit(1)).as("n_docs"),
        F.sum("__nt").as("n_tokens"),
        F.sum("__nc").as("n_chars"),
        F.sum("__ns").as("n_symbols"))
      .withColumn("chars_per_symbol",
        F.when(F.col("n_symbols") === 0L, 0.0)
          .otherwise(F.col("n_chars").cast("double") / F.col("n_symbols").cast("double")))
      .withColumn("symbols_per_token",
        F.when(F.col("n_tokens") === 0L, 0.0)
          .otherwise(F.col("n_symbols").cast("double") / F.col("n_tokens").cast("double")))
  }

  /** Tokenizer fertility under the BYTE-LEVEL vocabulary — the audit
    * [[bpeFertility]] cannot price on unicode-heavy corpora (its
    * `[a-z0-9]+` cut drops every non-ASCII word): per group,
    * `(n_docs, n_tokens, n_bytes, n_symbols, bytes_per_symbol,
    * symbols_per_token)` with tokens = [[bytePretokens]], bytes =
    * UTF-8 octets (the byte alphabet's unit), symbols =
    * [[bpeSegmentBytes]] output. Same one-scan shape. */
  def bpeFertilityBytes(df: DataFrame, textCol: String, groupCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val toksA = bytePretokens(F.col(textCol))
    val syms = bpeSegmentBytes(F.col(textCol), merges)
    df.select(F.col(groupCol).as("source"),
        F.coalesce(F.size(toksA).cast("long"), F.lit(0L)).as("__nt"),
        F.coalesce(F.aggregate(toksA, F.lit(0L),
          (acc, t) => acc + F.length(F.encode(t, "UTF-8")).cast("long")),
          F.lit(0L)).as("__nb"),
        F.coalesce(F.size(syms).cast("long"), F.lit(0L)).as("__ns"))
      .groupBy("source")
      .agg(F.count(F.lit(1)).as("n_docs"),
        F.sum("__nt").as("n_tokens"),
        F.sum("__nb").as("n_bytes"),
        F.sum("__ns").as("n_symbols"))
      .withColumn("bytes_per_symbol",
        F.when(F.col("n_symbols") === 0L, 0.0)
          .otherwise(F.col("n_bytes").cast("double") / F.col("n_symbols").cast("double")))
      .withColumn("symbols_per_token",
        F.when(F.col("n_tokens") === 0L, 0.0)
          .otherwise(F.col("n_symbols").cast("double") / F.col("n_tokens").cast("double")))
  }

  /** χ²-test class keywords: the feature-selection step ahead of
    * training a class/quality/domain classifier (Yang & Pedersen,
    * ICML 1997: χ² picks the most class-DISCRIMINATIVE terms, where
    * [[classTfidf]] picks the most class-characteristic by frequency).
    * Document-frequency based: for class c and term t over the 2×2
    * table a = docs-in-c-with-t, b = n_c − a, c' = df_t − a,
    * d = n − n_c − c', the statistic is
    * `n·(a·d − b·c')² / ((a+b)(c'+d)(a+c')(b+d))` — every input an
    * exact BIGINT count, the statistic one fixed scalar IEEE tree, so
    * the ranked output is oracle-reproducible bit-for-bit. A term
    * present in EVERY document has no signal and scores 0 (its
    * denominator term b+d is 0). Requires ≥ 2 classes (with one class
    * c'+d = 0 for every term).
    *
    * Output: top `k` terms per class as
    * `(class, term, df_class, df, chi2, rank)`, rank by
    * (chi2 DESC, term DESC) — the bounded-heap tie order.
    *
    * Scale: per-doc DISTINCT terms explode once; two map-side-combined
    * aggregates (class×term, then term); per-class doc counts are a
    * driver-bounded broadcast; the per-class cut is the bounded-heap
    * top-k aggregate (no window over the class mega-key) and the
    * detail columns rejoin via broadcast of the classes×k cut. */
  def classChi2Keywords(
      df: DataFrame, classCol: String, textCol: String, k: Int = 10): DataFrame = {
    // NULL-class rows are excluded up front: a NULL never satisfies the
    // per-class equality below, so keeping them would silently distort
    // n and every d-cell without ever producing a NULL-class row
    val in = df.filter(F.col(classCol).isNotNull)
    val docTerms = in.select(F.col(classCol).as("class"),
      F.explode(F.array_distinct(Dedup.tokens(F.col(textCol)))).as("term"))
    val a = docTerms.groupBy("class", "term").agg(F.count(F.lit(1)).as("df_class"))
    val dft = a.groupBy("term").agg(F.sum("df_class").as("df"))
    val classCounts = in.groupBy(F.col(classCol).as("class"))
      .agg(F.count(F.lit(1)).as("__nc")).collect()
      .map(r => (r.get(0), r.getLong(1)))
    require(classCounts.length >= 2,
      s"chi2 needs >= 2 classes, got ${classCounts.length}")
    val n = classCounts.map(_._2).sum
    val ncCol = classCounts.tail.foldLeft(
        F.when(F.col("class") === F.lit(classCounts.head._1), F.lit(classCounts.head._2))) {
      case (acc, (c, nc)) => acc.when(F.col("class") === F.lit(c), F.lit(nc))
    }
    def d(c: Column): Column = c.cast("double")
    val scored0 = a.join(dft, Seq("term")).withColumn("__nc", ncCol)
    val aD = d(F.col("df_class"))
    val bD = d(F.col("__nc") - F.col("df_class"))
    val cD = d(F.col("df") - F.col("df_class"))
    val dD = d(F.lit(n) - F.col("__nc") - (F.col("df") - F.col("df_class")))
    val num = d(F.lit(n)) * (aD * dD - bD * cD) * (aD * dD - bD * cD)
    val den = (aD + bD) * (cD + dD) * (aD + cD) * (bD + dD)
    val scored = scored0
      .withColumn("chi2", F.when(F.col("df") === F.lit(n), F.lit(0.0))
        .otherwise(num / den))
      .drop("__nc")
      .localCheckpoint(true)
    val top = scored.groupBy("class")
      .agg(graft.functions.top_k_agg(F.col("chi2"), F.col("term"), k).as("top"))
      .select(F.col("class"), F.posexplode(F.col("top")).as(Seq("pos", "entry")))
      .select(F.col("class"), F.col("entry.id").as("term"),
        (F.col("pos") + 1).cast("long").as("rank"))
    scored.join(F.broadcast(top), Seq("class", "term"))
      .select(F.col("class"), F.col("term"), F.col("df_class"), F.col("df"),
        F.col("chi2"), F.col("rank"))
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones with the Lucene
    * `+1`-inside-the-log idf) over whitespace tokens: the standard
    * lexical search/scoring primitive a corpus-curation pipeline uses
    * for query-driven subset selection. Defaults `k1 = 1.5`, `b = 0.75`
    * are the textbook midpoints AND exactly representable doubles, so
    * every arithmetic step replays bit-for-bit in any IEEE SQL engine.
    *
    * Per-document score = Σ over query terms of
    * `idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))` with
    * `idf = ln((N − df + 0.5)/(df + 0.5) + 1)`; the float sum folds in
    * ascending-term order (sorted collect_list + `aggregate`) so it is
    * deterministic and equals SQL's `sum(x ORDER BY term)`.
    *
    * Plan: the explode is filtered to the (tiny, literal) query term
    * set before the (doc, term) partial/final count; per-term document
    * frequencies ride the SAME global-agg scan as the corpus stats
    * (one `array_contains` count per query term — no term-partitioned
    * window, which would funnel every posting of a term into one task
    * at corpus scale, and no df join); the one-row stats broadcast
    * back; top-N lands in a TakeOrderedAndProject (bounded
    * per-partition heap, no global sort). Two keyed exchanges —
    * (doc, term) then doc — both downstream of the query-term
    * filter. */
  def bm25TopDocs(
      df: DataFrame, idCol: String, textCol: String, queryTerms: Seq[String],
      k1: Double = 1.5, b: Double = 0.75, topN: Int = 10,
      idfQuantize: Option[Double] = None): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms, "queryTerms must be distinct")
    val base = df.select(F.col(idCol).as("doc_id"), tokens(F.col(textCol)).as("toks"))
      .select(F.col("doc_id"), F.col("toks"),
        F.size(F.filter(F.col("toks"), w => F.length(w) > 0)).as("dl"))
    val dfCols = queryTerms.zipWithIndex.map { case (t, i) =>
      graft.functions.count_where(F.array_contains(F.col("toks"), t)).as(s"__df_$i")
    }
    val statsCols = Seq(F.count(F.lit(1)).as("n_docs"),
      F.sum(F.col("dl")).as("sum_dl")) ++ dfCols
    val stats = base.agg(statsCols.head, statsCols.tail: _*)
    val tf = base
      .select(F.col("doc_id"), F.col("dl"), F.explode(F.col("toks")).as("term"))
      .filter(F.col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).as("tf"))
    // per-term df from the broadcast stats row (term is one of the tiny
    // literal set, so this is a |terms|-branch CASE, not a join)
    val dfOfTerm = queryTerms.zipWithIndex.tail.foldLeft(
      F.when(F.col("term") === queryTerms.head, F.col("__df_0"))) {
        case (acc, (t, i)) => acc.when(F.col("term") === t, F.col(s"__df_$i"))
      }
    val tfD = F.col("tf").cast("double")
    val avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    // ln is the ONE step libms disagree on at the last ulp (measured:
    // JVM Math.log vs glibc differ for some arguments); every other op
    // here is IEEE-exact. idfQuantize = Some(s) floors idf at
    // granularity 1/s — floor(x*s)/s is an exactly-specified float
    // chain, so any engine reproduces the quantized idf bit-for-bit.
    // Ranking impact at s=1e9 is nil (idf perturbed by <1e-9 relative).
    val rawIdf = F.log(
      ((F.col("n_docs") - dfOfTerm).cast("double") + 0.5) /
        (dfOfTerm.cast("double") + 0.5) + 1.0)
    val idf = idfQuantize match {
      case Some(s) => F.floor(rawIdf * F.lit(s)).cast("double") / F.lit(s)
      case None    => rawIdf
    }
    val termScore = idf * (tfD * F.lit(k1 + 1.0)) /
      (tfD + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)))
    val perDoc = tf.crossJoin(F.broadcast(stats))
      .select(F.col("doc_id"), F.col("term"), termScore.as("term_score"))
      .groupBy("doc_id")
      .agg(
        F.aggregate(
          F.sort_array(F.collect_list(F.struct(F.col("term"), F.col("term_score")))),
          F.lit(0.0), (acc, x) => acc + x.getField("term_score")).as("score"),
        F.count(F.lit(1)).as("n_terms_hit"))
    perDoc.orderBy(F.col("score").desc, F.col("doc_id")).limit(topN)
      .withColumn("rank",
        F.row_number().over(Window.orderBy(F.col("score").desc, F.col("doc_id"))).cast("long"))
      .orderBy("rank")
  }

  /** Batch BM25 retrieval: top-N documents PER QUERY for a set of
    * keyword queries in one corpus pass — the retrieval counterpart of
    * [[bm25TopDocs]] (one query), for eval-set retrieval and RAG-corpus
    * audits.
    *
    * One scan computes corpus stats and per-term tfs over the combined
    * vocabulary; the (qid, term) map joins in as a broadcast; per-query
    * ranking is a window PARTITIONED BY query over only the documents
    * that hit ≥1 of its terms. Scale: the per-query sort is bounded by
    * that query's hit count, queries parallelize across partitions, and
    * document frequencies are shared across queries (computed once).
    *
    * Exactness: identical idf/term-score chain to [[bm25TopDocs]]
    * (`idfQuantize` bridges libm ln); per-doc score folds term-ordered. */
  def bm25Retrieve(
      df: DataFrame, idCol: String, textCol: String,
      queries: Seq[(String, Seq[String])],
      k1: Double = 1.5, b: Double = 0.75, topN: Int = 10,
      idfQuantize: Option[Double] = None): DataFrame = {
    require(queries.nonEmpty, "queries must be non-empty")
    queries.foreach { case (q, ts) =>
      require(ts.nonEmpty && ts.distinct == ts, s"query $q terms must be distinct, non-empty") }
    val vocab = queries.flatMap(_._2).distinct
    val base = df.select(F.col(idCol).as("doc_id"), tokens(F.col(textCol)).as("toks"))
      .select(F.col("doc_id"), F.col("toks"),
        F.size(F.filter(F.col("toks"), w => F.length(w) > 0)).as("dl"))
    val dfCols = vocab.zipWithIndex.map { case (t, i) =>
      graft.functions.count_where(F.array_contains(F.col("toks"), t)).as(s"__df_$i")
    }
    val statsCols = Seq(F.count(F.lit(1)).as("n_docs"),
      F.sum(F.col("dl")).as("sum_dl")) ++ dfCols
    val stats = base.agg(statsCols.head, statsCols.tail: _*)
    val tf = base
      .select(F.col("doc_id"), F.col("dl"), F.explode(F.col("toks")).as("term"))
      .filter(F.col("term").isin(vocab: _*))
      .groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).as("tf"))
    val dfOfTerm = vocab.zipWithIndex.tail.foldLeft(
      F.when(F.col("term") === vocab.head, F.col("__df_0"))) {
        case (acc, (t, i)) => acc.when(F.col("term") === t, F.col(s"__df_$i"))
      }
    val tfD = F.col("tf").cast("double")
    val avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    val rawIdf = F.log(
      ((F.col("n_docs") - dfOfTerm).cast("double") + 0.5) /
        (dfOfTerm.cast("double") + 0.5) + 1.0)
    val idf = idfQuantize match {
      case Some(s) => F.floor(rawIdf * F.lit(s)).cast("double") / F.lit(s)
      case None    => rawIdf
    }
    val termScore = idf * (tfD * F.lit(k1 + 1.0)) /
      (tfD + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)))
    val spark = df.sparkSession
    import spark.implicits._
    val qt = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("qid", "term")
    val perQueryDoc = tf.crossJoin(F.broadcast(stats))
      .select(F.col("doc_id"), F.col("term"), termScore.as("term_score"))
      .join(F.broadcast(qt), Seq("term"))
      .groupBy("qid", "doc_id")
      .agg(
        F.aggregate(
          F.sort_array(F.collect_list(F.struct(F.col("term"), F.col("term_score")))),
          F.lit(0.0), (acc, x) => acc + x.getField("term_score")).as("score"),
        F.count(F.lit(1)).as("n_terms_hit"))
    perQueryDoc
      .withColumn("rank", F.row_number().over(
        Window.partitionBy("qid").orderBy(F.col("score").desc, F.col("doc_id")))
        .cast("long"))
      .where(F.col("rank") <= topN)
      .orderBy("qid", "rank")
  }

  /** Zipf-law fit over the corpus vocabulary: least-squares slope /
    * intercept / r² of ln(count) against ln(rank) for the `topK` most
    * frequent terms. Natural text sits near slope ≈ −1; strong
    * deviation flags synthetic, templated, or degenerate corpora — a
    * one-row corpus-health diagnostic.
    *
    * Plan: one (term) count exchange, then TakeOrdered keeps only the
    * topK terms (bounded heap — the vocabulary never sorts globally);
    * the regression folds over the ≤ topK collected (rank, x, y) rows
    * in rank order, so every float sum is deterministic and equals
    * SQL's `sum(x ORDER BY rank)`. `lnQuantize` is the cross-libm
    * bridge ([[bm25TopDocs]]). */
  def zipfFit(df: DataFrame, textCol: String, topK: Int = 1000,
      lnQuantize: Option[Double] = None): DataFrame = {
    require(topK >= 2, "need at least two ranks to fit a line")
    def lnq(x: Column): Column = lnQuantize match {
      case Some(s) => F.floor(F.log(x) * F.lit(s)).cast("double") / F.lit(s)
      case None    => F.log(x)
    }
    val tf = df
      .select(F.explode(F.filter(tokens(F.col(textCol)), w => F.length(w) > 0)).as("term"))
      .groupBy("term").agg(F.count(F.lit(1)).as("cnt"))
      .orderBy(F.col("cnt").desc, F.col("term")).limit(topK)
    val ranked = tf
      .withColumn("rank", F.row_number()
        .over(Window.orderBy(F.col("cnt").desc, F.col("term"))).cast("long"))
      .select(F.col("rank"), lnq(F.col("rank").cast("double")).as("x"),
        lnq(F.col("cnt").cast("double")).as("y"))
    val zero = F.struct(F.lit(0.0).as("sx"), F.lit(0.0).as("sy"),
      F.lit(0.0).as("sxx"), F.lit(0.0).as("sxy"), F.lit(0.0).as("syy"))
    val sums = F.aggregate(
      F.sort_array(F.collect_list(F.struct(F.col("rank"), F.col("x"), F.col("y")))),
      zero,
      (acc, r) => F.struct(
        (acc.getField("sx") + r.getField("x")).as("sx"),
        (acc.getField("sy") + r.getField("y")).as("sy"),
        (acc.getField("sxx") + r.getField("x") * r.getField("x")).as("sxx"),
        (acc.getField("sxy") + r.getField("x") * r.getField("y")).as("sxy"),
        (acc.getField("syy") + r.getField("y") * r.getField("y")).as("syy")))
    ranked.agg(F.count(F.lit(1)).as("n_terms"), sums.as("s"))
      .select(F.col("n_terms"),
        ((F.col("n_terms").cast("double") * F.col("s.sxy") - F.col("s.sx") * F.col("s.sy")) /
          (F.col("n_terms").cast("double") * F.col("s.sxx") - F.col("s.sx") * F.col("s.sx")))
          .as("slope"),
        F.col("s.sx").as("sum_ln_rank"), F.col("s.sy").as("sum_ln_cnt"))
      .withColumn("intercept",
        (F.col("sum_ln_cnt") - F.col("slope") * F.col("sum_ln_rank")) /
          F.col("n_terms").cast("double"))
      .drop("sum_ln_rank", "sum_ln_cnt")
  }

  /** Shannon entropy (nats) of a document's unigram distribution — the
    * classic gibberish/boilerplate signal: near 0 for one repeated token,
    * ln(n_distinct) for a uniform vocabulary; low values flag keyword
    * stuffing and template text. Map-only higher-order expressions (one
    * O(distinct × tokens) pass per row, no shuffle); the per-term fold
    * runs in ascending-token order so the float sum is deterministic and
    * equals SQL's `sum(x ORDER BY t)`. `lnQuantize = Some(s)` floors each
    * ln at granularity 1/s (the [[bm25TopDocs]] cross-libm bridge); the
    * default keeps pure ln. Empty/whitespace text → 0.0. */
  def unigramEntropy(text: Column, lnQuantize: Option[Double] = None): Column = {
    val toks = F.filter(tokens(text), w => F.length(w) > 0)
    val n = F.size(toks)
    def lnq(x: Column): Column = lnQuantize match {
      case Some(s) => F.floor(F.log(x) * F.lit(s)).cast("double") / F.lit(s)
      case None    => F.log(x)
    }
    val contributions = F.transform(F.array_sort(F.array_distinct(toks)), t => {
      val p = F.size(F.filter(toks, x => x === t)).cast("double") / n.cast("double")
      p * lnq(p)
    })
    F.when(n === 0, 0.0).otherwise(
      -F.aggregate(contributions, F.lit(0.0), (acc, x) => acc + x))
  }

  /** Gopher-style document quality filter (Rae et al., arXiv:2112.11446,
    * Table A1 rule family): per document, the rule signals, the overall
    * keep verdict, and the FIRST failing rule's name — the audit trail a
    * corpus-curation run reports. Thresholds are parameters; defaults
    * follow the paper's word-count / word-length / alpha-word /
    * repetition gates. Every signal is an exact integer count or a
    * single IEEE division (word lengths derive from the repetition
    * expression's norm_chars: sum(len) = norm_chars − (n_words − 1)), so
    * signals, verdicts AND reasons are oracle-reproducible bit-for-bit.
    * One map-only pass, no shuffle: repetition signals ride the native
    * [[graft.functions.RepetitionStats]] expression and Spark's
    * subexpression elimination computes it once per row. */
  def gopherQualityFilter(
      df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8,
      maxTop2Frac: Double = 0.20, maxDup3Frac: Double = 0.20): DataFrame = {
    val toks = Dedup.tokens(F.col(textCol))
    val st = graft.functions.Repetition.repetition_stats(toks)
    val nw = F.size(toks)
    val norm = st.getField("norm_chars")
    val meanLen = F.when(nw === 0, 0.0)
      .otherwise((norm - nw + 1).cast("double") / nw.cast("double"))
    val alphaWords = F.size(F.filter(toks, w => w.rlike("[a-z]")))
    val alphaFrac = F.when(nw === 0, 0.0)
      .otherwise(alphaWords.cast("double") / nw.cast("double"))
    def frac(chars: Column): Column =
      F.when(norm === 0, 0.0).otherwise(chars.cast("double") / norm.cast("double"))
    val top2 = frac(st.getField("top2_chars"))
    val dup3 = frac(st.getField("dup3_chars"))
    val rules: Seq[(String, Column)] = Seq(
      "word_count" -> (nw >= minWords && nw <= maxWords),
      "mean_word_len" -> (meanLen >= minMeanLen && meanLen <= maxMeanLen),
      "alpha_frac" -> (alphaFrac >= minAlphaFrac),
      "top2_frac" -> (top2 <= maxTop2Frac),
      "dup3_frac" -> (dup3 <= maxDup3Frac))
    val keep = rules.map(_._2).reduce(_ && _)
    val reason = rules.foldRight(F.lit("ok"): Column) { case ((name, ok), acc) =>
      F.when(!ok, F.lit(name)).otherwise(acc)
    }
    df.select(F.col(idCol),
      nw.cast("long").as("n_words"), meanLen.as("mean_word_len"),
      alphaFrac.as("alpha_frac"), top2.as("top2_frac"), dup3.as("dup3_frac"),
      keep.as("keep"), reason.as("reason"))
  }

  /** C4-style line-level cleaning (Raffel et al., arXiv:1910.10683 §2.2
    * — the other canonical web-corpus rule family next to Gopher's
    * document-level gates): keep only lines that end in terminal
    * punctuation, have at least `minLineWords` words and mention no
    * line-banned phrase (the paper bans "javascript"); then drop
    * documents whose cleaned text has fewer than `minSentences`
    * sentences or that contain a doc-banned phrase anywhere (the paper
    * bans "lorem ipsum" and the curly brace).
    *
    * Appends `n_lines`, `n_lines_kept`, `clean_text`, `n_sentences`,
    * `c4_keep` and `c4_drop_reason` (first failing rule — the audit
    * trail). Map-only higher-order array expressions over the split
    * lines: no UDF, no shuffle, and every output is a count, an exact
    * string or a boolean, so a SQL oracle reproduces it bit-for-bit. */
  def c4Clean(df: DataFrame, textCol: String, minLineWords: Int = 3,
      minSentences: Int = 5,
      bannedDoc: Seq[String] = Seq("lorem ipsum", "{"),
      bannedLine: Seq[String] = Seq("javascript")): DataFrame = {
    require(bannedDoc.nonEmpty && bannedLine.nonEmpty,
      "pass the rule lists you want, not empty ones")
    val txt = F.coalesce(F.col(textCol), F.lit(""))
    val lines = F.split(txt, "\n")
    val keptArr = F.filter(lines, l => {
      val lineOk = F.rtrim(l).rlike("[.!?\"]$") &&
        F.size(F.split(F.trim(l), "\\s+")) >= minLineWords
      bannedLine.foldLeft(lineOk)((acc, b) => acc && !F.lower(l).contains(b))
    })
    val clean = F.array_join(keptArr, "\n")
    val nSent = F.regexp_count(clean, F.lit("[.!?]"))
    val docBan = bannedDoc.map(b => F.lower(txt).contains(b)).reduce(_ || _)
    df.withColumn("n_lines", F.size(lines).cast("long"))
      .withColumn("n_lines_kept", F.size(keptArr).cast("long"))
      .withColumn("clean_text", clean)
      .withColumn("n_sentences", nSent.cast("long"))
      .withColumn("c4_keep", !docBan && nSent >= minSentences)
      .withColumn("c4_drop_reason",
        F.when(docBan, "banned_content")
          .when(nSent < minSentences, "too_few_sentences")
          .otherwise(F.lit(null).cast("string")))
  }

  /** Character-bigram cross-entropy quality score — the CCNet-style
    * LM-filter family (Wenzek et al., arXiv:1911.00359 §4.3: score
    * documents against a language model and drop the divergent tail)
    * reduced to a deterministic, engine-reproducible core: the "model"
    * is the corpus's own character-bigram distribution.
    * `score(doc) = −(1/n) Σ log2 p(b)` over the doc's bigrams, with
    * `p(b) = corpus_count(b) / corpus_total` — gibberish, wrong-language
    * and boilerplate docs sit in the high tail. Text is normalized to
    * `[a-z ]` with everything else mapped to '#', so the model alphabet
    * is ≤ 28 chars and the count table ≤ 784 rows.
    *
    * Scale shape: pass 1 is a map-side-combined groupBy over ≤ 784 keys
    * (the shuffle carries one row per key per task); pass 2 re-scans,
    * explodes bigrams and BROADCAST-joins the KB-sized count table —
    * the per-bigram log2 sums fold in the same per-doc aggregate. No
    * window over the exploded relation: partitioning 10⁸ bigram rows by
    * ≤ 784 keys would be the textbook skew trap. */
  def charBigramCrossEntropy(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = F.regexp_replace(F.lower(F.col(textCol)), "[^a-z ]", "#")
    val bigrams = F.when(F.length(norm) < 2, F.array().cast("array<string>"))
      .otherwise(F.transform(F.sequence(F.lit(1), F.length(norm) - 1),
        i => norm.substr(i, F.lit(2))))
    val ex = df.select(F.col(idCol), F.explode(bigrams).as("bg"))
    val counts = ex.groupBy("bg").agg(F.count(F.lit(1)).as("c"))
    val total = counts.agg(F.sum("c").as("t"))
    val scored = ex
      .join(F.broadcast(counts), "bg")
      .crossJoin(F.broadcast(total))
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).cast("long").as("n_bigrams"),
        (-F.sum(F.log(2.0, F.col("c").cast("double") / F.col("t"))) /
          F.count(F.lit(1))).as("bits_per_bigram"))
    df.select(F.col(idCol)).join(scored, Seq(idCol), "left")
  }

  /** One-row corpus report card — the summary table a pretraining-data
    * run leads with: document and exact-duplicate counts, vocabulary
    * statistics ([[vocabStats]]), mean tokens per document, and the
    * dominant language with its share. Every number is an exact
    * integer count or a single IEEE division, so the whole row is
    * oracle-reproducible. Each constituent is a proper distributed
    * aggregation (hash groupBys with map-side partials) collapsing to
    * a one-row frame; the final assembly cross-joins four one-row
    * frames — all broadcast, no corpus-sized shuffle beyond the
    * constituent aggs. `n_dup_docs` counts documents belonging to an
    * exact-text group of size > 1 (md5 keys — the [[Dedup.exact]]
    * identity); ties for the top language break lexicographically. */
  def corpusReport(df: DataFrame, textCol: String, idCol: String,
      langCol: String = "lang"): DataFrame = {
    val nDocs = df.agg(F.count(F.lit(1)).as("n_docs"))
    val dups = df
      .groupBy(F.md5(F.col(textCol).cast("binary")).as("__h"))
      .agg(F.count(F.lit(1)).as("__c"))
      .filter(F.col("__c") > 1)
      .agg(F.coalesce(F.sum("__c"), F.lit(0L)).as("n_dup_docs"))
    val vocab = vocabStats(df, textCol)
    val topLang = df.groupBy(F.col(langCol).as("top_lang"))
      .agg(F.count(F.lit(1)).as("__lc"))
      .orderBy(F.col("__lc").desc, F.col("top_lang").asc)
      .limit(1)
    nDocs.crossJoin(dups).crossJoin(vocab).crossJoin(topLang)
      .select(
        F.col("n_docs"), F.col("n_dup_docs"),
        (F.col("n_dup_docs").cast("double") / F.col("n_docs").cast("double"))
          .as("dup_frac"),
        F.col("vocab_size"), F.col("total_tokens"), F.col("hapax_count"),
        F.col("hapax_frac"),
        (F.col("total_tokens").cast("double") / F.col("n_docs").cast("double"))
          .as("mean_doc_tokens"),
        F.col("top_lang"),
        (F.col("__lc").cast("double") / F.col("n_docs").cast("double"))
          .as("top_lang_frac"))
  }

  /** Within-document repeated-line trimming — the Dolma/C4 in-doc
    * cleanup that runs BEFORE corpus-level dedup: keep the FIRST
    * occurrence of each exact line, preserving order (web text repeats
    * nav bars, footers and cookie banners inside one page; corpus-level
    * [[Dedup.paragraphDedup]] masks across documents, this masks
    * within). Map-only: one `aggregate` fold appends each line the
    * accumulator hasn't seen — the lambda touches only its bound
    * arguments, so the line split evaluates once per document (a
    * filter-with-index over `array_position(lines, …)` would re-split
    * per element — the [[posShingleHashes]] CollapseProject trap);
    * comparisons stay O(lines²) per document, which is the per-row
    * cost bound (documents are KB-scale; the corpus never
    * materializes pairs). Output: `(idCol*, n_lines, n_kept, text:
    * deduped)`. Lines compare EXACTLY (no trim/case fold — compose
    * with normalization upstream if wanted); empty lines dedupe like
    * any other line. */
  def dropRepeatedLines(df: DataFrame, textCol: String, idCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = F.split(F.col(textCol), java.util.regex.Pattern.quote(sep))
    val kept = F.aggregate(lines, F.array().cast("array<string>"),
      (acc, l) => F.when(F.array_contains(acc, l), acc)
        .otherwise(F.concat(acc, F.array(l))))
    df.select(F.col(idCol),
      F.size(lines).cast("long").as("n_lines"),
      F.size(kept).cast("long").as("n_kept"),
      F.array_join(kept, sep).as("text"))
  }

  /** Corpus vocabulary statistics — the Zipf-tail numbers a pretraining
    * corpus report leads with: vocabulary size, total token count, hapax
    * legomena (terms occurring exactly once) and their fraction of the
    * vocabulary. One groupBy(term) then one global fold; all integers
    * plus a single division. */
  def vocabStats(df: DataFrame, textCol: String): DataFrame =
    df.select(F.explode(Dedup.tokens(F.col(textCol))).as("term"))
      .groupBy("term").agg(F.count(F.lit(1)).as("cnt"))
      .agg(
        F.count(F.lit(1)).as("vocab_size"),
        F.sum("cnt").as("total_tokens"),
        F.sum(F.when(F.col("cnt") === 1, 1L).otherwise(0L)).as("hapax_count"))
      .select(F.col("vocab_size"), F.col("total_tokens"), F.col("hapax_count"),
        (F.col("hapax_count").cast("double") /
          F.col("vocab_size").cast("double")).as("hapax_frac"))

  /** Word n-grams as space-joined strings — element `i` =
    * `toks[i..i+n-1]`, exactly `size − n + 1` grams (empty below `n`
    * tokens). Assembled by a zip_with chain over SLICED copies of the
    * token array: the lambdas only touch their bound arguments, so the
    * tokenizer never re-evaluates per gram (the transform-lambda
    * formulation re-tokenized once per gram after CollapseProject —
    * the 20x trap [[posShingleHashes]]' scaladoc documents, avoided
    * the same way here but kept as strings for LM counting). */
  private[pipeline] def wordGrams(toks: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val sz = F.size(toks)
    var g = toks
    for (k <- 1 until n)
      g = F.zip_with(g,
        F.slice(toks, F.lit(k + 1), F.greatest(sz - k, F.lit(0))),
        // zip_with pads the shorter side with nulls; concat propagates
        // them, so tail entries shorter than n null out and filter away
        (a, b) => F.concat(a, F.lit(" "), b))
    F.filter(g, x => x.isNotNull)
  }

  /** Stupid-backoff n-gram LM scoring (Brants et al. 2007,
    * "Large Language Models in Machine Translation" — the backoff
    * designed FOR distributed count tables: no discount mass to
    * redistribute, so each order is an independent groupBy count):
    * per-gram score
    * `S(w | ctx) = c_m(gram) / c_{m-1}(denominator-prefix)` at the
    * highest order `m <= n` with a nonzero count, damped by
    * `alpha^(n-m)`; the unigram base is add-k smoothed
    * (`alpha^(n-1) · (c_1(w) + k) / (N + kV)`), so every gram scores
    * > 0. Output matches [[ngramLmScore]]'s shape:
    * `(idCol, n_grams, cross_entropy)` in nats, `-mean ln S`.
    *
    * Scale shape: one count table per order (n groupBys over the same
    * cached token-gram scan), then 2(n−1)+1 co-partitioned left joins
    * keyed on suffix/prefix grams — every join key is a gram id
    * (8-byte xxhash64 under `hashGrams = true`), every count table
    * aggregates map-side. The cascade itself is a map-only CASE over
    * the joined counts; the per-document fold is the same
    * ascending-gram ordered sum as [[ngramLmScore]], so quantized-ln
    * scoring replays in SQL. */
  def stupidBackoffScore(train: DataFrame, score: DataFrame,
      textCol: String, idCol: String,
      n: Int = 3, alpha: Double = 0.4, addK: Double = 0.5,
      lnQuantize: Option[Double] = None,
      hashGrams: Boolean = false): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(addK > 0, s"addK must be > 0, got $addK")
    def toksOf(c: Column) = F.filter(tokens(c), w => F.length(w) > 0)
    def lnq(x: Column): Column = lnQuantize match {
      case Some(s) => F.floor(F.log(x) * F.lit(s)).cast("double") / F.lit(s)
      case None    => F.log(x)
    }
    def gid(g: Column): Column = if (hashGrams) F.xxhash64(g) else g
    // one count table per order — n passes over `train` (persist the
    // input upstream to amortize them at corpus scale; the tables
    // themselves are aggregated map-side and shuffle only counts)
    val counts: Map[Int, DataFrame] = (1 to n).map { m =>
      m -> train
        .select(F.explode(wordGrams(toksOf(F.col(textCol)), m)).as("__g"))
        .groupBy(gid(F.col("__g")).as(s"__k$m"))
        .agg(F.count(F.lit(1)).as(s"__c$m"))
    }.toMap
    locally {
      val uniTotals = counts(1)
        .agg(F.sum(s"__c1").as("n"), F.count(F.lit(1)).as("v"))
        .collect()(0)
      val (bigN, vocab) =
        if (uniTotals.isNullAt(0)) (0L, 0L)
        else (uniTotals.getLong(0), uniTotals.getLong(1))
      val scoreGrams = score
        .select(F.col(idCol).as("__id"),
          F.explode(wordGrams(toksOf(F.col(textCol)), n)).as("__g"))
      // suffix of length m and its length-(m-1) denominator prefix;
      // tokens contain no whitespace, so substring_index is exact
      def suffix(m: Int): Column = F.substring_index(F.col("__g"), " ", -m)
      def denomPrefix(m: Int): Column =
        F.substring_index(suffix(m), " ", m - 1)
      var joined = scoreGrams
      for (m <- n to 2 by -1) {
        joined = joined
          .join(counts(m).withColumnRenamed(s"__c$m", s"__num$m"),
            gid(suffix(m)) === F.col(s"__k$m"), "left")
          .drop(s"__k$m")
          .join(counts(m - 1)
              .select(F.col(s"__k${m - 1}").as(s"__dk$m"),
                F.col(s"__c${m - 1}").as(s"__den$m")),
            gid(denomPrefix(m)) === F.col(s"__dk$m"), "left")
          .drop(s"__dk$m")
      }
      joined = joined
        .join(counts(1).withColumnRenamed("__c1", "__uni"),
          gid(suffix(1)) === F.col("__k1"), "left")
        .drop("__k1")
      // highest-order hit wins; alpha damping compounds per backoff
      // vocab floored at 1 so an empty train corpus still yields a
      // finite base (alpha^(n-1) per gram) instead of a 0 denominator
      val base = F.lit(math.pow(alpha, (n - 1).toDouble)) *
        (F.coalesce(F.col("__uni"), F.lit(0L)).cast("double") + F.lit(addK)) /
        F.lit(bigN.toDouble + addK * math.max(vocab, 1L).toDouble)
      val prob = (n to 2 by -1).foldRight(base) { (m, lower) =>
        F.when(F.col(s"__num$m").isNotNull,
          F.lit(math.pow(alpha, (n - m).toDouble)) *
            F.col(s"__num$m").cast("double") / F.col(s"__den$m").cast("double"))
          .otherwise(lower)
      }
      val perDoc = joined
        .select(F.col("__id"),
          F.struct(gid(F.col("__g")).as("g"), lnq(prob).as("p")).as("__gp"))
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list(F.col("__gp"))).as("__ps"))
        .select(F.col("__id"),
          F.size(F.col("__ps")).cast("long").as("n_grams"),
          (-F.aggregate(F.col("__ps"), F.lit(0.0),
            (acc, x) => acc + x.getField("p")) /
            F.size(F.col("__ps")).cast("double")).as("cross_entropy"))
      score.select(F.col(idCol))
        .join(perDoc, F.col(idCol) === F.col("__id"), "left")
        .select(F.col(idCol),
          F.coalesce(F.col("n_grams"), F.lit(0L)).as("n_grams"),
          F.coalesce(F.col("cross_entropy"), F.lit(0.0)).as("cross_entropy"))
    }
  }
  /** N-gram language-model scoring — the CCNet/Wenzek et al.
    * (arXiv:1911.00359) perplexity-filter shape: fit an add-k-smoothed
    * word n-gram LM on `train` (the trusted corpus) and score every
    * `score` document with its per-gram cross-entropy in nats,
    * `ce = −(1/G) Σ ln P(w_n | ctx)` with
    * `P = (c(gram) + k) / (c(ctx) + k·V)`, `c(ctx) = Σ_w c(ctx, w)`
    * and `V` = train vocabulary size. High ce = far from the trusted
    * corpus — the screening signal CCNet thresholds on (for the
    * production-grade backoff variant see [[stupidBackoffScore]]).
    * Output: `(idCol, n_grams, cross_entropy)`; docs below `n` tokens
    * score `(0, 0.0)`; a fully-unseen context scores exactly `ln V`
    * per gram (`k/(k·V) = 1/V`, k-independent).
    *
    * Scale shape: gram and context counts are groupBy aggregations
    * with map-side partials (context counts fold from the ALREADY
    * AGGREGATED gram counts — one extra tiny exchange, never a second
    * corpus pass); scoring joins co-partition on the gram/context
    * keys; the per-document fold sorts each doc's (gram, lnP) pairs
    * and sums in gram order, so the float sum is deterministic and
    * equals SQL's `sum(x ORDER BY g)` (the [[unigramEntropy]]
    * bridge). `V` is one count() on the driver — a training-time
    * scalar. `hashGrams = true` swaps 8-byte xxhash64 gram ids for
    * the gram STRINGS in every exchange and join — the 100 TB path
    * (collisions merge counts; at 64 bits the expected effect on a
    * trillion-gram table is nil); `lnQuantize` floors each ln at
    * 1/s for cross-libm oracle replay. */
  def ngramLmScore(train: DataFrame, score: DataFrame,
      textCol: String, idCol: String,
      n: Int = 3, addK: Double = 0.5, lnQuantize: Option[Double] = None,
      hashGrams: Boolean = false): DataFrame = {
    require(n >= 2, s"n must be >= 2 (unigram LM has no context), got $n")
    require(addK > 0, s"addK must be > 0, got $addK")
    def toks(c: Column) = F.filter(tokens(c), w => F.length(w) > 0)
    def lnq(x: Column): Column = lnQuantize match {
      case Some(s) => F.floor(F.log(x) * F.lit(s)).cast("double") / F.lit(s)
      case None    => F.log(x)
    }
    def gid(g: Column): Column = if (hashGrams) F.xxhash64(g) else g
    val trainGrams = train
      .select(F.explode(wordGrams(toks(F.col(textCol)), n)).as("__g"))
      .select(gid(F.col("__g")).as("__gid"),
        gid(F.substring_index(F.col("__g"), " ", n - 1)).as("__cid"))
    val gramCounts = trainGrams.groupBy("__gid")
      .agg(F.first("__cid").as("__cid"), F.count(F.lit(1)).as("__cg"))
    val ctxCounts = gramCounts.groupBy("__cid").agg(F.sum("__cg").as("__cc"))
    val vocab = train
      .select(F.explode(toks(F.col(textCol))).as("__t"))
      .distinct().count()
    val scoreGrams = score
      .select(F.col(idCol).as("__id"),
        F.explode(wordGrams(toks(F.col(textCol)), n)).as("__g"))
      .select(F.col("__id"), gid(F.col("__g")).as("__sgid"),
        gid(F.substring_index(F.col("__g"), " ", n - 1)).as("__scid"))
    val lnp = lnq(
      (F.coalesce(F.col("__cg"), F.lit(0L)).cast("double") + F.lit(addK)) /
        (F.coalesce(F.col("__cc"), F.lit(0L)).cast("double") +
          F.lit(addK) * F.lit(vocab.toDouble)))
    val perDoc = scoreGrams
      .join(gramCounts.select(F.col("__gid"), F.col("__cg")),
        F.col("__sgid") === F.col("__gid"), "left")
      .join(ctxCounts, F.col("__scid") === F.col("__cid"), "left")
      .select(F.col("__id"), F.struct(F.col("__sgid").as("g"), lnp.as("p")).as("__gp"))
      .groupBy("__id")
      .agg(F.sort_array(F.collect_list(F.col("__gp"))).as("__ps"))
      .select(F.col("__id"),
        F.size(F.col("__ps")).cast("long").as("n_grams"),
        (-F.aggregate(F.col("__ps"), F.lit(0.0),
          (acc, x) => acc + x.getField("p")) /
          F.size(F.col("__ps")).cast("double")).as("cross_entropy"))
    score.select(F.col(idCol))
      .join(perDoc, F.col(idCol) === F.col("__id"), "left")
      .select(F.col(idCol),
        F.coalesce(F.col("n_grams"), F.lit(0L)).as("n_grams"),
        F.coalesce(F.col("cross_entropy"), F.lit(0.0)).as("cross_entropy"))
  }

  /** Corpus-wide adjacent character-pair counts WITHIN tokens — the
    * inner loop of BPE vocabulary training (Sennrich et al., ACL 2016:
    * each merge round picks the most frequent adjacent symbol pair;
    * round 0 over characters is exactly this table). Counting every
    * token OCCURRENCE is the paper's word-frequency weighting. Output:
    * the `topK` pairs as `(pair, cnt)`, ties (cnt DESC, pair).
    *
    * Scale: pair extraction is array-local (one `substr` per position,
    * no per-gram re-tokenization), the count is ONE map-side-combined
    * groupBy whose key universe is ~|alphabet|² — tiny — and the top-k
    * is TakeOrderedAndProject, never a global sort. Character
    * semantics (not bytes), so multibyte scripts count correctly. */
  def bpePairCounts(df: DataFrame, textCol: String, topK: Int = 50): DataFrame = {
    val tok = F.explode(F.filter(tokens(F.col(textCol)), w => F.length(w) > 0))
    val pairs = F.when(F.length(F.col("__tok")) >= 2,
        F.transform(F.sequence(F.lit(1), F.length(F.col("__tok")) - 1),
          i => F.col("__tok").substr(i, F.lit(2))))
      .otherwise(F.array())
    df.select(tok.as("__tok"))
      .select(F.explode(pairs).as("pair"))
      .groupBy("pair").agg(F.count(F.lit(1)).as("cnt"))
      .orderBy(F.col("cnt").desc, F.col("pair"))
      .limit(topK)
  }
}
