package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.LongType

import graft.core.Checkpoint

/** Dataset-level integrity audits for training-data pipelines: referential
  * integrity across fact/dimension tables, k-anonymity of quasi-identifier
  * combinations, schema drift between two snapshots of a table, and a
  * Benford first-digit conformance screen for numeric columns.
  *
  * These extend the reference's constraint/validator surface
  * (/root/reference/python/whylogs/core/constraints/factories/) from
  * single-column predicates to whole-dataset relational invariants — the
  * checks a 100 TB ingest actually needs before training.
  *
  * Exactness: every emitted value is an integer count, a literal, or a
  * single IEEE divide of two integers, so DuckDB oracles hash-match.
  *
  * Scale notes per operator are on the methods; the common theme is that
  * nothing here ever shuffles a payload column — audits reduce to key/flag
  * aggregations pushed map-side before any exchange.
  */
object DataAudit {

  /** One foreign-key relation to audit: `child.fk` must reference
    * `parent.pk`. `broadcastParent` declares the parent's distinct key set
    * small enough to broadcast (dimension tables); big-big relations leave
    * it false and get a shuffle join on the key.
    */
  final case class FkRelation(
      name: String,
      child: DataFrame, fk: String,
      parent: DataFrame, pk: String,
      broadcastParent: Boolean = false)

  /** Referential-integrity audit: one row per relation with child row
    * count, null-FK count, distinct FK count, and orphan (dangling FK)
    * row/key counts.
    *
    * Scale: the child side reduces to (fk, count) BEFORE the join — the
    * orphan join's left side carries one row per DISTINCT key, not per
    * child row, so a 100 TB fact table enters the join as its key
    * cardinality. Dimension parents broadcast their distinct-key set;
    * big-big relations shuffle on the key with AQE free to pick the
    * strategy. No payload column ever crosses an exchange.
    */
  def referentialIntegrity(relations: Seq[FkRelation]): DataFrame = {
    require(relations.nonEmpty, "at least one relation")
    relations.map { r =>
      val fk = F.col(r.fk)
      val base = r.child.select(fk.as("__fk"))
      val stats = base.agg(
        F.count(F.lit(1)).as("child_rows"),
        F.count(F.col("__fk")).as("nonnull_fk"),
        F.count_distinct(F.col("__fk")).as("distinct_fk"))
      // one row per distinct child key with its multiplicity: the join
      // input is bounded by key cardinality, not child row count
      val childKeys = base.where(F.col("__fk").isNotNull)
        .groupBy("__fk").agg(F.count(F.lit(1)).as("__mult"))
      val parentKeys0 = r.parent.select(F.col(r.pk).as("__pk")).distinct()
      val parentKeys = if (r.broadcastParent) F.broadcast(parentKeys0) else parentKeys0
      val orphans = childKeys
        .join(parentKeys, F.col("__fk") === F.col("__pk"), "left_anti")
        .agg(F.coalesce(F.sum("__mult"), F.lit(0L)).as("orphan_rows"),
          F.count(F.lit(1)).as("orphan_keys"))
      stats.crossJoin(orphans).select(
        F.lit(r.name).as("relation"),
        F.col("child_rows"),
        (F.col("child_rows") - F.col("nonnull_fk")).as("null_fk"),
        F.col("distinct_fk"),
        F.col("orphan_rows"), F.col("orphan_keys"))
    }.reduce(_.unionByName(_))
  }

  /** k-anonymity audit over a quasi-identifier column set: for each
    * requested k, how many rows sit in an equivalence class smaller than
    * k and how many classes are that small; plus the dataset's achieved
    * anonymity (its smallest class).
    *
    * Output: one row per k — (k, n_rows, n_groups, min_group_size,
    * groups_below_k, rows_below_k, frac_rows_below_k).
    *
    * Scale: one shuffle on the QI tuple producing (class, size), then a
    * per-k reduction over class sizes — the second stage's input is the
    * number of distinct QI classes, which is what the audit is about, so
    * it never exceeds the first stage's output. Map-side partial
    * aggregation applies to both stages.
    */
  def kAnonymity(df: DataFrame, qi: Seq[String], ks: Seq[Int]): DataFrame = {
    require(qi.nonEmpty && ks.nonEmpty, "need quasi-identifiers and ks")
    val sizes = df.groupBy(qi.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__sz"))
      .select("__sz")
    val perK = ks.sorted.map { k =>
      sizes.agg(
        F.lit(k).as("k"),
        F.sum("__sz").cast(LongType).as("n_rows"),
        F.count(F.lit(1)).as("n_groups"),
        F.min("__sz").as("min_group_size"),
        F.sum(F.when(F.col("__sz") < k, 1L).otherwise(0L)).as("groups_below_k"),
        F.sum(F.when(F.col("__sz") < k, F.col("__sz")).otherwise(0L)).as("rows_below_k"))
    }.reduce(_.unionByName(_))
    perK.withColumn("frac_rows_below_k",
      F.col("rows_below_k").cast("double") / F.col("n_rows").cast("double"))
  }

  /** Schema-drift report between two snapshots of a table: per column
    * (union of both schemas) the declared Spark type on each side, a
    * changed/added/removed status, and null counts/rates.
    *
    * Scale: each side is ONE wide aggregation pass (count + per-column
    * null counts) — no shuffle beyond the single-row agg exchange; types
    * come from the schema, not the data.
    */
  def schemaDrift(a: DataFrame, b: DataFrame): DataFrame = {
    val spark = a.sparkSession
    def nullCounts(df: DataFrame): (Map[String, String], DataFrame) = {
      val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
      val aggs = F.count(F.lit(1)).as("__n") +:
        df.schema.fieldNames.map(c =>
          F.sum(F.when(F.col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"))
      (types, df.agg(aggs.head, aggs.tail: _*))
    }
    val (typesA, aggA) = nullCounts(a)
    val (typesB, aggB) = nullCounts(b)
    val rowA = aggA.collect().head
    val rowB = aggB.collect().head
    val nA = rowA.getAs[Long]("__n")
    val nB = rowB.getAs[Long]("__n")
    val cols = (a.schema.fieldNames ++ b.schema.fieldNames).distinct.sorted.toSeq
    import spark.implicits._
    cols.map { c =>
      val tA = typesA.get(c)
      val tB = typesB.get(c)
      val status = (tA, tB) match {
        case (Some(x), Some(y)) if x == y => "unchanged"
        case (Some(_), Some(_)) => "type_changed"
        case (Some(_), None) => "removed"
        case (None, Some(_)) => "added"
        case (None, None) => "impossible"
      }
      val nullA = tA.map(_ => rowA.getAs[Long](s"__null_$c"))
      val nullB = tB.map(_ => rowB.getAs[Long](s"__null_$c"))
      (c, tA.getOrElse(""), tB.getOrElse(""), status,
        nullA.getOrElse(0L), nA, nullB.getOrElse(0L), nB)
    }.toDF("col_name", "type_a", "type_b", "status",
      "null_a", "n_a", "null_b", "n_b")
      .withColumn("null_rate_a", F.col("null_a").cast("double") / F.col("n_a").cast("double"))
      .withColumn("null_rate_b", F.col("null_b").cast("double") / F.col("n_b").cast("double"))
  }

  /** Streaming referential-integrity monitor: orphan-FK rows per event
    * time window, from a stream-static left-anti join against the
    * parent's (broadcast) distinct key set. Works on a streaming
    * DataFrame; run with complete-mode output (one aggregation).
    *
    * Scale: the anti-join is stateless per micro-batch (static side
    * broadcast once); only the windowed count keeps state, bounded by
    * the number of open windows.
    */
  def streamingOrphanCounts(stream: DataFrame, fk: String, tsCol: String,
      window: String, parent: DataFrame, pk: String): DataFrame = {
    val parentKeys = F.broadcast(
      parent.where(F.col(pk).isNotNull).select(F.col(pk).as("__pk")).distinct())
    stream.where(F.col(fk).isNotNull)
      .join(parentKeys, F.col(fk) === F.col("__pk"), "left_anti")
      .groupBy(F.window(F.col(tsCol), window))
      .agg(F.count(F.lit(1)).as("orphan_rows"))
  }

  /** log10(1 + 1/d) for d = 1..9, rounded to 6 decimals — literal
    * constants shared verbatim with the SQL oracle. */
  val benfordP: Seq[Double] =
    Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)

  /** Benford first-significant-digit conformance for a positive numeric
    * column with up to two decimal places (prices, amounts): per digit
    * 1..9 the observed count, observed proportion (one divide), the
    * Benford expectation (literal), and their difference (exact IEEE
    * subtract of two reproducible doubles).
    *
    * The first digit is taken from the integer cents rendering
    * (round(v*100) → decimal string → first char), which both engines
    * evaluate identically — no float log10 in the extraction path.
    *
    * Scale: a 9-bucket groupBy with map-side combine; one scan, one
    * 9-row exchange.
    */
  def benfordDigits(df: DataFrame, col: String): DataFrame = {
    val cents = F.round(F.col(col) * 100).cast(LongType)
    val digit = F.substring(cents.cast("string"), 1, 1).cast(LongType)
    val counts = df.where(F.col(col).isNotNull && F.col(col) > 0)
      .select(digit.as("digit"))
      .groupBy("digit").agg(F.count(F.lit(1)).as("n"))
    val total = counts.agg(F.sum("n").as("__total"))
    val expected = df.sparkSession.createDataFrame(
      benfordP.zipWithIndex.map { case (p, i) => (i + 1L, p) })
      .toDF("digit", "benford_p")
    counts.crossJoin(F.broadcast(total))
      .join(F.broadcast(expected), Seq("digit"), "right")
      .select(F.col("digit"),
        F.coalesce(F.col("n"), F.lit(0L)).as("n"),
        (F.coalesce(F.col("n"), F.lit(0L)).cast("double") /
          F.col("__total").cast("double")).as("obs_p"),
        F.col("benford_p"))
      .withColumn("excess", F.col("obs_p") - F.col("benford_p"))
  }

  /** Join-cardinality preflight — the [[keySkewReport]] companion:
    * computes EXACTLY how many rows `left ⋈ right` on `key` would
    * produce WITHOUT running the join, from the per-key count tables:
    * `|A ⋈ B| = Σ_k cntA(k)·cntB(k)`. One summary row:
    * `(out_rows, left_rows, right_rows, matched_keys, max_key_product,
    * max_key)` — `max_key_product` is the single worst key's
    * contribution, i.e. the largest task a skew-unaware shuffle join
    * would build. Run this BEFORE a 100 TB join: an unexpected
    * many-to-many key turns a join linear in its inputs into one
    * quadratic in the hot key's multiplicity, and this audit prices
    * that at the cost of two count aggregations.
    *
    * Scale: one map-side-combined groupBy per side, an inner join on
    * DISTINCT keys (each side enters at key cardinality, not row
    * count), and a 1-row aggregate. All values exact BIGINTs; max_key
    * ties break to the largest key string. */
  def joinCardinality(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String): DataFrame = {
    val la = left.groupBy(F.col(leftKey).cast("string").as("__k"))
      .agg(F.count(F.lit(1)).as("__ca"))
    val rb = right.groupBy(F.col(rightKey).cast("string").as("__k"))
      .agg(F.count(F.lit(1)).as("__cb"))
    val joined = la.join(rb, Seq("__k"))
      .select(F.col("__k"), (F.col("__ca") * F.col("__cb")).as("__p"))
    val lTot = left.agg(F.count(F.lit(1)).as("left_rows"))
    val rTot = right.agg(F.count(F.lit(1)).as("right_rows"))
    joined.agg(
        F.sum("__p").as("out_rows"),
        F.count(F.lit(1)).as("matched_keys"),
        F.max(F.struct(F.col("__p").as("p"), F.col("__k").as("k"))).as("__m"))
      .crossJoin(F.broadcast(lTot)).crossJoin(F.broadcast(rTot))
      .select(
        F.coalesce(F.col("out_rows"), F.lit(0L)).as("out_rows"),
        F.col("left_rows"), F.col("right_rows"), F.col("matched_keys"),
        F.col("__m.p").as("max_key_product"), F.col("__m.k").as("max_key"))
  }

  /** l-diversity audit (Machanavajjhala et al., ICDE 2006), the
    * companion of [[kAnonymity]]: a quasi-identifier group is l-diverse
    * when it contains ≥ l distinct SENSITIVE values — k-anonymity alone
    * leaks the sensitive attribute when a whole group shares one value.
    * Output: the histogram `(l, n_groups, n_rows)` ordered by l; the
    * smallest l row is the finding.
    *
    * Scale: one groupBy(qi) with an exact distinct count (partial
    * aggregation handles hot groups), then a histogram rollup over the
    * bounded l domain. Counts exact BIGINTs. */
  def lDiversity(df: DataFrame, qi: Seq[String], sensitive: String): DataFrame = {
    require(qi.nonEmpty, "need at least one quasi-identifier column")
    val groups = df.groupBy(qi.map(F.col): _*)
      .agg(F.countDistinct(F.col(sensitive)).as("l"),
        F.count(F.lit(1)).as("__rows"))
    groups.groupBy("l")
      .agg(F.count(F.lit(1)).as("n_groups"), F.sum("__rows").as("n_rows"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) — the
    * third privacy tier ([[kAnonymity]] bounds group size,
    * [[lDiversity]] bounds value variety; this bounds DISTRIBUTION
    * leakage): per quasi-identifier group, the total variation
    * distance between the group's sensitive-value distribution and the
    * global one — a group can be large and diverse yet still leak by
    * skew (90% one diagnosis where the population has 10%).
    *
    * Exactness: with integer counts, `TVD_g = ½ Σ_v |c_gv/n_g − C_v/N|`
    * has the exact integer numerator
    * `Σ_{v∈g} |c_gv·N − C_v·n_g| + n_g·(N − Σ_{v∈g} C_v)` (the second
    * term is the mass of sensitive values ABSENT from the group) over
    * denominator `2·n_g·N` — BIGINTs throughout (ANSI-loud past 2⁶³;
    * c·N ≤ N² holds to ~3e9 rows), ONE IEEE divide per group. NULL
    * sensitive values drop; NULL quasi-identifiers form a group (they
    * are a real equivalence class to an attacker).
    *
    * Scale shape: ONE `groupBy(qi, sensitive)` exchange bounded by
    * groups × values, marginals off the CHECKPOINTED joint, a
    * broadcast 1-row total. */
  def tCloseness(df: DataFrame, qi: Seq[String], sensitive: String): DataFrame = {
    require(qi.nonEmpty, "need at least one quasi-identifier column")
    val joint = df.filter(F.col(sensitive).isNotNull)
      .groupBy((qi :+ sensitive).map(F.col): _*)
      .agg(F.count(F.lit(1)).as("__c"))
      .localCheckpoint(false)
    val cv = joint.groupBy(sensitive).agg(F.sum("__c").as("__cv"))
    // NULL quasi-identifiers form a group (a real equivalence class to
    // an attacker), so the marginal join must be NULL-SAFE: a plain
    // equi-join would silently drop every NULL-QI group from the
    // report. The sensitive join stays plain (NULLs filtered above).
    val ng = joint.groupBy(qi.map(F.col): _*).agg(F.sum("__c").as("__ng"))
      .select(qi.map(c => F.col(c).as(s"__ngk_$c")) :+ F.col("__ng"): _*)
    val ngCond = qi.map(c => F.col(c) <=> F.col(s"__ngk_$c")).reduce(_ && _)
    val tot = joint.agg(F.sum("__c").as("__N"))
    joint.join(cv, Seq(sensitive)).join(ng, ngCond)
      .drop(qi.map(c => s"__ngk_$c"): _*)
      .crossJoin(F.broadcast(tot))
      .groupBy(qi.map(F.col): _*)
      .agg(
        F.max("__ng").as("n_rows"),
        F.max("__N").as("__n"),
        F.sum(F.abs(F.col("__c") * F.col("__N") - F.col("__cv") * F.col("__ng")))
          .as("__s1"),
        F.sum("__cv").as("__cov"))
      .select(qi.map(F.col) ++ Seq(
        F.col("n_rows"),
        (F.col("__s1") + F.col("n_rows") * (F.col("__n") - F.col("__cov")))
          .as("tvd_num"),
        ((F.col("__s1") + F.col("n_rows") * (F.col("__n") - F.col("__cov")))
          .cast("double") /
          (F.lit(2L) * F.col("n_rows") * F.col("__n")).cast("double")).as("tvd")): _*)
  }

  /** Key-concentration report — the inequality readout behind the
    * skew preflight ([[keySkewReport]] lists the heavy keys; this
    * summarizes the WHOLE distribution in three standard indices):
    * Gini coefficient, Herfindahl–Hirschman index, and Shannon entropy
    * of the per-key row counts. One row: `(n_keys, n_rows, top_share,
    * hhi, gini, entropy_q, entropy_nats)`.
    *
    * Exactness: counts are BIGINTs; `HHI = Σc² / N²` is one divide of
    * exact integers; the Gini uses the closed form over the SORTED
    * counts `G = (2·Σᵢ i·cᵢ − (n+1)·N) / (n·N)` with the rank sum
    * computed from the BOUNDED (count value, frequency) table —
    * ties of a count value v with frequency f and `nb` smaller keys
    * contribute `v·(f·nb + f(f+1)/2)` — so no global sort of keys ever
    * happens and every term is exact integer arithmetic (ANSI-loud);
    * entropy is the [[theilsU]] quantized-log sum. NULL keys count as
    * a key (they are a real group).
    *
    * Scale shape: one map-side-combined `groupBy(key)`, then a
    * SECOND collapse to the bounded distinct-count-value table (two
    * keys with the same row count merge), a window over THAT bounded
    * table, and one final aggregate. */
  def keyConcentration(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(F.col(keyCol)).agg(F.count(F.lit(1)).as("__c"))
    val hist = counts.groupBy("__c").agg(F.count(F.lit(1)).as("__f"))
      .localCheckpoint(false)
    val w = org.apache.spark.sql.expressions.Window.orderBy("__c")
    val tot = hist.agg(F.sum(F.col("__f")).as("__nk"),
      F.sum(F.col("__c") * F.col("__f")).as("__n"))
    hist
      .withColumn("__nb",
        F.coalesce(F.sum("__f").over(w) - F.col("__f"), F.lit(0L)))
      .crossJoin(F.broadcast(tot))
      .agg(
        F.max("__nk").as("n_keys"),
        F.max("__n").as("n_rows"),
        F.max("__c").as("__top"),
        F.sum(F.col("__c") * F.col("__c") * F.col("__f")).as("__s2"),
        F.sum(F.expr(
          "__c * (__f * __nb + (__f * (__f + 1)) div 2)")).as("__s1"),
        F.sum(F.col("__c") * F.col("__f") *
          F.floor(F.lit(1000000.0) *
            F.log(F.col("__n").cast("double") / F.col("__c").cast("double")))
            .cast("long")).as("entropy_q"))
      .select(F.col("n_keys"), F.col("n_rows"),
        (F.col("__top").cast("double") / F.col("n_rows").cast("double"))
          .as("top_share"),
        (F.col("__s2").cast("double") /
          (F.col("n_rows") * F.col("n_rows")).cast("double")).as("hhi"),
        ((F.lit(2L) * F.col("__s1") -
          (F.col("n_keys") + 1L) * F.col("n_rows")).cast("double") /
          (F.col("n_keys") * F.col("n_rows")).cast("double")).as("gini"),
        F.col("entropy_q"),
        ((F.col("entropy_q").cast("double") / F.lit(1000000.0)) /
          F.col("n_rows").cast("double")).as("entropy_nats"))
  }

  /** Key-skew preflight for a planned join/aggregation key: the top-k
    * heaviest keys with their row share and cumulative share, each row
    * also carrying the global row/key totals — the report you read
    * BEFORE shuffling 100 TB on `keyCol` to decide whether salting or
    * AQE skew handling is needed (one key holding 30% of the rows
    * serializes 30% of the shuffle into one task).
    *
    * Output: `(key, cnt, share, cum_share, n_rows, n_keys)`, ordered
    * by (cnt DESC, key) — counts exact integers, shares single IEEE
    * divides of exact integers, cum_share a divide of an integer
    * prefix sum over k bounded rows.
    *
    * Scale: one map-side-combined groupBy(key) — a mega-hot key
    * collapses to one row per partition before the exchange — then
    * TakeOrderedAndProject for the top-k (never a global sort of the
    * key table) and a broadcast of the 1-row totals. The only window
    * runs over the k collected rows. NULL keys count as a key (they
    * hash to one partition too — the classic silent skew). */
  /** Exact Pearson correlation matrix over INTEGER-VALUED feature
    * expressions — the feature-redundancy audit before training
    * (drop-one-of-each-correlated-pair is the standard cut). All
    * sufficient statistics (`n, Sx, Sxx, Sxy` per pair) accumulate as
    * BIGINTs in ONE map-side-combined aggregate pass — exact under any
    * partitioning — and each correlation is one fixed IEEE tree
    * `(n·Sxy − Sx·Sy) / (sqrt(n·Sxx − Sx²) · sqrt(n·Syy − Sy²))`, so
    * the matrix replays in SQL bit-for-bit (the float-accumulated
    * `corr()` aggregate in either engine is fold-order-dependent; this
    * is not). Rows with a NULL in ANY feature are dropped
    * (complete-case, as [[Ols.fit2]]). A zero-variance feature fails
    * loudly (require) rather than emitting silent NaN — IEEE double
    * division does NOT trip ANSI mode.
    *
    * Integer range: `n·Sxx < 2⁶³` — exact up to ~2e18/max(x²) rows.
    * Output: one row per unordered pair `(f1, f2, n, corr)` with
    * f1 < f2, ordered. Scale: one exchange of k + k(k+1)/2 longs. */
  def featureCorrelations(df: DataFrame,
      features: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(features.size >= 2, "need at least two features")
    val spark = df.sparkSession
    import spark.implicits._
    val named = features.map { case (n, c) => n -> c.cast("long") }
    val complete = df.filter(named.map(_._2.isNotNull).reduce(_ && _))
    val pairs = for {
      i <- named.indices; j <- i until named.size
    } yield (i, j)
    val aggs =
      Seq(F.count(F.lit(1)).as("__n")) ++
        named.zipWithIndex.map { case ((_, c), i) => F.sum(c).as(s"__s$i") } ++
        pairs.map { case (i, j) =>
          F.sum(named(i)._2 * named(j)._2).as(s"__p${i}_$j") }
    val row = complete.agg(aggs.head, aggs.tail: _*).head
    val n = row.getLong(0)
    require(n > 0, "no complete-case rows")
    val s = named.indices.map(i => row.getLong(1 + i))
    val pIdx = pairs.zipWithIndex.toMap
    def sp(i: Int, j: Int): Long = row.getLong(1 + named.size + pIdx((i, j)))
    // multiplyExact/subtractExact, NOT plain Long math: past the
    // documented n·Sxx < 2⁶³ range plain arithmetic wraps SILENTLY and
    // emits a wrong correlation with no error — the exactness contract
    // must fail loudly, like the ANSI BIGINTs on the distributed side
    def cross(a: Long, b: Long, c: Long, d: Long): Long =
      Math.subtractExact(Math.multiplyExact(a, b), Math.multiplyExact(c, d))
    val out = for {
      i <- named.indices; j <- (i + 1) until named.size
    } yield {
      val num = cross(n, sp(i, j), s(i), s(j)).toDouble
      val di = math.sqrt(cross(n, sp(i, i), s(i), s(i)).toDouble)
      val dj = math.sqrt(cross(n, sp(j, j), s(j), s(j)).toDouble)
      require(di != 0.0 && dj != 0.0,
        s"zero-variance feature in pair (${named(i)._1}, ${named(j)._1})")
      // canonical pair order: correlation is symmetric, names sort
      val (a, b) = if (named(i)._1 <= named(j)._1) (named(i)._1, named(j)._1)
        else (named(j)._1, named(i)._1)
      (a, b, n, num / (di * dj))
    }
    out.toDF("f1", "f2", "n", "corr").orderBy("f1", "f2")
  }

  /** EXACT Spearman rank correlation — the monotone-association audit
    * Pearson ([[featureCorrelations]]) misses on nonlinear features,
    * exact where float rank-correlation is not: midranks over the
    * complete-case pair sample are kept as INTEGERS by doubling
    * (`2·midrank = 2·n_below + n_value + 1` — ties included), centered
    * by the integer `n+1` (doubled midranks sum to exactly `n(n+1)`),
    * and the three sufficient statistics `Σdₐd_b, Σdₐ², Σd_b²` are
    * ANSI BIGINTs — fold-order-free under any partitioning; the
    * doubling cancels in the final ratio. `rho = s_ab /
    * (√s_aa · √s_bb)`, one fixed IEEE tree; NULL when a side is
    * constant (zero rank variance).
    *
    * Integer range: `Σd² ≤ n³ < 2⁶³` — exact (and LOUD past it, ANSI)
    * up to ~2M complete-case rows; beyond, rank on a subsample per the
    * [[graft.analysis.TreeSplit]] recipe.
    *
    * Scale shape: ONE melted scan + ONE range exchange build both rank
    * tables ([[ExactQuantiles.percentRanksMulti]] — never an
    * unpartitioned window), the tables (distinct values, not rows)
    * join back by value, and one map-side-combined aggregate emits the
    * three sums. The result reads the pair and rank checkpoints, so they
    * stay pinned for the session. */
  def spearmanCorr(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.select(F.col(aCol).cast("double").as("__a"),
        F.col(bCol).cast("double").as("__b"))
      .filter(F.col("__a").isNotNull && !F.isnan(F.col("__a")) &&
        F.col("__b").isNotNull && !F.isnan(F.col("__b")))
      .localCheckpoint(false)
    val n = base.count()
    require(n > 0, "no complete-case rows")
    val ranks = ExactQuantiles.percentRanksMulti(base, Seq("__a", "__b"))
      .localCheckpoint(false)
    def rk(c: String, d: String) = ranks.filter(F.col("feature") === c)
      .select(F.col("value").as(c),
        (F.lit(2L) * F.col("n_below") + F.col("n_value") - F.lit(n)).as(d))
    base.join(rk("__a", "__da"), Seq("__a"))
      .join(rk("__b", "__db"), Seq("__b"))
      .agg(
        F.count(F.lit(1)).as("n"),
        F.sum(F.col("__da") * F.col("__db")).as("s_ab"),
        F.sum(F.col("__da") * F.col("__da")).as("s_aa"),
        F.sum(F.col("__db") * F.col("__db")).as("s_bb"))
      .select(F.col("n"), F.col("s_ab"), F.col("s_aa"), F.col("s_bb"),
        F.when(F.col("s_aa") === 0L || F.col("s_bb") === 0L,
            F.lit(null).cast("double"))
          .otherwise(F.col("s_ab").cast("double") /
            (F.sqrt(F.col("s_aa").cast("double")) *
              F.sqrt(F.col("s_bb").cast("double"))))
          .as("rho"))
  }

  /** Multi-column [[spearmanCorr]]: the full pairwise rank-correlation
    * MATRIX with ALL rank tables built by ONE melted scan + ONE range
    * exchange ([[ExactQuantiles.percentRanksMulti]]) and all k(k−1)/2
    * sums emitted by ONE aggregate — where pairwise calls pay the rank
    * machinery per pair. Same integer doubled-midrank statistics,
    * complete-case over the FULL column set (every rho shares one
    * sample, a proper correlation matrix), zero rank variance fails
    * loudly like [[featureCorrelations]]. Output
    * `(f1, f2, n, rho)`, f1 < f2, ordered. */
  def spearmanMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = for { i <- cols.indices; j <- i until cols.size } yield (i, j)
    val vs = cols.map(c => "__v_" + c)
    val row = Checkpoint.scoped(df.select(cols.zip(vs).map { case (c, v) =>
        F.col(c).cast("double").as(v) }: _*)
      .filter(vs.map(v => F.col(v).isNotNull && !F.isnan(F.col(v)))
        .reduce(_ && _))) { base =>
      val n = base.count()
      require(n > 0, "no complete-case rows")
      // the rank table reads its own checkpoint: released once summed
      val rankTable = ExactQuantiles.percentRanksMulti(base, vs)
      try Checkpoint.scoped(rankTable) { ranks =>
        val joined = cols.zip(vs).foldLeft(base) { case (acc, (c, v)) =>
          acc.join(ranks.filter(F.col("feature") === v)
            .select(F.col("value").as(v),
              (F.lit(2L) * F.col("n_below") + F.col("n_value") - F.lit(n))
                .as("__d_" + c)), Seq(v))
        }
        val aggs = Seq(F.count(F.lit(1)).as("__n")) ++ pairs.map { case (i, j) =>
          F.sum(F.col("__d_" + cols(i)) * F.col("__d_" + cols(j)))
            .as(s"__s${i}_$j") }
        joined.agg(aggs.head, aggs.tail: _*).head
      } finally Checkpoint.release(rankTable)
    }
    val nOut = row.getLong(0)
    val pIdx = pairs.zipWithIndex.toMap
    def s(i: Int, j: Int): Long = row.getLong(1 + pIdx((i, j)))
    val out = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield {
      require(s(i, i) != 0L && s(j, j) != 0L,
        s"zero rank variance in pair (${cols(i)}, ${cols(j)})")
      val rho = s(i, j).toDouble /
        (math.sqrt(s(i, i).toDouble) * math.sqrt(s(j, j).toDouble))
      val (a, b) = if (cols(i) <= cols(j)) (cols(i), cols(j))
        else (cols(j), cols(i))
      (a, b, nOut, rho)
    }
    out.toDF("f1", "f2", "n", "rho").orderBy("f1", "f2")
  }

  /** Mutual information between two categorical columns with the
    * QUANTIZED-LOG exactness bridge — the information-theoretic
    * feature↔label association the χ² keyword scorer approximates:
    * every pointwise term `floor(1e6 · ln(c_xy·n / (c_x·c_y)))` is an
    * integer computed IN-PLAN (the NB/LM/PMI bridge), weighted by the
    * exact BIGINT cell count and summed as integers — so the statistic
    * is partitioning-invariant and replays in SQL bit-for-bit;
    * `mi_nats = (mi_q/1e6)/n` recovers the nats estimate within
    * quantization (≤ 1e-6 per pooled pair). Complete-case; cells with
    * c ≥ 1 only (0·ln0 terms are absent by construction).
    *
    * Scale shape: ONE `groupBy(a, b)` joint-histogram exchange
    * (bounded by the category product), marginals as bounded
    * aggregates of the CHECKPOINTED joint table (one corpus scan), a
    * broadcast 1-row total, one final aggregate. */
  def mutualInformation(df: DataFrame, aCol: org.apache.spark.sql.Column,
      bCol: org.apache.spark.sql.Column): DataFrame = {
    val joint = df.select(aCol.cast("string").as("__a"), bCol.cast("string").as("__b"))
      .filter(F.col("__a").isNotNull && F.col("__b").isNotNull)
      .groupBy("__a", "__b").agg(F.count(F.lit(1)).as("__c"))
      .localCheckpoint(false)
    val ca = joint.groupBy("__a").agg(F.sum("__c").as("__ca"))
    val cb = joint.groupBy("__b").agg(F.sum("__c").as("__cb"))
    val tot = joint.agg(F.sum("__c").as("__n"))
    joint.join(ca, Seq("__a")).join(cb, Seq("__b"))
      .crossJoin(F.broadcast(tot))
      .agg(F.max("__n").as("n"),
        F.sum(F.col("__c") *
          F.floor(F.lit(1000000.0) *
            F.log((F.col("__c") * F.col("__n")).cast("double") /
              (F.col("__ca") * F.col("__cb")).cast("double"))).cast("long"))
          .as("mi_q"))
      .select(F.col("n"), F.col("mi_q"),
        ((F.col("mi_q").cast("double") / F.lit(1000000.0)) /
          F.col("n").cast("double")).as("mi_nats"))
  }

  /** Cramér's V — the NORMALIZED categorical-association audit
    * ([[mutualInformation]]'s χ² sibling, bounded to [0,1] so it
    * compares across tables of different shapes): χ² from the joint
    * histogram via the zero-cell-free identity
    * `χ² = Σ_observed n·o²/(r·s) − n` (absent cells contribute 0 to
    * Σo²/e, so the observed cells suffice), each term quantized
    * IN-PLAN as `floor(1e6 · (n·(o·o) / (r·s)))` with the integer
    * products `o·o` and `r·s` BIGINT-exact (ANSI — loud past 2⁶³,
    * holds to ~3e9 rows) and ONE fixed IEEE division — so `chi2_q`
    * sums as integers, partitioning-invariant, and the statistic
    * replays in SQL bit-for-bit. `V = √(χ²/(n·(min(R,C)−1)))`, one
    * IEEE tree; NULL when either side is constant (min(R,C)=1); χ² is
    * clamped at 0 (floor-quantization can push a true-zero χ²
    * epsilon-negative). Complete-case.
    *
    * Scale shape: identical to [[mutualInformation]] — ONE
    * `groupBy(a, b)` joint-histogram exchange bounded by the category
    * product, marginals off the CHECKPOINTED joint (one corpus scan),
    * a broadcast 1-row total, one final aggregate. */
  def cramersV(df: DataFrame, aCol: org.apache.spark.sql.Column,
      bCol: org.apache.spark.sql.Column): DataFrame = {
    val joint = df.select(aCol.cast("string").as("__a"), bCol.cast("string").as("__b"))
      .filter(F.col("__a").isNotNull && F.col("__b").isNotNull)
      .groupBy("__a", "__b").agg(F.count(F.lit(1)).as("__c"))
      .localCheckpoint(false)
    val ca = joint.groupBy("__a").agg(F.sum("__c").as("__ca"))
    val cb = joint.groupBy("__b").agg(F.sum("__c").as("__cb"))
    val tot = joint.agg(F.sum("__c").as("__n"),
      F.count_distinct(F.col("__a")).as("__r"),
      F.count_distinct(F.col("__b")).as("__s"))
    val chi2 = (F.col("chi2_q").cast("double") / F.lit(1000000.0)) -
      F.col("n").cast("double")
    val dof = F.col("n") * (F.least(F.col("r_levels"), F.col("c_levels")) - F.lit(1L))
    joint.join(ca, Seq("__a")).join(cb, Seq("__b"))
      .crossJoin(F.broadcast(tot))
      .agg(F.max("__n").as("n"),
        F.max("__r").as("r_levels"),
        F.max("__s").as("c_levels"),
        F.sum(F.floor(F.lit(1000000.0) *
          (F.col("__n").cast("double") * (F.col("__c") * F.col("__c")).cast("double") /
            (F.col("__ca") * F.col("__cb")).cast("double"))).cast("long"))
          .as("chi2_q"))
      .select(F.col("n"), F.col("r_levels"), F.col("c_levels"), F.col("chi2_q"),
        F.greatest(chi2, F.lit(0.0)).as("chi2"),
        F.when(F.least(F.col("r_levels"), F.col("c_levels")) === 1L,
            F.lit(null).cast("double"))
          .otherwise(F.sqrt(F.greatest(chi2, F.lit(0.0)) / dof.cast("double")))
          .as("cramers_v"))
  }

  /** Theil's U (uncertainty coefficient) — the ASYMMETRIC member of
    * the categorical-association family ([[cramersV]] is symmetric
    * strength, [[mutualInformation]] is raw nats; this one answers
    * "what fraction of X's entropy does knowing Y remove", direction
    * by direction — the feature-selection readout for a categorical
    * label): `U(a|b) = I(a;b)/H(a)`, `U(b|a) = I(a;b)/H(b)`. Both the
    * mutual information and the marginal entropies use the
    * quantized-log bridge — `mi_q = Σ c·floor(1e6·ln(c·n/(cₐ·c_b)))`,
    * `h_a_q = Σ cₐ·floor(1e6·ln(n/cₐ))` — integer sums of integer
    * terms, so each U is ONE IEEE division of two exact BIGINTs,
    * partitioning-invariant, SQL-replayable bit-for-bit. NULL when the
    * denominator side is constant (zero entropy). Complete-case.
    *
    * Scale shape: identical to [[mutualInformation]] — one bounded
    * joint-histogram exchange, marginals off the CHECKPOINTED joint,
    * broadcast totals, one final aggregate. */
  def theilsU(df: DataFrame, aCol: org.apache.spark.sql.Column,
      bCol: org.apache.spark.sql.Column): DataFrame = {
    val joint = df.select(aCol.cast("string").as("__a"), bCol.cast("string").as("__b"))
      .filter(F.col("__a").isNotNull && F.col("__b").isNotNull)
      .groupBy("__a", "__b").agg(F.count(F.lit(1)).as("__c"))
      .localCheckpoint(false)
    val tot = joint.agg(F.sum("__c").as("__n"))
    def hq: org.apache.spark.sql.Column =
      F.sum(F.col("__cm") * F.floor(F.lit(1000000.0) *
        F.log(F.col("__n").cast("double") / F.col("__cm").cast("double"))).cast("long"))
    val ha = joint.groupBy("__a").agg(F.sum("__c").as("__cm"))
      .crossJoin(F.broadcast(tot)).agg(hq.as("h_a_q"))
    val hb = joint.groupBy("__b").agg(F.sum("__c").as("__cm"))
      .crossJoin(F.broadcast(tot)).agg(hq.as("h_b_q"))
    val ca = joint.groupBy("__a").agg(F.sum("__c").as("__ca"))
    val cb = joint.groupBy("__b").agg(F.sum("__c").as("__cb"))
    val mi = joint.join(ca, Seq("__a")).join(cb, Seq("__b"))
      .crossJoin(F.broadcast(tot))
      .agg(F.max("__n").as("n"),
        F.sum(F.col("__c") *
          F.floor(F.lit(1000000.0) *
            F.log((F.col("__c") * F.col("__n")).cast("double") /
              (F.col("__ca") * F.col("__cb")).cast("double"))).cast("long"))
          .as("mi_q"))
    def u(h: String) = F.when(F.col(h) === 0L, F.lit(null).cast("double"))
      .otherwise(F.col("mi_q").cast("double") / F.col(h).cast("double"))
    mi.crossJoin(F.broadcast(ha)).crossJoin(F.broadcast(hb))
      .select(F.col("n"), F.col("mi_q"), F.col("h_a_q"), F.col("h_b_q"),
        u("h_a_q").as("u_a_given_b"), u("h_b_q").as("u_b_given_a"))
  }

  /** EXACT Kendall τ-b — the third rank-association member
    * ([[featureCorrelations]] linear, [[spearmanCorr]] monotone-by-
    * midrank, this one concordance-based): concordant/discordant pair
    * counts computed from the BOUNDED JOINT HISTOGRAM, never row
    * pairs — `nc = Σ h(a₁,b₁)·h(a₂,b₂)` over cell pairs with
    * `a₂>a₁ ∧ b₂>b₁` (discordant mirrored), tie terms from the
    * marginals, and
    * `τ_b = (nc − nd) / (√(n₀−n₁) · √(n₀−n₂))` with
    * `n₀ = n(n−1)/2`, `n₁/n₂ = Σ t(t−1)/2` — every count a BIGINT via
    * multiplyExact/addExact (loud past 2⁶³; n² terms hold to ~4e9
    * rows), the ratio one fixed IEEE tree.
    *
    * Scale shape: ONE map-side-combined `groupBy(a, b)` exchange —
    * cells bounded by the product of distinct binned values (the
    * [[graft.analysis.TreeSplit]] histogram contract: bin continuous
    * features first) — then an O(cells²) driver scan. NULL pairs
    * dropped (complete-case). Output one row
    * `(n, nc, nd, ties_a, ties_b, tau_b)`; τ_b NULL when a side is
    * constant. */
  def kendallTau(df: DataFrame, aCol: String, bCol: String,
      maxCells: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cells = df.select(F.col(aCol).cast("double").as("__a"),
        F.col(bCol).cast("double").as("__b"))
      .filter(F.col("__a").isNotNull && !F.isnan(F.col("__a")) &&
        F.col("__b").isNotNull && !F.isnan(F.col("__b")))
      .groupBy("__a", "__b").agg(F.count(F.lit(1)).as("__c"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    require(cells.nonEmpty, "no complete-case rows")
    require(cells.length <= maxCells,
      s"${cells.length} joint-histogram cells exceeds $maxCells — bin the features first")
    def sumEx(xs: Iterable[Long]): Long = xs.foldLeft(0L)(Math.addExact)
    val n = sumEx(cells.map(_._3))
    var nc = 0L; var nd = 0L
    var i = 0
    while (i < cells.length) {
      val (a1, b1, c1) = cells(i)
      var j = i + 1
      while (j < cells.length) {
        val (a2, b2, c2) = cells(j)
        if (a1 != a2 && b1 != b2) {
          val prod = Math.multiplyExact(c1, c2)
          if ((a2 > a1) == (b2 > b1)) nc = Math.addExact(nc, prod)
          else nd = Math.addExact(nd, prod)
        }
        j += 1
      }
      i += 1
    }
    def tiePairs(groups: Map[Double, Long]): Long =
      groups.values.foldLeft(0L)((acc, t) =>
        Math.addExact(acc, Math.multiplyExact(t, t - 1) / 2))
    val n1 = tiePairs(cells.groupBy(_._1).view.mapValues(rs => sumEx(rs.map(_._3))).toMap)
    val n2 = tiePairs(cells.groupBy(_._2).view.mapValues(rs => sumEx(rs.map(_._3))).toMap)
    val n0 = Math.multiplyExact(n, n - 1) / 2
    val da = n0 - n1
    val db = n0 - n2
    val tau = if (da == 0L || db == 0L) None
      else Some((nc - nd).toDouble / (math.sqrt(da.toDouble) * math.sqrt(db.toDouble)))
    Seq((n, nc, nd, n1, n2, tau)).toDF("n", "nc", "nd", "ties_a", "ties_b", "tau_b")
  }

  /** Range-partitioner preflight: exact balanced bounds for
    * `repartitionByRange(p, keyCol)` plus the EXACT row count each
    * resulting partition would hold — the report you read before
    * range-shuffling 100 TB (Spark's own RangePartitioner samples, so
    * heavy ties silently produce empty buckets next to mega-buckets;
    * this shows that imbalance before you pay for the shuffle).
    *
    * Bounds are the exact type-7 quantiles at ranks i/p from
    * [[ExactQuantiles.quantiles]] (bit-equal to `quantile_cont`);
    * bucket(v) = #bounds strictly below v, so a value equal to a bound
    * lands in that bound's bucket. NULL keys are excluded (they never
    * enter a range partition; [[keySkewReport]] counts them).
    *
    * Output: `(bucket, lo, hi, n_rows, share)` — `lo`/`hi` NULL at the
    * open ends, counts exact BIGINTs, share one IEEE divide. Scale:
    * the quantile machinery's bounded-state passes plus ONE map-side-
    * combined groupBy(bucket) over p buckets. */
  def rangePartitionPlan(df: DataFrame, valueCol: String, p: Int): DataFrame = {
    require(p >= 2, s"need at least 2 partitions, got $p")
    val spark = df.sparkSession
    import spark.implicits._
    val ranks = (1 until p).map(_.toDouble / p)
    val bounds = ExactQuantiles.quantiles(df, Seq(valueCol), ranks)(valueCol)
    require(bounds.nonEmpty, s"no non-null values in $valueCol")
    val v = F.col(valueCol).cast("double")
    val bucket = bounds.zipWithIndex.foldLeft(F.lit(0)) { case (acc, (b, _)) =>
      acc + F.when(F.lit(b) < v, 1).otherwise(0)
    }
    val counts = df.filter(v.isNotNull)
      .groupBy(bucket.cast("long").as("bucket"))
      .agg(F.count(F.lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = counts.valuesIterator.sum
    val rows = (0 until p).map { i =>
      val lo = if (i == 0) None else Some(bounds(i - 1))
      val hi = if (i == p - 1) None else Some(bounds(i))
      val n = counts.getOrElse(i.toLong, 0L)
      (i.toLong, lo, hi, n, n.toDouble / total.toDouble)
    }
    rows.toDF("bucket", "lo", "hi", "n_rows", "share").orderBy("bucket")
  }

  def keySkewReport(df: DataFrame, keyCol: String, k: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df.groupBy(F.col(keyCol).cast("string").as("key"))
      .agg(F.count(F.lit(1)).as("cnt"))
    val totals = counts.agg(F.sum("cnt").as("n_rows"),
      F.count(F.lit(1)).as("n_keys"))
    // NULL keys are a counted, documented case — pin their tie-break
    // position explicitly (Spark's bare asc is NULLS FIRST, most SQL
    // engines' is NULLS LAST; an implicit default diverges on a NULL
    // key tied in cnt at the top-k boundary).
    val top = counts.orderBy(F.col("cnt").desc, F.col("key").asc_nulls_last).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(F.col("cnt").desc, F.col("key").asc_nulls_last)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    top.crossJoin(F.broadcast(totals))
      .withColumn("share", F.col("cnt").cast("double") / F.col("n_rows").cast("double"))
      .withColumn("cum_share",
        F.sum("cnt").over(w).cast("double") / F.col("n_rows").cast("double"))
      .select("key", "cnt", "share", "cum_share", "n_rows", "n_keys")
  }
}
