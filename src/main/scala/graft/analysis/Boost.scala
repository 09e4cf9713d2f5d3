package graft.analysis

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.{functions => F}

import graft.core.Checkpoint

/** BIT-EXACT gradient boosting (least-squares boosting over decision
  * stumps, Friedman 2001 §4.1) — the trainable family's ensemble
  * member. Float GBMs are run-to-run irreproducible at scale (partial
  * float sums); this one trains on INTEGER targets with INTEGER leaf
  * values (floor means), so residuals stay exact integers through
  * every round and the whole training trajectory — splits, leaves,
  * per-round SSE — replays in SQL bit-for-bit, like the BPE / NB /
  * k-means trainers.
  *
  * Round structure: base prediction = floor(mean(y)); each round fits
  * the best regression stump to the current residuals (criterion:
  * maximize `SL²/nL + SR²/nR` — the SSE reduction — computed as
  * single IEEE ops over exact BIGINTs, ties (feature, threshold)
  * low), subtracts the integer leaf values, and records the exact
  * post-round SSE. Learning rate 1 (integer shrinkage would need
  * scaled residuals; at stump capacity the unshrunk fit is the
  * textbook LS-boost step).
  *
  * Exactness bounds, ALL enforced loudly: distributed sums are ANSI
  * BIGINTs; the driver-side prefix sums accumulate via
  * `Math.addExact` (a plain `+=` would wrap silently); and
  * `|Σ residuals| ≤ 2⁵³` is `require`d so the floor leaf values are
  * computed on exactly-represented doubles — any corpus with
  * n·|y| ≲ 9e15 per split side. The IEEE split criterion needs no
  * bound for the oracle bridge: both engines evaluate the identical
  * expression tree, so they agree bit-for-bit even where it rounds.
  *
  * Scale shape per round: ONE map-side-combined
  * `groupBy(feature, bin)` histogram exchange (sums + counts + Σr² —
  * the same bounded LightGBM histogram as [[TreeSplit]], carrying the
  * PREVIOUS round's exact SSE for free: NULL-bin groups are kept in
  * the aggregate so one feature's groups partition every row, and the
  * driver reads Σr² off that feature's slice instead of paying a
  * separate corpus scan) and a driver scan of the histogram. The base
  * frame is localCheckpointed ONCE; each round's residual is the
  * map-only integer expression `y − m0 − Σ fitted stump leaves`
  * (driver-held literals), so no per-round copy of the corpus is
  * rewritten into block storage (r21; the earlier shape checkpointed a
  * fresh residual frame every round — rounds × corpus bytes of cache
  * churn for the same integers). Only the LAST round's SSE needs its
  * own 1-row aggregate. Rows with a NULL split-feature bin route right, as
  * [[TreeSplit.depth2]]; rows with a NULL TARGET are dropped up front
  * (complete-case, as [[Ols.fit2]] — counting them while sum skips
  * them would silently dilute the base prediction and every leaf).
  *
  * (Reference analog: none — whylogs monitors model outputs; this
  * trains the model reproducibly enough to hash its training run.)
  */
object Boost {

  /** Train `rounds` stumps on integer-valued `yCol`. Output one row per
    * round, ordered: round 0 is the base prediction
    * `(0, '__base', NULL, m0, m0, n, 0, sse0)`; round t ≥ 1 is
    * `(t, feature, threshold, left_val, right_val, n_left, n_right,
    * sse_t)` with sse the EXACT integer Σresidual² after applying the
    * round. */
  /** The trained ensemble in driver form: base prediction + per-round
    * stumps `(feature, threshold, left_val, right_val)`. */
  final case class BoostModel(base: Long,
      stumps: Seq[(String, Long, Long, Long)])

  /** INFERENCE: the ensemble prediction as a map-only column —
    * `base + Σ stump leaf` with the same ≤/route-right-on-NULL rule as
    * training. Stateless, so it scores a stream at ingestion. */
  def predictColumn(model: BoostModel,
      features: Seq[TreeSplit.FeatureSpec]): org.apache.spark.sql.Column = {
    val byName = features.map(f => f.name -> f.bin).toMap
    model.stumps.foldLeft(F.lit(model.base)) { case (acc, (feat, thr, lv, rv)) =>
      val bin = byName.getOrElse(feat,
        throw new IllegalArgumentException(s"model references unknown feature $feat"))
      acc + F.when(bin.cast("long") <= thr, lv).otherwise(rv)
    }
  }

  /** Train and return the driver-held model (the trace-free form of
    * [[lsBoost]] — same run, same rounds). */
  def lsBoostModel(df: DataFrame, yCol: String,
      features: Seq[TreeSplit.FeatureSpec], rounds: Int): BoostModel = {
    val trace = lsBoost(df, yCol, features, rounds).collect()
    BoostModel(trace.head.getLong(3),
      trace.drop(1).map(r =>
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq)
  }

  def lsBoost(df: DataFrame, yCol: String,
      features: Seq[TreeSplit.FeatureSpec], rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(features.nonEmpty, "need at least one feature")
    val spark = df.sparkSession
    import spark.implicits._
    val featCols = features.map(f => f.bin.cast("long").as("__fb_" + f.name))
    // complete-case: count(1) counts NULL targets while sum skips them —
    // an unfiltered NULL y would silently dilute m0 and every leaf value
    Checkpoint.scoped(df.filter(F.col(yCol).isNotNull)
        .select(featCols :+ F.col(yCol).cast("long").as("__y"): _*)) { base0 =>
      // round 0: integer base prediction
      val base = base0.agg(F.sum("__y").as("s"), F.count(F.lit(1)).as("n")).head
      val (s0, n0) = (base.getLong(0), base.getLong(1))
      require(n0 > 0, "empty training frame")
      val m0 = math.floor(s0.toDouble / n0.toDouble).toLong
      // residual as a map-only integer expression over the ONE checkpointed
      // frame: y − m0 − Σ fitted stump leaves (all driver literals). Each
      // round rebinds it instead of rewriting the corpus into a new cached
      // copy — same integers, bit-identical histograms.
      var resid: org.apache.spark.sql.Column = F.col("__y") - F.lit(m0)
      def cur = base0.withColumn("__r", resid)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, Option[Long], Long, Long, Long, Long, Long)]
      // the row whose SSE the NEXT histogram pass (or the final 1-row
      // aggregate) will supply
      var pending: Option[(Long, String, Option[Long], Long, Long, Long, Long)] =
        Some((0L, "__base", None, m0, m0, n0, 0L))
      val sseFeat = features.head.name // any single feature's groups partition all rows
      val fs = F.explode(F.array(features.map(f =>
        F.struct(F.lit(f.name).as("f"), F.col("__fb_" + f.name).as("b"))): _*)).as("fs")
      var t = 1
      var done = false
      while (t <= rounds && !done) {
        // NULL-bin groups kept: sseFeat's slice then covers EVERY row, so
        // Σss over it is the exact post-previous-round SSE — no extra scan
        val histAll = cur.select(fs, F.col("__r"))
          .select(F.col("fs.f").as("f"), F.col("fs.b").as("b"), F.col("__r"))
          .groupBy("f", "b").agg(F.sum("__r").as("s"), F.count(F.lit(1)).as("n"),
            F.sum(F.col("__r") * F.col("__r")).as("ss"))
          .collect().map(r => (r.getString(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1)),
            r.getLong(2), r.getLong(3), r.getLong(4)))
        val ssePrev = histAll.iterator.filter(_._1 == sseFeat)
          .foldLeft(0L)((a, r) => Math.addExact(a, r._5))
        pending.foreach(p => out += ((p._1, p._2, p._3, p._4, p._5, p._6, p._7, ssePrev)))
        pending = None
        val hist = histAll.collect { case (f, Some(b), s, n, _) => (f, b, s, n) }
        // driver scan: best (score DESC, feature, threshold) split. Sums
        // accumulate via addExact (a plain += wraps SILENTLY past 2⁶³,
        // ranking splits wrong with no error), and |S| ≤ 2⁵³ is enforced
        // so the floor leaf value floor(S/n) is computed on an
        // exactly-represented integer — the bit-exactness contract fails
        // LOUDLY past it, as documented. (The double criterion itself
        // needs no bound for the oracle bridge: both engines evaluate the
        // identical IEEE tree, so they agree even where it rounds.)
        var best: Option[(Double, String, Long, Long, Long, Long, Long)] = None
        hist.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (feat, rows) =>
          val bins = rows.sortBy(_._2)
          val sTot = bins.foldLeft(0L)((a, b) => Math.addExact(a, b._3))
          val nTot = bins.foldLeft(0L)((a, b) => Math.addExact(a, b._4))
          var sl = 0L; var nl = 0L
          bins.dropRight(1).foreach { case (_, thr, bs, bn) =>
            sl = Math.addExact(sl, bs); nl = Math.addExact(nl, bn)
            val sr = sTot - sl; val nr = nTot - nl
            require(math.abs(sl) <= (1L << 53) && math.abs(sr) <= (1L << 53),
              s"|sum(residual)| exceeds 2^53 on feature $feat — " +
                "floor leaf values would lose integer exactness; scale y down")
            val score = (sl.toDouble * sl.toDouble) / nl.toDouble +
              (sr.toDouble * sr.toDouble) / nr.toDouble
            val cand = (score, feat, thr, sl, nl, sr, nr)
            val better = best match {
              case None => true
              case Some(b) =>
                score > b._1 || (score == b._1 && (feat < b._2 ||
                  (feat == b._2 && thr < b._3)))
            }
            if (better) best = Some(cand)
          }
        }
        best match {
          case None => done = true // every feature single-binned: nothing to fit
          case Some((_, feat, thr, sl, nl, sr, nr)) =>
            val lv = math.floor(sl.toDouble / nl.toDouble).toLong
            val rv = math.floor(sr.toDouble / nr.toDouble).toLong
            resid = resid -
              F.when(F.col("__fb_" + feat) <= thr, lv).otherwise(rv)
            pending = Some((t.toLong, feat, Some(thr), lv, rv, nl, nr))
            t += 1
        }
      }
      // only the LAST round pays a dedicated SSE aggregate
      pending.foreach { p =>
        val sse = cur.agg(F.sum(F.col("__r") * F.col("__r"))).head.getLong(0)
        out += ((p._1, p._2, p._3, p._4, p._5, p._6, p._7, sse))
      }
      out.toSeq.toDF("round", "feature", "threshold", "left_val", "right_val",
        "n_left", "n_right", "sse")
        .orderBy("round")
    }
  }
}
