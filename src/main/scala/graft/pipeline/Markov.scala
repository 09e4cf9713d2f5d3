package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

/** First-order Markov model of event sequences — the "what follows
  * what" readout over sessionized event streams ([[Sessionize]] cuts
  * sessions; this models order WITHIN a user's stream): exact
  * transition counts and transition probabilities, plus the
  * deterministic most-likely-next-event election. The standard
  * event-analytics companion to funnels (a funnel asserts one path;
  * the transition matrix shows all of them with mass).
  *
  * Exactness: counts are BIGINTs; each transition probability is the
  * exact integer quantization `p_q = (10⁶·cnt) div rowTotal`
  * (integer division of exact integers — no float accumulates
  * anywhere) alongside the one-divide IEEE `p = cnt/rowTotal`, so the
  * whole matrix is partitioning-invariant and SQL-replayable.
  *
  * Scale shape: ONE user-keyed exchange for the per-user ordering
  * window (per-user sequences are bounded; never a global window),
  * then a groupBy bounded by |types|² and a marginal join of two
  * BOUNDED tables. Ordering ties on the timestamp break by the id
  * column — deterministic under any partitioning.
  *
  * (Reference analog: none — whylogs profiles value distributions,
  * not order; part of the beyond-reference sequence-analytics
  * surface next to [[Sessionize]]/[[Funnel]]/[[Retention]].)
  */
object Markov {

  /** Transition matrix `(prev, next, cnt, p_q, p)` over each user's
    * time-ordered event stream. Rows with NULL user/type drop; the
    * first event of each user has no predecessor and feeds no
    * transition. */
  def transitions(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(F.col(userCol))
      .orderBy(F.col(tsCol), F.col(tieCol))
    val steps = df
      .filter(F.col(userCol).isNotNull && F.col(typeCol).isNotNull)
      .select(F.col(typeCol).as("next"),
        F.lag(F.col(typeCol), 1).over(w).as("prev"))
      .filter(F.col("prev").isNotNull)
    val t = steps.groupBy("prev", "next").agg(F.count(F.lit(1)).as("cnt"))
      .transform(graft.core.Checkpoint.pin(_, eager = false))
    val m = t.groupBy("prev").agg(F.sum("cnt").as("__rt"))
    t.join(F.broadcast(m), Seq("prev"))
      .select(F.col("prev"), F.col("next"), F.col("cnt"),
        F.expr("(1000000 * cnt) div __rt").as("p_q"),
        (F.col("cnt").cast("double") / F.col("__rt").cast("double")).as("p"))
  }

  /** Most-likely next event per state: argmax by `(cnt desc, next
    * asc)` — the deterministic election (alphabetical tie-break) a
    * next-action recommender or anomaly baseline reads. */
  def topNext(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieCol: String): DataFrame = {
    val t = transitions(df, userCol, tsCol, typeCol, tieCol)
    val w = Window.partitionBy(F.col("prev"))
      .orderBy(F.col("cnt").desc, F.col("next"))
    t.withColumn("__rk", F.row_number().over(w))
      .filter(F.col("__rk") === 1)
      .select("prev", "next", "cnt", "p_q", "p")
  }
}
