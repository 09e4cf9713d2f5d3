package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

/** Ordered funnel analysis: how many users complete step 1, then step 2
  * at-or-after it, then step 3 … (the standard event-analytics funnel,
  * greedy-earliest semantics: take the first step-1 event, then the
  * first step-2 event not before it, and so on — greedy maximizes
  * completion for ordered funnels, so it is THE canonical definition).
  *
  * Scale shape: events are filtered to the funnel's step types BEFORE
  * anything else (the big reduction — a funnel over 5 types touches
  * none of the rest), then one groupBy(user) collects each user's
  * (ts, step) pairs — bounded by the user's own funnel-relevant
  * activity, the same per-key envelope as sessionization — and the
  * greedy chain folds over the sorted array with `aggregate()`:
  * map-side combined, no window, no driver state. Output is one row
  * per step with reached-user counts (exact integers).
  */
object Funnel {

  /** Per-step reach: (step, step_idx, users) where `users` counts users
    * whose greedy chain reaches the step. `steps` must be distinct. */
  def funnel(
      df: DataFrame, userCol: String, tsCol: String, typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct == steps, s"duplicate steps: $steps")
    val k = steps.size
    val stepIdx = F.array_position(
      F.array(steps.map(F.lit): _*), F.col(typeCol)) // 1-based, 0 = miss
    val ev = df
      .filter(F.col(typeCol).isin(steps: _*) &&
        F.col(userCol).isNotNull && F.col(tsCol).isNotNull)
      .select(F.col(userCol).as("__u"),
        F.unix_micros(F.col(tsCol)).as("__ts"), (stepIdx - 1).as("__s"))
    val sorted = F.sort_array(F.collect_list(F.struct(
      F.col("__ts"), F.col("__s"))))
    // greedy chain: state(i) = completion ts of step i (null = not yet)
    val init = F.array_repeat(F.lit(null).cast("long"), k)
    val chain = F.aggregate(F.col("__evs"), init, (st, e) =>
      F.transform(st, (cur, i) => {
        val isStep = e.getField("__s") === i.cast("long")
        val prevDone = F.when(i === 0, F.lit(true))
          .otherwise(F.element_at(st, i).isNotNull &&
            e.getField("__ts") >= F.element_at(st, i))
        F.when(cur.isNotNull, cur)
          .when(isStep && prevDone, e.getField("__ts"))
      }))
    val perUser = ev.groupBy("__u").agg(sorted.as("__evs"))
      .select(chain.as("__chain"))
    perUser
      .select(F.explode(F.transform(F.col("__chain"),
        (ts, i) => F.struct(i.as("idx"), ts.isNotNull.as("hit")))).as("e"))
      .groupBy(F.col("e.idx").as("step_idx"))
      .agg(F.sum(F.col("e.hit").cast("long")).as("users"))
      .select(
        F.element_at(F.array(steps.map(F.lit): _*),
          F.col("step_idx") + 1).as("step"),
        (F.col("step_idx") + 1).cast("long").as("step_idx"), F.col("users"))
  }
}
