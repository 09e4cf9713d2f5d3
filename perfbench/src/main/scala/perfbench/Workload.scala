package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.Profiler
import graft.profile.DatasetProfileView

/** What one unit operation sees: the session, the span recorder, whether
  * this operation is a traced one (then `progress` collects its streaming
  * progress), and a place for per-operation gauges (values read off the
  * program's outputs, not timings). */
final class OpContext(val spark: SparkSession, val trace: Trace, val traced: Boolean,
    val progress: Option[ProgressLog]) {
  val gauges = mutable.LinkedHashMap.empty[String, Double]
  def span[T](name: String)(body: => T): T = trace(name)(body)

  /** `Profiler.profile` in a "profile" span. A traced operation runs its
    * three steps (`profileDF`, the collect, `Profiler.parseRow`) itself,
    * each in its own span; that is the same computation while the columns
    * fit in one `MetricConfig.columnBatchSize` batch. */
  def profile(profiler: Profiler, df: DataFrame, columns: Seq[String]): DatasetProfileView =
    span("profile") {
      if (!traced) profiler.profile(df, Some(columns))
      else {
        val names = columns.filter(n => profiler.aggColumnFor(df.schema(n)).nonEmpty)
        require(names.size <= profiler.config.columnBatchSize, "profile needs one column batch")
        val agg = span("api.profile.construct")(profiler.profileDF(df, Some(names)))
        val row = span("api.profile.action")(agg.collect()(0))
        span("api.profile.parse")(Profiler.parseRow(row, 0, profiler.config.quantiles))
      }
    }
}

/** One benchmark workload. `prepare` runs once, inside set-up time; `op`
  * is the timed unit operation and returns what `check` later verifies,
  * outside any timing. */
abstract class Workload(val input: String, val work: String) {
  val expected: JsonNode = new ObjectMapper().readTree(new File(s"$input/expected.json"))
  def warmupOps: Int
  /** Input items one operation processes (cells, events, values, docs). */
  def itemsPerOp: Long
  def prepare(spark: SparkSession): Unit = ()
  def op(ctx: OpContext): AnyRef
  /** Failures per operation index (empty = correct), and run-level gauges. */
  def check(spark: SparkSession, outputs: Seq[(Int, AnyRef)]): (Map[Int, Seq[String]], Map[String, Double])
  /** Set to stop the timed loop early (e.g. the workload ran out of input). */
  def exhausted: Boolean = false
}

object Workload {
  def apply(name: String, input: String, work: String): Workload = name match {
    case "monitor_loop"  => new MonitorLoop(input, work)
    case "curate_corpus" => new CurateCorpus(input, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
