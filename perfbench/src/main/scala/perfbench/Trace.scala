package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call: `parent` is -1 for a root (a unit operation), `op` the
  * index of the unit operation it belongs to. Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long)

/** In-memory span recorder for the single client thread. Spans always
  * record (two `nanoTime` calls each); when `attribute` is on, each span
  * also tags the Spark jobs submitted inside it through a local property
  * the listeners below read back. */
final class Trace(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 0
  var op: Int = -1
  var attribute: Boolean = false

  def spans: Seq[Span] = done.toSeq

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name, System.nanoTime()) :: stack
    if (attribute) sc.setLocalProperty(Trace.Property, id.toString)
    try body
    finally {
      val (_, _, start) = stack.head
      stack = stack.tail
      done += Span(id, name, parent, op, start, System.nanoTime())
      if (attribute)
        sc.setLocalProperty(Trace.Property,
          if (parent < 0) null else parent.toString)
    }
  }

  /** Id of the innermost open span, -1 outside any span. */
  def current: Int = stack.headOption.map(_._1).getOrElse(-1)
}

object Trace {
  val Property = "perfbench.span"
}

/** Spark engine work attributed to one span (summed over its jobs). */
final class SparkStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runNs = 0L
  var cpuNs = 0L
  var schedNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakMem = 0L
  /** stage id -> (tasks, input records read): finds the first scan stage. */
  val stageTasks = mutable.Map.empty[Int, (Int, Long)]
}

/** Attributes jobs, stages and task metrics to the span whose id the
  * submitting thread carried in [[Trace.Property]]. Events arrive on the
  * listener bus thread, so all state is guarded by `this`. */
final class SpanSparkListener extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Int]
  val bySpan = mutable.Map.empty[Int, SparkStats]

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(Trace.Property))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      bySpan.getOrElseUpdate(s, new SparkStats).jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    spanOf(e.properties).orElse(stageSpan.get(info.stageId)).foreach { s =>
      stageSpan(info.stageId) = s
      val st = bySpan.getOrElseUpdate(s, new SparkStats)
      st.stages += 1
      st.stageTasks(info.stageId) = (info.numTasks, 0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val st = bySpan.getOrElseUpdate(s, new SparkStats)
      st.tasks += 1
      if (!e.taskInfo.successful) st.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.runNs += m.executorRunTime * 1000000L
        st.cpuNs += m.executorCpuTime
        // Spark UI's scheduler delay: task duration not spent deserializing,
        // running, serializing the result or fetching it
        val delayMs = e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime
           else 0L)
        st.schedNs += math.max(0L, delayMs) * 1000000L
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        st.peakMem = math.max(st.peakMem, m.peakExecutionMemory)
        st.stageTasks.get(e.stageId).foreach { case (n, read) =>
          st.stageTasks(e.stageId) = (n, read + m.inputMetrics.recordsRead)
        }
      }
    }
  }
}

/** Collects micro-batch progress; [[ProgressLog.bind]] later ties each
  * query run to the span that started it. */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  private val progress = mutable.ArrayBuffer.empty[(java.util.UUID, Map[String, Long], Long)]
  private val runSpan = mutable.Map.empty[java.util.UUID, Int]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    val it = d.entrySet().iterator()
    val m = Map.newBuilder[String, Long]
    while (it.hasNext) { val en = it.next(); m += en.getKey -> en.getValue.longValue }
    progress += ((p.runId, m.result(), p.numInputRows))
  }

  def bind(runId: java.util.UUID, span: Int): Unit = synchronized { runSpan(runId) = span }

  /** span id -> progress entries (durations, input rows) of the runs bound to it. */
  def bySpan: Map[Int, Seq[(Map[String, Long], Long)]] = synchronized {
    progress.toSeq.flatMap { case (run, d, rows) => runSpan.get(run).map(_ -> (d, rows)) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }
  }
}
