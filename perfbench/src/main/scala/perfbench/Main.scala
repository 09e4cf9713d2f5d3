package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes everything measured as JSON.
  *
  * {{{
  * perfbench.Main --workload NAME --input DIR --work DIR --out FILE
  *   --seconds S --trace 0|1 --cores C --t0-ms EPOCH_MS
  * }}}
  *
  * Setup (SparkSession, the workload's `prepare`, its untimed warm-up
  * operations) is timed from `t0-ms`, the launcher's clock just before
  * it started this JVM. Then unit operations run back to back, one client,
  * until `seconds` have passed. In a traced run half the operations are
  * traced (Spark work attributed to spans); the other half give the
  * untraced baseline the tracing overhead is measured against. Outputs
  * are checked after the timed window and written as JSON with Jackson. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val traceRun = args("trace") == "1"
    val cores = args("cores").toInt
    val t0Ms = args("t0-ms").toLong
    val wl = Workload(name, args("input"), work)

    // ---- setup: session, preparation, untimed warm-up operations
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark.sparkContext)
    val sparkListener = if (traceRun) Some(new SpanSparkListener) else None
    val progress = if (traceRun) Some(new ProgressLog) else None
    sparkListener.foreach(spark.sparkContext.addSparkListener)
    progress.foreach(spark.streams.addListener)
    val outputs = mutable.ArrayBuffer.empty[(Int, AnyRef)]
    val errors = mutable.Map.empty[Int, String]
    val gauges = mutable.Map.empty[Int, Map[String, Double]]
    val traced = mutable.Map.empty[Int, Boolean]
    var opIndex = 0

    def runOp(isTraced: Boolean): Unit = {
      val i = opIndex
      opIndex += 1
      trace.op = i
      trace.attribute = isTraced
      val ctx = new OpContext(spark, trace, isTraced, progress.filter(_ => isTraced))
      val gc0 = gcSeconds()
      val cpu0 = cpuSeconds()
      try outputs += i -> trace("op")(wl.op(ctx))
      catch { case e: Throwable => errors(i) = s"${e.getClass.getName}: ${e.getMessage}" }
      finally trace.attribute = false
      ctx.gauges("jvm.cpu_s") = cpuSeconds() - cpu0
      ctx.gauges("jvm.gc_s") = gcSeconds() - gc0
      gauges(i) = ctx.gauges.toMap
      traced(i) = isTraced
    }

    wl.prepare(spark)
    (0 until wl.warmupOps).foreach(_ => runOp(false))
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3
    val warmupOps = opIndex
    val afterWarmup = snapshot(spark)

    // ---- timed window
    val windowStart = System.nanoTime()
    val ticksAtStart = hostTicks()
    var timed = 0
    // At least MinTimedOps operations, so that one operation slowed by the
    // host does not set the median. Traced, untraced, untraced, traced, ...:
    // a linear drift in operation time over the run (JIT warm-up, a growing
    // store) cancels out of the tracing overhead. A traced run ends on a
    // whole block of four, so it runs at least four operations.
    while (!wl.exhausted && ((System.nanoTime() - windowStart) / 1e9 < seconds ||
        timed < MinTimedOps || (traceRun && timed % 4 != 0))) {
      runOp(traceRun && (timed % 4 == 0 || timed % 4 == 3))
      timed += 1
    }
    val stealPct = (for ((s0, t0) <- ticksAtStart; (s1, t1) <- hostTicks() if t1 > t0)
      yield 100.0 * (s1 - s0) / (t1 - t0)).getOrElse(Double.NaN)
    val atEnd = snapshot(spark)

    // ---- checks, outside any timing
    val (failures, runGauges) =
      try wl.check(spark, outputs.toSeq)
      catch { case e: Throwable =>
        (outputs.map(_._1 -> Seq(s"check threw ${e.getClass.getName}: ${e.getMessage}")).toMap,
          Map.empty[String, Double])
      }
    sparkListener.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))

    val ops = (0 until opIndex).map { i =>
      obj("index" -> i, "warmup" -> (i < warmupOps), "traced" -> traced(i),
        "failures" -> (errors.get(i).toSeq ++ failures.getOrElse(i, Nil)),
        "gauges" -> obj(gauges(i).toSeq: _*))
    }
    val origin = trace.spans.headOption.map(_.start).getOrElse(0L)
    val spans = trace.spans.sortBy(_.id).map { sp =>
      obj("id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent, "op" -> sp.op,
        "start" -> (sp.start - origin) / 1e9, "end" -> (sp.end - origin) / 1e9)
    }
    val sparkBySpan = sparkListener.map(_.bySpan.toSeq.sortBy(_._1).map { case (id, st) =>
      id.toString -> obj("jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks,
        "failed_tasks" -> st.failedTasks, "exec_run_s" -> st.runNs / 1e9,
        "exec_cpu_s" -> st.cpuNs / 1e9, "sched_wait_s" -> st.schedNs / 1e9,
        "shuffle_bytes" -> st.shuffleBytes, "spill_bytes" -> st.spillBytes,
        "peak_exec_mem_mb" -> st.peakMem / 1048576.0,
        "stages_seen" -> st.stageTasks.toSeq.sortBy(_._1).map { case (id, (n, read)) =>
          Seq(id, n, read) })
    }).getOrElse(Nil)
    val streaming = progress.map(_.bySpan.toSeq.sortBy(_._1).map { case (id, ps) =>
      id.toString -> ps.map { case (d, rows) => obj(("input_rows" -> rows) +: d.toSeq.sorted: _*) }
    }).getOrElse(Nil)
    val doc = obj(
      "workload" -> name,
      "setup_s" -> setupS,
      "items_per_op" -> wl.itemsPerOp,
      "ops" -> ops,
      "spans" -> spans,
      "spark" -> obj(sparkBySpan: _*),
      "streaming" -> obj(streaming: _*),
      "run_gauges" -> obj(runGauges.toSeq.sorted: _*),
      "jvm" -> obj(
        "heap_after_warmup_mb" -> afterWarmup._1, "heap_end_mb" -> atEnd._1,
        "persistent_rdds_after_warmup" -> afterWarmup._2, "persistent_rdds_end" -> atEnd._2,
        "temp_views_after_warmup" -> afterWarmup._3, "temp_views_end" -> atEnd._3),
      "env" -> obj(
        "cores" -> cores,
        "host_steal_pct" -> stealPct,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version))
    new ObjectMapper().writeValue(new File(args("out")), doc)
    spark.stop()
  }

  private val MinTimedOps = 3

  /** (steal, total) CPU ticks of the whole machine from /proc/stat, where
    * the kernel has it. Steal is time a hypervisor gave this machine's CPUs
    * to other guests while they had work; it slows every operation. */
  private def hostTicks(): Option[(Long, Long)] = {
    val stat = new File("/proc/stat")
    if (!stat.canRead) None
    else {
      val src = scala.io.Source.fromFile(stat)
      try {
        // user nice system idle iowait irq softirq steal (guest time is
        // already counted in user and nice)
        val ticks = src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
        Some((ticks.lift(7).getOrElse(0L), ticks.sum))
      } finally src.close()
    }
  }

  /** CPU time of the whole JVM (all threads, JIT and GC included). */
  private def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** A JSON object for Jackson to write. Scala sequences become lists, and
    * a number that is not finite becomes null. */
  private def obj(kvs: (String, Any)*): java.util.Map[String, Any] = {
    def value(v: Any): Any = v match {
      case d: Double if d.isNaN || d.isInfinite => null
      case xs: collection.Seq[_] => xs.map(value).asJava
      case other => other
    }
    val m = new java.util.LinkedHashMap[String, Any]
    kvs.foreach { case (k, v) => m.put(k, value(v)) }
    m
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** (heap used after a full GC in MB, persistent RDDs, temporary views). */
  private def snapshot(spark: SparkSession): (Double, Int, Int) = {
    System.gc(); System.gc()
    val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    (mem, spark.sparkContext.getPersistentRDDs.size,
      spark.catalog.listTables().collect().count(_.isTemporary))
  }
}
