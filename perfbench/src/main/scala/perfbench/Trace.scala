package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval in microseconds since the epoch; `parent` is -1 for a
  * root. `counts` holds the layer counts attributed to the span.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      start: Long, end: Long, counts: Map[String, Double] = Map.empty) {
  def dur: Long = end - start
}

object Spans {

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var (s, e) = (0L, 0L)
    var open = false
    clipped.foreach { case (a, b) =>
      if (open && a <= e) e = math.max(e, b)
      else {
        if (open) total += e - s
        s = a; e = b; open = true
      }
    }
    if (open) total += e - s
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover (overlapping children are counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)), s.start, s.end))
    }.toMap
  }

  /** The deepest span containing time `t`, or -1. */
  def deepest(spans: Seq[Span], t: Long): Int = {
    val kids = spans.groupBy(_.parent)
    @annotation.tailrec
    def down(id: Int): Int =
      kids.getOrElse(id, Nil).find(k => k.start <= t && t <= k.end) match {
        case Some(k) => down(k.id)
        case None => id
      }
    down(-1)
  }

  /** Adds each span's counts into every ancestor: sums, except keys
    * starting with "max." (maxima) and "jvm." (sampled at the span's own
    * boundaries, so already inclusive; left as they are).
    */
  def rollUp(spans: Seq[Span]): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    val acc = mutable.Map[Int, Map[String, Double]]()
    spans.foreach(s => acc(s.id) = s.counts)
    spans.foreach { s =>
      val own = s.counts.filter(!_._1.startsWith("jvm."))
      var p = s.parent
      while (p >= 0) {
        val cur = acc(p)
        acc(p) = own.foldLeft(cur) { case (m, (k, v)) =>
          m.updated(k, if (k.startsWith("max.")) math.max(m.getOrElse(k, 0.0), v)
                       else m.getOrElse(k, 0.0) + v)
        }
        p = byId(p).parent
      }
    }
    spans.map(s => s.copy(counts = acc(s.id)))
  }

  def descendantOf(byId: Map[Int, Span], s: Span, ancestors: Set[Int]): Boolean = {
    var p = s.parent
    while (p >= 0 && !ancestors(p)) p = byId(p).parent
    p >= 0
  }
}

/** Records benchmark spans around the calls into each layer and, when
  * enabled, the counts a SparkListener, a QueryExecutionListener and a
  * WARN-line appender observe. Everything stays in memory until [[spans]].
  */
final class Tracer(val enabled: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() * 1000L
  def now: Long = epoch0 + (System.nanoTime() - nano0) / 1000L

  private val done = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private val extra = mutable.Map[Int, Map[String, Double]]()
  private var nextId = 0

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val c0 = Tracer.jvmCounters()
      val t0 = now
      stack.push(id)
      try body
      finally {
        stack.pop()
        val t1 = now
        val c1 = Tracer.jvmCounters()
        val d = c1.map { case (k, v) => k -> (v - c0(k)) }
        done += Span(id, parent, name, layer, t0, t1, d ++ extra.remove(id).getOrElse(Map.empty))
      }
    }

  /** Adds `v` to count `key` of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach { id =>
      val m = extra.getOrElse(id, Map.empty)
      extra(id) = m.updated(key, m.getOrElse(key, 0.0) + v)
    }

  // ---- listener records (written on the listener-bus thread) ----
  private final class JobRec(val start: Long, val listed: Int) {
    var end: Long = start
    var submitted = 0
    val m = mutable.Map[String, Double]().withDefaultValue(0.0)
  }
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val phases = mutable.ArrayBuffer[(String, Long, Long)]()
  private val seenPhase = mutable.Set[(Int, String)]()
  private val actions = mutable.ArrayBuffer[Long]()
  private val warns = new ConcurrentLinkedQueue[java.lang.Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = new JobRec(e.time * 1000L, e.stageIds.size)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      if (e.stageInfo.attemptNumber() == 0)
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.submitted += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.m("tasks") += 1
        if (e.reason != org.apache.spark.Success) j.m("failed_tasks") += 1
        val t = e.taskMetrics
        if (t != null) {
          j.m("task_ms") += t.executorRunTime
          j.m("cpu_ns") += t.executorCpuTime
          j.m("gc_ms") += t.jvmGCTime
          j.m("result_b") += t.resultSize
          j.m("shuffle_write_b") += t.shuffleWriteMetrics.bytesWritten
          j.m("shuffle_read_b") += t.shuffleReadMetrics.totalBytesRead
          j.m("spill_b") += t.diskBytesSpilled
          j.m("input_b") += t.inputMetrics.bytesRead
          j.m("output_b") += t.outputMetrics.bytesWritten
          j.m("records_written") += t.outputMetrics.recordsWritten
          j.m("max.peak_exec_mem_b") = math.max(j.m("max.peak_exec_mem_b"), t.peakExecutionMemory.toDouble)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time * 1000L)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val tracker = qe.tracker
      val ps = tracker.phases
      // an action's physical planning starts right before it executes
      ps.get("planning").orElse(ps.values.maxByOption(_.startTimeMs))
        .foreach(p => actions += p.startTimeMs * 1000L)
      // a Dataset reports its tracker on every action; count each phase once
      ps.foreach { case (phase, p) =>
        if (seenPhase.add((System.identityHashCode(tracker), phase)))
          phases += ((phase, p.startTimeMs * 1000L, p.endTimeMs * 1000L))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private lazy val appender = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import org.apache.logging.log4j.{Level, LogManager}
    val a = new AbstractAppender("perfbench-warn", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) warns.add(e.getTimeMillis * 1000L)
    }
    a.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(a, Level.WARN, null)
    ctx.updateLoggers()
    a
  }

  /** Starts listening on `spark` (no-op when tracing is off). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    appender
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** All spans: the benchmark's own, plus one per Spark job (layer "exec")
    * and per planning phase (layer "plan"), each placed under the deepest
    * benchmark span containing its midpoint, with counts rolled up.
    * Drains the listener bus of `spark` first.
    */
  def spans(spark: SparkSession): Seq[Span] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val own = done.toSeq
    def at(t: Long) = Spans.deepest(own, t)
    var id = nextId
    def fresh() = { id += 1; id - 1 }
    val derived = Tracer.this.synchronized {
      val js = jobs.toSeq.map { case (jid, j) =>
        val counts = j.m.toMap ++ Map(
          "jobs" -> 1.0, "stages" -> j.submitted.toDouble,
          "stages_skipped" -> (j.listed - j.submitted).toDouble)
        Span(fresh(), at((j.start + j.end) / 2), s"job.$jid", "exec", j.start, j.end, counts)
      }
      val ps = phases.toSeq.map { case (phase, s, e) =>
        Span(fresh(), at((s + e) / 2), s"plan.$phase", "plan", s, e,
          Map(s"${phase}_ms" -> (e - s) / 1000.0))
      }
      val marks =
        actions.toSeq.map(t => at(t) -> "actions") ++
          warns.asScala.toSeq.map(t => at(t.longValue) -> "warn_lines")
      (js ++ ps, marks.filter(_._1 >= 0).groupBy(identity).map { case (k, v) => k -> v.size.toDouble })
    }
    val (events, marks) = derived
    val withMarks = own.map { s =>
      s.copy(counts = marks.collect { case ((sid, key), n) if sid == s.id => key -> n }
        .foldLeft(s.counts) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0.0) + v) })
    }
    Spans.rollUp(withMarks ++ events)
  }
}

object Tracer {
  /** JVM-wide counters sampled at span boundaries (keys start with "jvm."). */
  def jvmCounters(): Map[String, Double] = {
    val jit = ManagementFactory.getCompilationMXBean
    Map(
      "jvm.jit_ms" -> (if (jit != null) jit.getTotalCompilationTime.toDouble else 0.0),
      "jvm.gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum.toDouble,
      "jvm.codegen_ns" -> org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compileTime.toDouble,
      "jvm.codegen_classes" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toDouble)
  }
}
