package perfbench

/** Reduces a traced run's spans to the per-layer metrics. Window: the warm
  * passes (values are per warm pass) except `tables.*` (set-up) and
  * `codegen.*`/`jvm.*` (the cold pass, whose time they move). `self.<layer>_s`
  * is the layer's self time: `build` is eager driver work outside any job
  * or planning phase, `action` the driver's share of the timed action.
  */
object Layers {
  private val MB = 1048576.0

  def metrics(spans: Seq[Span], nproc: Int, tablesBuildS: Double,
              cachedMb: Double): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val passes = spans.filter(_.layer == "pass")
    val cold = passes.find(_.name == "pass.0").get
    val warm = passes.filter(_.id != cold.id)
    val n = warm.size.toDouble
    def under(p: Span, layers: Set[String]) =
      spans.filter(s => layers(s.layer) && Spans.descendantOf(byId, s, Set(p.id)))
    def total(key: String) = warm.map(_.counts.getOrElse(key, 0.0)).sum
    def per(key: String) = total(key) / n
    def inWarm(layer: String) = warm.flatMap(under(_, Set(layer)))
    val wall = warm.map(_.dur).sum / 1e6
    val busy = warm.map { p =>
      Spans.covered(under(p, Set("exec", "plan")).map(s => (s.start, s.end)), p.start, p.end)
    }.sum / 1e6
    val builds = inWarm("build")
    def coldJvm(key: String) = cold.counts.getOrElse(key, 0.0)
    val self = selfByLayer(spans)
    Seq("build", "action", "exec", "plan").map(l => s"self.${l}_s" -> self.getOrElse(l, 0.0)).toMap ++ Map(
      "tables.build_s" -> tablesBuildS,
      "tables.cached_mb" -> cachedMb,
      "build.s" -> builds.map(_.dur).sum / 1e6 / n,
      "build.jobs" -> builds.map(_.counts.getOrElse("jobs", 0.0)).sum / n,
      "build.actions" -> builds.map(_.counts.getOrElse("actions", 0.0)).sum / n,
      "plan.analysis_s" -> per("analysis_ms") / 1e3,
      "plan.optimizer_s" -> per("optimization_ms") / 1e3,
      "plan.physical_s" -> per("planning_ms") / 1e3,
      "plan.actions" -> per("actions"),
      "exec.jobs" -> per("jobs"),
      "exec.stages" -> per("stages"),
      "exec.stages_skipped" -> per("stages_skipped"),
      "exec.tasks" -> per("tasks"),
      "exec.failed_tasks" -> per("failed_tasks"),
      "exec.task_s" -> per("task_ms") / 1e3,
      "exec.cpu_s" -> per("cpu_ns") / 1e9,
      "exec.gc_s" -> per("gc_ms") / 1e3,
      "exec.util" -> total("task_ms") / 1e3 / (nproc * wall),
      "exec.shuffle_write_mb" -> per("shuffle_write_b") / MB,
      "exec.shuffle_read_mb" -> per("shuffle_read_b") / MB,
      "exec.spill_mb" -> per("spill_b") / MB,
      "exec.peak_exec_mem_mb" -> warm.map(_.counts.getOrElse("max.peak_exec_mem_b", 0.0)).max / MB,
      "driver.result_mb" -> per("result_b") / MB,
      "driver.idle_s" -> (wall - busy) / n,
      "io.input_mb" -> per("input_b") / MB,
      "io.output_mb" -> per("output_b") / MB,
      "io.records_written" -> per("records_written"),
      "caches.persisted" -> per("persisted"),
      "caches.release_s" -> inWarm("caches").map(_.dur).sum / 1e6 / n,
      "codegen.compile_s" -> coldJvm("jvm.codegen_ns") / 1e9,
      "codegen.classes" -> coldJvm("jvm.codegen_classes"),
      "jvm.jit_s" -> coldJvm("jvm.jit_ms") / 1e3,
      "jvm.gc_s" -> coldJvm("jvm.gc_ms") / 1e3,
      "log.warn_lines" -> per("warn_lines"))
  }

  /** Self time per layer, seconds per warm pass. */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val warm = spans.filter(s => s.layer == "pass" && s.name != "pass.0").map(_.id).toSet
    val self = Spans.selfTimes(spans)
    spans.filter(s => warm(s.id) || Spans.descendantOf(byId, s, warm))
      .groupBy(_.layer)
      .map { case (layer, ss) => layer -> ss.map(s => self(s.id)).sum / 1e6 / warm.size }
  }
}
