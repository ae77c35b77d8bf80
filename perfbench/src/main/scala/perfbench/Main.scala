package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds the classes and
  * calls this with `--mode`:
  *   - `run`: set up three times, then one cold pass and warm passes of
  *     a workload for `--seconds`, checking every output's checksum
  *     against `--expected`; writes the result record to `--out`;
  *   - `record`: run each query of `--workloads` once and write
  *     `name<TAB>checksum` lines to `--out`;
  *   - `compare`: time `count()` against the full-output checksum for each
  *     query of `--workloads`, and write a table to `--out`;
  *   - `gen`: write the input tables for `--seed` into `--data`.
  * All paths are absolute; nothing is written outside them and `--work`.
  */
object Main {

  final class Ctx(a: Map[String, String]) {
    val data: String = a("data")
    val work: String = a("work")
    val nproc: Int = a.getOrElse("nproc", Runtime.getRuntime.availableProcessors.toString).toInt
    val tracer = new Tracer(a.getOrElse("trace", "0") == "1")
    /** Expected checksum per query; None when recording them. */
    val expected: Option[Map[String, String]] = a.get("expected").map(p =>
      Files.readAllLines(Paths.get(p)).asScala.toSeq
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val f = l.split("\t"); f(0) -> f(1) }.toMap)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    a("mode") match {
      case "gen" => DataGen.write(a("data"), a("seed").toLong, a("sf").toDouble)
      case "run" => run(new Ctx(a), Workloads.byName(a("workload")), a("seed").toLong,
        a("seconds").toDouble, a("out"))
      case "record" => record(new Ctx(a), queries(a), a("out"))
      case "compare" => compare(new Ctx(a), queries(a), a("out"))
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  /** Every query of `--workloads w1,w2,…`. */
  private def queries(a: Map[String, String]): Seq[String] =
    a("workloads").split(",").toSeq.flatMap(w => Workloads.byName(w).queries).distinct

  /** Same session config as the program's Bench/Verify mains, plus local
    * and warehouse dirs inside the benchmark's work dir.
    */
  def session(c: Ctx): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${c.nproc}]")
      .config("spark.sql.shuffle.partitions", c.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    c.tracer.attach(spark)
    spark
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  final case class QRun(name: String, pass: Int, build: Double, action: Double,
                        total: Double, sum: String, ok: Boolean)

  /** Builds, checksums and releases one query, never throwing. `ok` means
    * it ran and (unless recording) matched the expected sum.
    */
  def runQuery(c: Ctx, spark: SparkSession, name: String, pass: Int): QRun =
    c.tracer.span(s"query.$name", "query") {
      val t0 = System.nanoTime()
      var (build, action) = (0.0, 0.0)
      var sum = "error"
      try {
        val df = c.tracer.span(s"query.$name.build", "build")(
          graft.SparkEntry.queries(name)(spark, c.data))
        build = secs(t0)
        val t1 = System.nanoTime()
        sum = c.tracer.span(s"query.$name.action", "action")(Checksum.of(df)).toString
        action = secs(t1)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name FAILED: $e")
          e.getStackTrace.take(8).foreach(f => System.err.println(s"[perfbench]   at $f"))
      }
      c.tracer.span(s"query.$name.release", "caches") {
        val before = if (c.tracer.enabled) spark.sparkContext.getPersistentRDDs.size else 0
        graft.ops.Caches.releaseAll()
        if (c.tracer.enabled)
          c.tracer.count("persisted", before - spark.sparkContext.getPersistentRDDs.size)
      }
      val ok = sum != "error" && c.expected.forall(_.get(name).contains(sum))
      if (sum != "error" && !ok)
        System.err.println(s"[perfbench] $name checksum $sum != expected ${c.expected.flatMap(_.get(name))}")
      QRun(name, pass, build, action, secs(t0), sum, ok)
    }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def run(c: Ctx, w: Workload, seed: Long, seconds: Double, out: String): Unit = {
    require(w.queries.nonEmpty, s"workload ${w.name} has no queries")
    val jvmStartToMain =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val scratch = Paths.get(graft.Q.scratch)
    val scratchExisted = Files.exists(scratch)
    val tracer = c.tracer

    // Set-up, repeated: session start plus the Tables views the workload reads.
    var spark: SparkSession = null
    val viewTimes = mutable.ArrayBuffer[Double]()
    val setupTimes = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      tracer.span("setup", "setup") {
        spark = tracer.span("setup.session", "session")(session(c))
        val v0 = System.nanoTime()
        w.views.foreach { v =>
          tracer.span(s"setup.tables.$v", "tables")(Workloads.views(v)(spark, c.data).count())
        }
        viewTimes += secs(v0)
      }
      secs(t0)
    }
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

    // One cold pass, then warm passes until the time is up (at least minWarm).
    val rng = new scala.util.Random(seed)
    val minWarm = Workloads.minWarmPasses
    val runs = mutable.ArrayBuffer[QRun]()
    val passTimes = mutable.ArrayBuffer[Double]()
    val m0 = System.nanoTime()
    def more = {
      val warm = passTimes.size - 1
      warm < minWarm || secs(m0) + Stats.median(passTimes.drop(1).toSeq) <= seconds
    }
    while (passTimes.isEmpty || more) {
      val p = passTimes.size
      val t0 = System.nanoTime()
      tracer.span(s"pass.$p", "pass") {
        rng.shuffle(w.queries).foreach(q => runs += runQuery(c, spark, q, p))
      }
      passTimes += secs(t0)
    }
    val measured = secs(m0)

    val warmRuns = runs.filter(_.pass > 0).toSeq
    val samples = warmRuns.map(_.total)
    val level = Stats.tailLevel(minWarm * w.queries.size)
    val failed = runs.count(!_.ok)
    val scratchTouched = !scratchExisted && Files.exists(scratch)
    if (scratchTouched)
      System.err.println(s"[perfbench] a query wrote outside the checkout: $scratch")

    val peakRss = peakRssMb()
    val e2e = Map(
      "setup_s" -> Stats.median(setupTimes),
      "cold_pass_s" -> passTimes.head,
      "pass_s" -> Stats.median(passTimes.drop(1).toSeq),
      "query_p50_s" -> Stats.percentile(samples, 0.5),
      "query_p90_s" -> Stats.percentile(samples, level),
      "ok_frac" -> (runs.size - failed).toDouble / runs.size)
    val sampleCounts = Map(
      "setup_s" -> setupTimes.size, "cold_pass_s" -> 1, "pass_s" -> (passTimes.size - 1),
      "query_p50_s" -> samples.size, "query_p90_s" -> samples.size,
      "ok_frac" -> runs.size)

    val traced: Map[String, Any] =
      if (!tracer.enabled) Map.empty
      else {
        val spans = tracer.spans(spark)
        val trace = s"$out.spans.json"
        Files.writeString(Paths.get(trace), json.writeValueAsString(spans))
        val layers = Layers.metrics(spans, c.nproc, Stats.median(viewTimes.toSeq), cachedMb) +
          ("jvm.peak_rss_mb" -> peakRss)
        Map("per_layer" -> layers, "self_s_per_warm_pass" -> Layers.selfByLayer(spans),
            "spans_file" -> trace)
      }

    val perQuery = runs.groupBy(_.name).map { case (q, rs) =>
      def warm(f: QRun => Double) = Stats.median(rs.filter(_.pass > 0).map(f).toSeq)
      q -> Map(
        "cold_s" -> rs.find(_.pass == 0).get.total, "warm_median_s" -> warm(_.total),
        "build_median_s" -> warm(_.build), "action_median_s" -> warm(_.action),
        "checksum" -> rs.head.sum, "failed" -> rs.count(!_.ok))
    }
    spark.stop()

    Files.writeString(Paths.get(out), json.writeValueAsString(Map(
      "workload" -> w.name, "seed" -> seed, "trace" -> tracer.enabled,
      "correct" -> (failed == 0 && !scratchTouched),
      "attempted" -> runs.size, "failed" -> failed,
      "end_to_end" -> e2e, "samples" -> sampleCounts,
      "query_p90_level" -> level,
      "queries" -> w.queries.size, "views" -> w.views,
      "setup_times_s" -> setupTimes, "view_times_s" -> viewTimes,
      "jvm_start_to_main_s" -> jvmStartToMain, "peak_rss_mb" -> peakRss,
      "pass_times_s" -> passTimes, "measured_s" -> measured,
      "per_query" -> perQuery) ++ traced))
  }

  def record(c: Ctx, queries: Seq[String], out: String): Unit = {
    val spark = session(c)
    val lines = queries.sorted.map { q =>
      val r = runQuery(c, spark, q, 0)
      s"$q\t${r.sum}"
    }
    spark.stop()
    Files.write(Paths.get(out), lines.asJava)
  }

  /** Per query: one warm-up, then three alternating count()/full-output
    * pairs; medians.
    */
  def compare(c: Ctx, queries: Seq[String], out: String): Unit = {
    val spark = session(c)
    def time(f: => Any): Double = { val t0 = System.nanoTime(); f; secs(t0) }
    val rows = queries.map { q =>
      val fn = graft.SparkEntry.queries(q)
      runQuery(c, spark, q, 0) // warm-up
      val pairs = (1 to 3).map { _ =>
        val cnt = time { try fn(spark, c.data).count() finally graft.ops.Caches.releaseAll() }
        val full = time { try Checksum.of(fn(spark, c.data)) finally graft.ops.Caches.releaseAll() }
        (cnt, full)
      }
      val (cnt, full) = (Stats.median(pairs.map(_._1)), Stats.median(pairs.map(_._2)))
      System.err.println(f"[perfbench] $q count=$cnt%.3f full=$full%.3f")
      f"$q\t$cnt%.3f\t$full%.3f"
    }
    spark.stop()
    Files.write(Paths.get(out), ("query\tcount_s\tfull_s" +: rows).asJava)
  }
}
