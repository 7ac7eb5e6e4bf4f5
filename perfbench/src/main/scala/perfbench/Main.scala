package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** The engine benchmark: one workload per process.
  *
  * {{{
  * perfbench.Main --root <checkout> --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * perfbench.Main --root <checkout> --workload <name> --pin 1
  * }}}
  *
  * Set-up builds the session, the workload's inputs and runs untimed
  * warm-up passes. Timed passes then repeat until `--seconds` have passed,
  * and an untimed check compares the outputs with their truth. The last
  * stdout line is the result: end-to-end metrics with `--trace 0`; with
  * `--trace 1`, per-layer metrics from traced passes, which alternate
  * with untraced ones so the run also measures tracing overhead.
  * `--pin 1` prints each catalog item's result fingerprint instead.
  */
object Main {

  val PerLayer: Seq[(String, String)] = Seq(
    "catalog.build_s" -> "s", "catalog.build_jobs" -> "count", "catalog.action_s" -> "s",
    "pipelines.build_s" -> "s",
    "sources.scan_s" -> "s", "sources.bytes_read" -> "bytes", "sources.records_read" -> "count",
    "sources.sink_s" -> "s", "sources.bytes_written" -> "bytes",
    "sources.records_written" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_busy_s" -> "s", "spark.idle_s" -> "s",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.task_wait_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.task_failures" -> "count", "spark.stage_retries" -> "count",
    "spark.task_success_ratio" -> "ratio",
    "heap_peak_mb" -> "MB", "trace.overhead_s" -> "s") ++
    Workloads.AllItems.flatMap(i =>
      Seq(s"item.$i.wall_s" -> "s", s"item.$i.idle_s" -> "s", s"item.$i.jobs" -> "count"))

  /** One timed pass. `layers` is filled for traced passes only. */
  final case class Pass(index: Int, traced: Boolean, wallS: Double, jobs: Int,
                        failed: Seq[String], heapMb: Double, layers: Map[String, Double],
                        jobSpans: Seq[Span])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, usage(s"missing --$k"))
    val bench = Paths.get(opt("root")).toAbsolutePath.resolve("perfbench")
    val workload = opt("workload")
    if (!Workloads.Names.contains(workload)) usage(s"unknown workload '$workload'")
    val pin = opts.get("pin").contains("1")
    val seed = if (pin) 0L else opt("seed").toLong
    val seconds = if (pin) 0.0 else opt("seconds").toDouble
    val trace = !pin && opt("trace") == "1"

    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", bench.resolve("work/spark-local").toString)
      .config("spark.sql.warehouse.dir", bench.resolve("work/warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", bench.resolve("work/hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val conf = spark.conf.getAll.toSeq.sorted
      println(Json.obj(Seq("conf" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }))))
      val wl = Workloads(workload, spark, bench, seed)
      if (pin) wl match {
        case c: Catalog => c.items.sorted.foreach(q => println(s"$q\t${c.fingerprint(q)}"))
        case _ => usage("--pin applies to the iterative workload")
      }
      else run(spark, wl, bench, seed, seconds, trace)
    } finally spark.stop()
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: perfbench.Main --root <dir> " +
      s"--workload <${Workloads.Names.mkString("|")}> --seed <n> --seconds <s> --trace <0|1>")
    sys.exit(2)
  }

  private def run(spark: SparkSession, wl: Workload, bench: Path, seed: Long,
                  seconds: Double, trace: Boolean): Unit = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val probe = new SparkProbe

    // set-up: inputs, then untimed warm-up passes
    def since(t: Long): String = f"${(System.nanoTime() - t) / 1e9}%.2f s"
    val tPrep = System.nanoTime()
    wl.prepare()
    val tWarm = System.nanoTime()
    val warmFailed = wl.pass(tracer)
    for (_ <- 1 until wl.warmupPasses) wl.pass(tracer)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    if (warmFailed.nonEmpty) System.err.println(s"[perfbench] warm-up failed: $warmFailed")
    System.err.println(s"[perfbench] set-up $setupS s: inputs ${(tWarm - tPrep) / 1e9} s, " +
      s"warm-up ${since(tWarm)}")

    val t0 = System.nanoTime()
    val passes = Vector.newBuilder[Pass]
    var n = 0
    while (n == 0 || (trace && n < 2) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && n % 2 == 1
      passes += timedPass(spark, wl, tracer, probe, n, traced)
      n += 1
    }
    val all = passes.result()
    System.err.println(s"[perfbench] ${all.size} passes in ${since(t0)}: " +
      all.map(p => f"${p.wallS}%.3f").mkString(" "))

    val tCheck = System.nanoTime()
    val checks = wl.check() ++
      (if (trace) Seq(jobCountCheck(all), jobSpanCheck(tracer.spans.toSeq, all.flatMap(_.jobSpans)))
       else Nil)
    System.err.println(s"[perfbench] check ${since(tCheck)}")
    checks.filterNot(_.ok).foreach(c => System.err.println(s"[perfbench] check ${c.name}: ${c.detail}"))
    val attempted = all.map(_ => wl.items.size).sum + checks.size
    val failed = all.map(_.failed.size).sum + checks.count(!_.ok)

    val metrics: Seq[(String, String, Double)] = if (!trace) {
      val wall = median(all.map(_.wallS))
      Seq(("setup_s", "s", setupS), ("wall_s", "s", wall),
        ("ingest_rows_per_s", "rows/s", wl.inputRows / wall))
    } else {
      val traced = all.filter(_.traced)
      val overhead = median(traced.map(_.wallS)) - median(all.filterNot(_.traced).map(_.wallS))
      PerLayer.map { case (k, unit) =>
        val v = k match {
          case "trace.overhead_s" => overhead
          case "heap_peak_mb" => all.map(_.heapMb).max
          case _ => median(traced.map(_.layers.getOrElse(k, 0.0)))
        }
        (k, unit, v)
      }
    }
    if (trace) writeTrace(bench, wl, seed, tracer, all, checks)
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, u, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }

  private def listen(spark: SparkSession, probe: SparkProbe): Unit = {
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
  }

  private def unlisten(spark: SparkSession, probe: SparkProbe): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.listenerManager.unregister(probe)
    spark.sparkContext.removeSparkListener(probe)
  }

  private def timedPass(spark: SparkSession, wl: Workload, tracer: Tracer, probe: SparkProbe,
                        index: Int, traced: Boolean): Pass = {
    val sc = spark.sparkContext
    if (traced) { listen(spark, probe); probe.take() }
    tracer.enabled = traced
    val firstSpan = tracer.spans.size
    val jobs0 = PerfbenchBridge.jobsSubmitted(sc)
    val t0 = System.nanoTime()
    val failed = tracer.span("pass", s"pass $index")(wl.pass(tracer))
    val wallS = (System.nanoTime() - t0) / 1e9
    val jobCount = PerfbenchBridge.jobsSubmitted(sc) - jobs0
    tracer.enabled = false
    val (layers, js) = if (!traced) (Map.empty[String, Double], Nil) else {
      unlisten(spark, probe)
      val (totals, jobs) = probe.take()
      val js = jobs.map(_.span)
      (layerMetrics(wl, tracer.spans.drop(firstSpan).toSeq, js, totals), js)
    }
    System.gc()
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum / 1048576.0
    Pass(index, traced, wallS, jobCount, failed, heapMb, layers, js)
  }

  /** The per-layer figures of one traced pass. */
  def layerMetrics(wl: Workload, spans: Seq[Span], jobs: Seq[Span],
                   t: SparkTotals): Map[String, Double] = {
    val catalog = wl.isInstanceOf[Catalog]
    val us = 1e-6
    def kind(k: String): Double = spans.filter(_.kind == k).map(_.dur).sum * us
    val kindOf = spans.map(s => s.id -> s.kind).toMap
    val pass = spans.find(_.kind == "pass").get
    val busy = Intervals.coveredWithin(pass.start, pass.end, jobs.map(j => (j.start, j.end)))
    val items = spans.filter(_.kind == "item").groupBy(_.name).map { case (name, its) =>
      val mine = its.map(i => i -> jobs.filter(_.trace == i.id))
      val wall = its.map(_.dur).sum
      val idle = mine.map { case (i, js) =>
        i.dur - Intervals.coveredWithin(i.start, i.end, js.map(j => (j.start, j.end))) }.sum
      Seq(s"item.$name.wall_s" -> wall * us, s"item.$name.idle_s" -> idle * us,
        s"item.$name.jobs" -> mine.map(_._2.size).sum.toDouble)
    }.flatten
    Map(
      "catalog.build_s" -> (if (catalog) kind("build") else 0.0),
      "catalog.build_jobs" ->
        (if (catalog) jobs.count(j => kindOf.get(j.parent).contains("build")).toDouble else 0.0),
      "catalog.action_s" -> (if (catalog) kind("action") else 0.0),
      "pipelines.build_s" -> (if (catalog) 0.0 else kind("build")),
      "sources.scan_s" -> kind("scan"),
      "sources.bytes_read" -> t.bytesRead.toDouble,
      "sources.records_read" -> t.recordsRead.toDouble,
      "sources.sink_s" -> kind("sink"),
      "sources.bytes_written" -> t.bytesWritten.toDouble,
      "sources.records_written" -> t.recordsWritten.toDouble,
      "catalyst.analysis_s" -> t.analysisMs / 1e3,
      "catalyst.optimization_s" -> t.optimizationMs / 1e3,
      "catalyst.planning_s" -> t.planningMs / 1e3,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.job_busy_s" -> busy * us,
      "spark.idle_s" -> (pass.dur - busy) * us,
      "spark.task_run_s" -> t.taskRunMs / 1e3,
      "spark.task_cpu_s" -> t.taskCpuNs / 1e9,
      "spark.gc_s" -> t.gcMs / 1e3,
      "spark.task_wait_s" -> t.taskWaitMs / 1e3,
      "spark.shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble,
      "spark.shuffle_read_bytes" -> t.shuffleReadBytes.toDouble,
      "spark.spill_bytes" -> t.spillBytes.toDouble,
      "spark.task_failures" -> t.taskFailures.toDouble,
      "spark.stage_retries" -> t.stageRetries.toDouble,
      "spark.task_success_ratio" ->
        (if (t.tasks == 0) 1.0 else (t.tasks - t.taskFailures).toDouble / t.tasks)) ++ items
  }

  /** Tracing must not change what Spark runs: every pass, traced or not,
    * submits the same number of jobs, and the listener sees each of them. */
  def jobCountCheck(passes: Seq[Pass]): Check = {
    val seen = passes.filter(_.traced).map(_.layers("spark.jobs").toInt)
    Check("trace.jobs", passes.map(_.jobs).distinct.size == 1 && seen.forall(_ == passes.head.jobs),
      s"scheduler ${passes.map(_.jobs).mkString(",")}; listener ${seen.mkString(",")}")
  }

  /** Spark stamps its job events in whole milliseconds. */
  val JobSlackUs = 5000L

  /** Every job the listener saw lies inside the span that was open on the
    * thread that submitted it, within [[JobSlackUs]], and that span is of
    * the job's item. Job times come from Spark's event clock and span
    * times from the tracer's, so this checks both the linking and the
    * alignment of the two clocks. */
  def jobSpanCheck(spans: Seq[Span], jobs: Seq[Span]): Check = {
    val byId = spans.map(s => s.id -> s).toMap
    val off = jobs.filterNot(j => byId.get(j.parent).exists(p => p.trace == j.trace &&
      j.start >= p.start - JobSlackUs && j.end <= p.end + JobSlackUs))
    Check("trace.jobs_in_span", off.isEmpty,
      s"${off.size} of ${jobs.size} jobs outside the span that submitted them" +
        off.headOption.map(j => s", first ${j.name} [${j.start}, ${j.end}] under " +
          byId.get(j.parent).map(p => s"${p.kind} ${p.name} [${p.start}, ${p.end}]")
            .getOrElse(s"missing span ${j.parent}")).getOrElse(""))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def writeTrace(bench: Path, wl: Workload, seed: Long, tracer: Tracer,
                         passes: Seq[Pass], checks: Seq[Check]): Unit = {
    val spans = tracer.spans.toSeq ++ passes.flatMap(_.jobSpans)
    val self = Intervals.selfTimes(spans)
    val out = bench.resolve(s"work/trace-${wl.name}-$seed.json")
    Files.createDirectories(out.getParent)
    Files.writeString(out, Json.obj(Seq(
      "workload" -> Json.str(wl.name),
      "seed" -> seed.toString,
      "passes" -> Json.arr(passes.map(p => Json.obj(Seq(
        "pass" -> p.index.toString, "traced" -> p.traced.toString,
        "wall_s" -> Json.num(p.wallS), "jobs" -> p.jobs.toString,
        "failed" -> Json.arr(p.failed.map(Json.str)))))),
      "checks" -> Json.arr(checks.map(c => Json.obj(Seq(
        "name" -> Json.str(c.name), "ok" -> c.ok.toString, "detail" -> Json.str(c.detail))))),
      "spans" -> Json.arr(spans.sortBy(s => (s.start, s.id)).map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "trace" -> s.trace.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_us" -> s.start.toString, "end_us" -> s.end.toString,
        "self_us" -> self(s.id).toString)))))) + "\n")
    System.err.println(s"[perfbench] trace written to $out")
  }
}

/** Just enough JSON for the benchmark's output. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
