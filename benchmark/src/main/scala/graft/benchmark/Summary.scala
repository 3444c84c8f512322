package graft.benchmark

import java.io.File
import java.nio.file.Files

import graft.benchmark.Main.{OpResult, RunResult}

/** One op's wall split into layers (milliseconds): Catalyst phases,
  * driver work while no job runs, task time per core, and what none of
  * these explains. The parts are disjoint when `driverSelf` and
  * `unattributed` are not negative; a negative one means time was
  * charged to two layers, and is kept so that it shows.
  */
final case class Split(wall: Double, catalyst: Double, driverSelf: Double, tasks: Double, unattributed: Double)

object Split {
  /** `jobs` are the op's job intervals, clipped to the op's window. */
  def apply(wall: Double, jobs: Seq[(Double, Double)], c: OpCounters, cores: Int): Split = {
    val catalyst = c.catalystMs
    val driverSelf = wall - Tracer.unionLength(jobs) - catalyst
    val tasks = (c.runMs + c.deserMs) / cores
    Split(wall, catalyst, driverSelf, tasks, wall - catalyst - driverSelf - tasks)
  }
}

/** A named metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

object Summary {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no values")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  /** The wall of a typical pass: for each op of a pass, the median of
    * its walls over the run, housekeeping after it included, summed.
    * Medians per op keep one slow sample out; the sum weighs each op as
    * a pass does.
    */
  def passWall(r: RunResult): Double = {
    val byName = r.ops.groupBy(_.name)
    r.passNames.flatMap(byName.get).map(os => median(os.map(o => o.wallMs + o.housekeepingMs))).sum
  }

  /** Passes the run made, counted in ops; per-layer metrics are per pass. */
  def passes(r: RunResult): Double = math.max(1.0, r.ops.size.toDouble / math.max(1, r.passNames.size))

  /** The latency percentile reported as the tail, by nearest rank: the
    * smallest observed latency that this share of ops stays within. A
    * run makes a handful of ops, too few to interpolate a tail between.
    */
  val TailPercentile = 90.0

  def nearestRank(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no values")
    xs.sorted.apply(math.max(0, math.ceil(p / 100.0 * xs.size).toInt - 1))
  }

  def endToEnd(r: RunResult): Seq[Metric] = {
    val walls = r.ops.map(_.wallMs)
    Seq(
      Metric("setup_s", r.setupMs / 1e3, "s"),
      Metric("run_s", passWall(r) / 1e3, "s"),
      Metric("query_p50_s", median(walls) / 1e3, "s"),
      Metric("query_tail_s", nearestRank(walls, TailPercentile) / 1e3, "s"),
      Metric("live_heap_mb", r.liveHeapBytes / 1048576.0, "MB"))
  }

  /** Each op with its counters and layer split; traced runs only. */
  def splits(r: RunResult): Seq[(OpResult, OpCounters, Split)] = {
    val t = r.tracer
    val opSpans = t.spans.filter(_.kind == "op").map(s => s.id -> s).toMap
    val jobs = t.spans.filter(_.kind == "job").groupBy(_.op)
    r.ops.flatMap { o =>
      for (span <- opSpans.get(o.opSpan); c <- t.counters.get(o.opSpan)) yield {
        val clipped = jobs.getOrElse(o.opSpan, Nil).map(j => (math.max(j.start, span.start), math.min(j.end, span.end)))
          .filter { case (s, e) => e > s }
        (o, c, Split(span.ms, clipped.toSeq, c, r.args.cores))
      }
    }
  }

  /** Layer metrics measured on every workload, per pass. */
  def perLayer(r: RunResult): Seq[Metric] = {
    val rows = splits(r)
    val passes = Summary.passes(r)
    def sum(f: OpCounters => Double): Double = rows.map(x => f(x._2)).sum
    def perPass(f: OpCounters => Double): Double = sum(f) / passes
    val mb = 1048576.0
    val jobTime = rows.map { case (_, c, s) => s.wall - s.catalyst - s.driverSelf }.sum
    val tasks = sum(_.tasks.toDouble)
    Seq(
      Metric("session.start_s", r.setupPhases("session.start") / 1e3, "s"),
      Metric("session.warm_pass_s", r.warmPassMs / 1e3, "s"),
      Metric("catalyst.analysis_s", perPass(_.analysisMs) / 1e3, "s"),
      Metric("catalyst.optimization_s", perPass(_.optimizationMs) / 1e3, "s"),
      Metric("catalyst.planning_s", perPass(_.planningMs) / 1e3, "s"),
      Metric("catalyst.actions", perPass(_.actions.toDouble), "count"),
      Metric("catalyst.exchanges", perPass(_.exchanges.toDouble), "count"),
      Metric("scheduler.jobs", perPass(_.jobs.toDouble), "count"),
      Metric("scheduler.stages", perPass(_.stages.toDouble), "count"),
      Metric("scheduler.tasks", perPass(_.tasks.toDouble), "count"),
      Metric("scheduler.task_delay_s", perPass(_.schedDelayMs) / 1e3, "s"),
      Metric("scheduler.useful_task_frac", if (tasks == 0) 0.0 else sum(_.usefulTasks.toDouble) / tasks, "ratio"),
      Metric("scheduler.unattributed_s", rows.map(_._3.unattributed).sum / passes / 1e3, "s"),
      Metric("executor.run_s", perPass(_.runMs) / 1e3, "s"),
      Metric("executor.cpu_s", perPass(_.cpuNs) / 1e9, "s"),
      Metric("executor.gc_s", perPass(_.gcMs) / 1e3, "s"),
      Metric("executor.deser_s", perPass(_.deserMs) / 1e3, "s"),
      Metric("executor.core_busy_frac",
        if (jobTime <= 0) 0.0 else sum(_.durationMs) / (r.args.cores * jobTime), "ratio"),
      Metric("shuffle.write_mb", perPass(_.shuffleWriteBytes) / mb, "MB"),
      Metric("shuffle.read_mb", perPass(_.shuffleReadBytes) / mb, "MB"),
      Metric("shuffle.write_s", perPass(_.shuffleWriteNs) / 1e9, "s"),
      Metric("driver.self_s", rows.map(_._3.driverSelf).sum / passes / 1e3, "s"),
      Metric("storage.cached_peak_mb", r.tracer.cachedPeak / mb, "MB"),
      Metric("sources.input_mb", perPass(_.inputBytes) / mb, "MB"),
      Metric("sources.input_records", perPass(_.inputRecords), "count"))
  }

  /** Layer metrics of the modules only some workloads call, per pass:
    * every op phase's wall and the jobs started in it, the operator
    * families, the stream and the sink; and, when tracing, the task
    * counters that stay zero in local mode. Reported in the trace file
    * and on standard error.
    */
  def moduleLayers(r: RunResult): Seq[Metric] = {
    val passes = Summary.passes(r)
    val t = r.tracer
    val phaseNames = r.ops.flatMap(_.phases.keys).distinct.sorted
    val phaseSpans = t.spans.filter(_.kind == "phase").map(s => s.id -> s.name).toMap
    val jobsByPhase = t.spans.filter(_.kind == "job").flatMap(j => phaseSpans.get(j.parent)).groupBy(identity)
    val phases = phaseNames.flatMap { p =>
      Metric(s"${p}_s", r.ops.map(_.phases.getOrElse(p, 0.0)).sum / passes / 1e3, "s") +:
        (if (t.enabled) Seq(Metric(s"${p}.jobs", jobsByPhase.get(p).fold(0)(_.size) / passes, "count")) else Nil)
    }
    val families = r.ops.map(_.family).distinct.sorted.map { f =>
      Metric(s"ops.${f}_s", r.ops.filter(_.family == f).map(_.wallMs).sum / passes / 1e3, "s")
    }
    val setupOnly = r.setupPhases.get("sinks.bootstrap").map(ms => Metric("sinks.bootstrap_s", ms / 1e3, "s")).toSeq
    val workload = r.workload match {
      case e: EtlLoad =>
        val fact = r.ops.map(_.phases.getOrElse("sinks.jdbc_fact", 0.0)).sum / 1e3
        Seq(Metric("sinks.fact_rows_per_s", if (fact == 0) 0.0 else e.lastFactRows * r.ops.size / fact, "rows/s"))
      case c: CorpusOps => Seq(Metric("streaming.batches", c.stream.lastBatches.toDouble, "count"))
      case _ => Nil
    }
    // Zero on these workloads in local mode, so not in BENCHMARK.json.
    val zero = if (!t.enabled) Nil else {
      def perPass(f: OpCounters => Double): Double = splits(r).map(x => f(x._2)).sum / passes
      Seq(
        Metric("executor.failed_tasks", perPass(_.failedTasks.toDouble), "count"),
        Metric("shuffle.fetch_wait_s", perPass(_.fetchWaitMs) / 1e3, "s"),
        Metric("shuffle.spill_mb", perPass(_.spillBytes) / 1048576.0, "MB"))
    }
    phases ++ families ++ setupOnly ++ workload ++ zero
  }

  private def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a number")
    d.toString
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def metricsJson(ms: Seq[Metric]): String =
    ms.map(m => s"${str(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}").mkString("{", ", ", "}")

  /** The result line: `--trace 0` reports the end-to-end metrics,
    * `--trace 1` the layer metrics measured on every workload. Details
    * go to standard error and, when tracing, to the trace file.
    */
  def json(r: RunResult): String = {
    val failed = r.ops.count(_.failure.nonEmpty)
    val walls = r.ops.map(_.wallMs)
    val beyond = walls.count(_ > nearestRank(walls, TailPercentile))
    System.err.println(
      f"[benchmark] ${r.args.workload} seed ${r.args.seed}: ${passes(r)}%.2f passes, ${r.ops.size} ops, " +
        f"$failed failed, error_rate ${failed.toDouble / r.ops.size}%.4f; query_tail_s is p${TailPercentile}%.0f " +
        f"over ${walls.size} ops ($beyond beyond it)")
    r.ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, os) =>
      System.err.println(f"[benchmark]   op $name: median ${median(os.map(_.wallMs))}%.0f ms over ${os.size}: " +
        os.map(o => f"${o.wallMs}%.0f").mkString(" "))
    }
    val modules = moduleLayers(r)
    modules.foreach(m => System.err.println(f"[benchmark]   ${m.name} = ${m.value}%.4f ${m.unit}"))
    val metrics = if (r.args.trace) perLayer(r) else endToEnd(r)
    if (r.args.trace) writeTrace(r, modules)
    s"{\"correct\": ${failed == 0}, \"attempted\": ${r.ops.size}, \"failed\": $failed, \"metrics\": ${metricsJson(metrics)}}"
  }

  def writeTrace(r: RunResult, modules: Seq[Metric]): Unit = {
    val spans = r.tracer.spans.sortBy(_.start).map { s =>
      s"{\"id\": ${s.id}, \"parent\": ${s.parent}, \"op\": ${s.op}, \"kind\": ${str(s.kind)}, \"name\": ${str(s.name)}, " +
        s"\"start_ms\": ${num(s.start)}, \"end_ms\": ${num(s.end)}}"
    }
    val ops = splits(r).map { case (o, _, s) =>
      val phases = o.phases.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
      s"{\"pass\": ${o.pass}, \"name\": ${str(o.name)}, \"family\": ${str(o.family)}, \"span\": ${o.opSpan}, " +
        s"\"failure\": ${o.failure.fold("null")(str)}, \"phases_ms\": $phases, \"wall_ms\": ${num(s.wall)}, " +
        s"\"catalyst_ms\": ${num(s.catalyst)}, \"driver_self_ms\": ${num(s.driverSelf)}, " +
        s"\"tasks_per_core_ms\": ${num(s.tasks)}, \"unattributed_ms\": ${num(s.unattributed)}}"
    }
    val body = s"{\"workload\": ${str(r.args.workload)}, \"seed\": ${r.args.seed}, \"cores\": ${r.args.cores}, " +
      s"\"end_to_end\": ${metricsJson(endToEnd(r))}, \"per_layer\": ${metricsJson(perLayer(r))}, " +
      s"\"module_layers\": ${metricsJson(modules)}, " +
      s"\"ops\": ${ops.mkString("[\n", ",\n", "]")}, \"spans\": ${spans.mkString("[\n", ",\n", "]")}}\n"
    val f = new File(r.args.work, s"trace-${r.args.workload}-${r.args.seed}.json")
    Files.writeString(f.toPath, body)
    System.err.println(s"[benchmark] trace written to ${f.getPath}")
  }
}
