package graft.benchmark

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark driver: one client thread, closed loop, on `local[cores]`
  * with half the machine's cores.
  *
  * {{{
  * Main --workload <etl_load|corpus_ops> --seed <n> --seconds <s> --trace <0|1>
  *      --data <fixture dir> --work <scratch dir>
  * Main --pin <out dir> --data <fixture dir> --work <scratch dir>
  * }}}
  *
  * A run starts the session and sets the workload up (a database
  * bootstrap for `etl_load`), then runs an untimed warm pass of every
  * op; `setup_s` is the time from JVM start to the end of that warm
  * pass, when the first timed op starts. The timed phase then runs the
  * workload's ops, pass after pass in each pass's seeded order, for as
  * many passes as take `--seconds` on a 4-core machine, checking every
  * output, and prints the summary as the last line of standard output.
  * With `--trace 1` it also attributes each op's wall to layers and
  * writes every span to `<work>/trace-<workload>-<seed>.json`.
  */
object Main {
  /** An op running longer than this fails alone; the run goes on. */
  val OpTimeoutS = 60
  /** Seconds after JVM start past which no op starts, and by which
    * every op has ended or timed out, so that the summary prints well
    * inside the three minutes a run may take.
    */
  val LastStartS = 110
  val DeadlineS = 150
  /** Longest wait for the JIT to go quiet after the warm pass. */
  val JitQuietS = 10

  /** Spark cores: half the machine's, so that the JIT and GC threads,
    * the scheduler's event loops and the op thread find a free core. On
    * a 4-core machine local[2] ran the `corpus_ops` pass as fast as
    * local[4], and its spread between seeds fell from 12 % to 7 %.
    */
  val DefaultCores: Int = math.max(1, Runtime.getRuntime.availableProcessors() / 2)

  final case class Args(
      workload: String = "",
      seed: Long = 0,
      seconds: Int = 10,
      trace: Boolean = false,
      data: String = "",
      work: String = "",
      cores: Int = Main.DefaultCores,
      pin: Option[String] = None)

  def parse(argv: Seq[String]): Args = argv match {
    case Seq() => Args()
    case "--workload" +: v +: rest => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest => parse(rest).copy(seconds = v.toInt)
    case "--trace" +: v +: rest => parse(rest).copy(trace = v == "1")
    case "--data" +: v +: rest => parse(rest).copy(data = v)
    case "--work" +: v +: rest => parse(rest).copy(work = v)
    case "--pin" +: v +: rest => parse(rest).copy(pin = Some(v))
    case other => throw new IllegalArgumentException(s"unexpected arguments: ${other.mkString(" ")}")
  }

  def session(cores: Int): SparkSession = {
    val s = GraftSession.local(cores, appName = "graft-benchmark")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    require(new File(a.data).isDirectory, s"fixture directory ${a.data} not found")
    new File(a.work).mkdirs()
    a.pin match {
      case Some(out) => Pin.run(a, out)
      case None =>
        require(Workload.Names.contains(a.workload), s"--workload must be one of ${Workload.Names.mkString(", ")}")
        // A run that cannot finish still reports, as one failed attempt.
        val line = scala.util.Try(Summary.json(run(a, Workload(a.workload, a.seed, a.data, new File(a.work), a.cores))))
          .recover { case e =>
            log(s"run failed: $e")
            """{"correct": false, "attempted": 1, "failed": 1, "metrics": {}}"""
          }.get
        println(line)
    }
    System.exit(0)
  }

  final case class OpResult(
      pass: Int,
      name: String,
      family: String,
      wallMs: Double,
      housekeepingMs: Double,
      failure: Option[String],
      opSpan: Int,
      phases: Map[String, Double])

  final case class RunResult(
      args: Args,
      setupMs: Double,
      setupPhases: Map[String, Double],
      warmPassMs: Double,
      passNames: Seq[String],
      ops: Seq[OpResult],
      liveHeapBytes: Long,
      tracer: Tracer,
      workload: Workload)

  /** Runs workload `wl`. */
  def run(a: Args, wl: Workload): RunResult = {
    val tracer = new Tracer(a.trace)
    val s0 = tracer.nowMs
    val spark = session(a.cores)
    val startMs = tracer.nowMs - s0
    if (a.trace) {
      spark.sparkContext.addSparkListener(tracer.listener)
      spark.listenerManager.register(tracer.queryListener)
    }
    val setupCtx = new Ctx(spark, tracer)
    wl.setUp(setupCtx)
    val setupPhases = setupCtx.phases.toMap + ("session.start" -> startMs)
    log("session started, workload set up")

    // One untimed pass runs every op's cold start outside the timed
    // passes: classes loaded, code generated, the hottest code compiled.
    // Its ops run [[Workload.warmThreads]] at a time to keep the run
    // short; once they all ended, caches are released and the heap is
    // collected, so the first timed op inherits none of their garbage.
    val t1 = tracer.nowMs
    val warmOps = wl.pass(spark, -1)
    val warm = Executors.newFixedThreadPool(math.max(1, math.min(wl.warmThreads(a.cores), warmOps.size)), daemon)
    warmOps.foreach { op =>
      warm.submit(new Runnable {
        def run(): Unit = scala.util.Try(op.body(new Ctx(spark, Tracer.off))()).failed
          .foreach(f => log(s"warm pass: op ${op.name} failed: $f"))
      })
    }
    warm.shutdown()
    if (!warm.awaitTermination(OpTimeoutS, TimeUnit.SECONDS)) {
      log(s"warm pass: ops still running after ${OpTimeoutS}s are cancelled")
      spark.sparkContext.cancelAllJobs()
      warm.shutdownNow()
    }
    wl.housekeeping(spark)
    val warmOpsMs = tracer.nowMs - t1
    System.gc()
    awaitJit()
    log(f"warm pass: ops ${warmOpsMs / 1e3}%.2f s, JIT wait ${(tracer.nowMs - t1 - warmOpsMs) / 1e3}%.2f s")
    val warmPassMs = tracer.nowMs - t1
    // Set-up ends where the first timed op starts, so that work an op
    // does only on its first call is counted here.
    val setupMs = tracer.nowMs - ManagementFactory.getRuntimeMXBean.getStartTime
    log(f"warm pass: ${warmPassMs / 1e3}%.2f s; set-up from JVM start: ${setupMs / 1e3}%.2f s")

    val ops = mutable.ArrayBuffer.empty[OpResult]
    var passNames = Seq.empty[String]
    var pool = Executors.newSingleThreadExecutor(daemon)
    val sc = spark.sparkContext
    tracer.resetCachedPeak()
    tracer.span(sc, 0, "workload", a.workload) { wid =>
      val t0 = tracer.nowMs
      def late: Boolean = uptimeS >= LastStartS
      // A fixed number of whole passes: the ops keep getting faster pass
      // after pass (the JIT is far from done after the warm pass), so a
      // run that stopped on the clock would measure a slow machine at an
      // earlier, slower point of that curve.
      val passes = wl.passes(a.seconds)
      var pass = 0
      while (pass < passes && !late) {
        val passOps = wl.pass(spark, pass)
        for (op <- passOps if !late) {
          val ctx = new Ctx(spark, tracer)
          val timeoutS = math.max(1.0, math.min(OpTimeoutS.toDouble, DeadlineS - uptimeS))
          var opSpan = 0
          val task = pool.submit(new java.util.concurrent.Callable[(() => Unit, Double)] {
            def call(): (() => Unit, Double) =
              tracer.span(sc, wid, "op", op.name) { id => opSpan = id; ctx.parent = id; op.body(ctx) }
          })
          val started = tracer.nowMs
          val (failure, ms) =
            try {
              val (check, ms) = task.get((timeoutS * 1000).toLong, TimeUnit.MILLISECONDS)
              (scala.util.Try(check()).failed.toOption.map(e => s"wrong output: ${e.getMessage}"), ms)
            } catch {
              case _: TimeoutException =>
                sc.cancelAllJobs()
                task.cancel(true)
                pool.shutdownNow()
                pool = Executors.newSingleThreadExecutor(daemon)
                (Some(f"timeout after $timeoutS%.0fs"), tracer.nowMs - started)
              case e: java.util.concurrent.ExecutionException =>
                (Some(s"error: ${e.getCause}"), tracer.nowMs - started)
            }
          tracer.settle(sc)
          failure.foreach(f => log(s"op ${op.name} failed: $f"))
          val (_, hk) = tracer.span(sc, wid, "housekeeping", "releaseAllCaches")(_ => wl.housekeeping(spark))
          ops += OpResult(pass, op.name, op.family, ms, hk, failure, opSpan, ctx.phases.toMap)
        }
        if (pass == 0) passNames = passOps.map(_.name)
        pass += 1
      }
    }
    pool.shutdownNow()
    log(s"timed phase: ${ops.size} ops")
    RunResult(a, setupMs, setupPhases, warmPassMs, passNames, ops.toSeq, liveHeapBytes(), tracer, wl)
  }

  private val daemon: java.util.concurrent.ThreadFactory = r => {
    val t = new Thread(r, "benchmark-op")
    t.setDaemon(true)
    t
  }

  /** Waits, up to [[JitQuietS]], until the JIT compilers have been idle
    * for half a second: compilations queued by the warm pass would
    * otherwise compete with the first timed ops for the cores.
    */
  def awaitJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val until = System.nanoTime() + JitQuietS * 1000000000L
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() < until) {
      last = jit.getTotalCompilationTime
      Thread.sleep(500)
    }
  }

  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Progress on standard error, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[benchmark] $uptimeS%7.2f s  $msg")

  /** Heap in use right after a full collection, the least of three
    * readings half a second apart: Spark drops shuffle and broadcast
    * blocks, and unpersists cached ones, on other threads after the
    * collection that frees their handles.
    */
  def liveHeapBytes(): Long = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(500)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }.min
}
