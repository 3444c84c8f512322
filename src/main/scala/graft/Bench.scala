package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Whole-suite benchmark (driver contract): prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Architecture (round 7): a single long-lived JVM running the whole
  * 100+-query catalog
  * back-to-back is NOT a valid measurement on slow-writeback containers —
  * round 6 measured 30–60× order-dependent swings on identical code+data
  * (q36: 1.57 s in a clean JVM vs 89.8 s mid-suite), because each
  * shuffle-heavy query leaves dirty pages + heap/code-cache debt that the
  * NEXT query's timed region pays for. So Bench now runs as a
  * parent/child pair:
  *
  *  - PARENT (default): no SparkSession. Times a fixed md5 loop as a
  *    machine-speed calibration constant, splits the query list into
  *    groups, and forks a FRESH child JVM per group (same classpath,
  *    same JDK-17 --add-opens + heap flags as build.sbt's forked run).
  *    Between groups it `sync`s the filesystem so one group's writeback
  *    debt is paid before — not during — the next group's timings.
  *    Aggregates per-rep child timings into a per-query MIN (the
  *    printed `queries` map — noise here is strictly additive, so min
  *    estimates the clean-machine cost; BASELINE.md's clean-JVM medians
  *    had negligible variance, making min-vs-those like-for-like) and
  *    writes full detail (all reps, min/median/mean/stdev) to
  *    `bench_detail.json` in the working directory.
  *  - CHILD (`--child --queries=a,b --out=f`): one SparkSession, one
  *    untimed warmup pass (JIT + codegen cache + parquet footers), then
  *    `reps` timed repetitions per query with a cache sweep between
  *    reps and a `sync` between queries. Results are APPENDED to the
  *    out-file one line per query as soon as that query finishes, so a
  *    hung or OOM-killed child loses only its in-flight query — the
  *    parent salvages the rest and retries just the missing ones.
  *
  * Timing materializes the full output (`queryExecution.toRdd.count()`):
  * a bare `df.count()` plants an Aggregate whose column pruning deletes
  * the computed columns of row-preserving queries and would "time" a
  * parquet row count instead.
  */
object Bench {

  /** The detail file's trailing `phase_error` member. Jackson writes
    * the message as a JSON string, escaping quotes, backslashes and
    * every control character (an exception message with a newline
    * must not break the file).
    */
  private[graft] def phaseErrorJson(e: String): String =
    s""",
"phase_error": ${new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(e)}"""

  /** Seconds every child fork is given, whatever the budget: killing
    * a child that would have finished loses whole queries to save
    * seconds. A fork the budget cannot give this much is not made.
    */
  private[graft] val ForkFloorSec = 120.0

  /** Timed reps for the next group under the wall budget, or None to
    * shed the group unforked. `spendable` is the remaining budget minus
    * the bookkeeping reserve; a group costs 2 rep-units (JVM, session,
    * warmup) plus one per rep, at `perUnitSec` seconds per unit as
    * learned from the completed groups (0 before the first). A group
    * that cannot fit [[ForkFloorSec]] is shed (its queries report as
    * failed); any other gets its fair share of the spendable budget,
    * at least 1 rep and at most `reps`.
    */
  private[graft] def groupReps(reps: Int, spendable: Double, groupsLeft: Int, perUnitSec: Double): Option[Int] =
    if (spendable < ForkFloorSec) None
    else if (perUnitSec <= 0) Some(reps)
    else Some(math.max(1, math.min(reps, math.floor(spendable / groupsLeft / perUnitSec).toInt - 2)))

  /** Flush filesystem writeback and settle. Dirty pages from a prior
    * query's shuffle writes otherwise compete with the next query's I/O
    * inside its timed region (the round-6 container's disk sustains
    * ~15 MB/s writeback — debt builds fast and drains slowly).
    */
  private def quiesce(): Unit = {
    try { new ProcessBuilder("sync").inheritIO().start().waitFor(): Unit }
    catch { case _: Throwable => () }
    Thread.sleep(200)
  }

  /** Machine-speed calibration: seconds for a fixed md5 workload
    * (3e6 digests of 64 bytes, single thread). Recorded in the JSON so
    * cross-container comparisons can normalize — round 6's "everything
    * regressed 13.8×" decomposed into container factors that a recorded
    * constant would have exposed immediately.
    */
  private def calibrateMd5(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](64)
    var sink = 0L
    // Untimed JIT warmup, then the timed loop.
    var i = 0
    while (i < 200000) { buf(0) = (i & 0xff).toByte; sink += md.digest(buf)(0); i += 1 }
    val t0 = System.nanoTime()
    i = 0
    while (i < 3000000) { buf(0) = (i & 0xff).toByte; sink += md.digest(buf)(0); i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (sink == Long.MinValue) println("") // defeat dead-code elimination
    dt
  }

  /** Multicore calibration: wall seconds for every available core to
    * run 1e6 md5 digests concurrently. Catches the drift the
    * single-thread constant can't: round 9 measured an identical-code
    * A/B (r8 worktree vs HEAD, same hour) where iterative multi-stage
    * queries ran ~2x slower than 3 h earlier at UNCHANGED calib_md5 —
    * host oversubscription/steal hits parallel throughput and
    * scheduler wakeups first, and only a parallel constant records it.
    */
  private def calibrateMd5Mt(): Double = {
    val n = math.min(Runtime.getRuntime.availableProcessors(), 32)
    def burn(iters: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val buf = new Array[Byte](64)
      var sink = 0L
      var i = 0
      while (i < iters) { buf(0) = (i & 0xff).toByte; sink += md.digest(buf)(0); i += 1 }
      sink
    }
    burn(100000): Unit // JIT warmup on the calling thread
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    // try/finally + bounded get: a wedged or throwing worker must not
    // leak the pool or hang the bench before any query runs — the
    // calibration is diagnostics, never worth blocking the suite on.
    try {
      val t0 = System.nanoTime()
      val futs = (1 to n).map(_ => pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = burn(1000000)
      }))
      val sink = futs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS): Long).sum
      val dt = (System.nanoTime() - t0) / 1e9
      if (sink == Long.MinValue) println("")
      dt
    } finally pool.shutdownNow()
  }

  /** Scheduler-wakeup calibration: seconds for 100k two-thread
    * ping-pongs over a SynchronousQueue. Iterative operators (PageRank
    * / HITS / BFS rounds) are bounded by per-stage wakeup latency, not
    * compute — this constant isolates that axis so a graph-tail-only
    * slowdown can be attributed to the container, not the plans.
    */
  private def calibratePingPong(): Double = calibratePingPong(100000)

  /** [[calibratePingPong]] at a configurable round count, NORMALIZED to
    * the 100k-round unit (ping-pong cost is linear in rounds, so the
    * scaled value is directly comparable with the headline constant).
    * The per-group drift probes use 20k rounds: ~1 s instead of ~10,
    * still far above the resolution a 2–4× scheduler-degradation
    * signature needs.
    */
  private def calibratePingPong(rounds: Int): Double = {
    val q1 = new java.util.concurrent.SynchronousQueue[Integer]()
    val q2 = new java.util.concurrent.SynchronousQueue[Integer]()
    def echo(): Thread = {
      val t = new Thread(() => {
        var i = 0
        while (i < rounds) { q2.put(q1.take()); i += 1 }
      })
      t.setDaemon(true); t.start(); t
    }
    val warm = echo() // warmup pass
    var i = 0
    while (i < rounds) { q1.put(i); q2.take(): Unit; i += 1 }
    warm.join()
    val t = echo()
    val t0 = System.nanoTime()
    i = 0
    while (i < rounds) { q1.put(i); q2.take(): Unit; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    t.join()
    dt * (100000.0 / rounds)
  }

  /** The BASELINE.md per-query ledger (sf0.1 seconds), parsed from the
    * `| qNN | x.xxx |` table cells. First occurrence per query wins —
    * the ledger table leads the file; later mentions are prose. Used
    * by the self-exonerating outlier protocol below; an absent or
    * unparseable file degrades to "no ledger" (no retries), never an
    * abort.
    *
    * The value pattern ends in a LOOKAHEAD `(?=\|)`, not a consumed
    * `\|`: the extension table packs three (query, sec) pairs per row
    * with SHARED column separators (`| q102 | 1.142 | q133 | 0.365 |`),
    * so a consumed trailing pipe would swallow the next pair's leading
    * pipe and silently drop every middle column — exactly the r14
    * defect that left q133–q163 outside the retry protocol.
    * [[graft.BenchLedgerSpec]] pins full-surface coverage.
    */
  private[graft] def parseLedger(): Map[String, Double] = {
    val p = Paths.get("BASELINE.md")
    if (!Files.exists(p)) Map.empty
    else {
      val re = """\|\s*(q\d+)\s*\|\s*([0-9]+\.[0-9]+)\s*(?=\|)""".r
      val found = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      scala.util.Try {
        Files.readAllLines(p).asScala.foreach { line =>
          re.findAllMatchIn(line).foreach { m =>
            if (!found.contains(m.group(1))) found(m.group(1)) = m.group(2).toDouble
          }
        }
      }: Unit
      found.toMap
    }
  }

  /** Per-segment calibration constants for the ledger (BASELINE.md's
    * `LEDGER_SEGMENTS` comment): the q01–q101 and q102+ table segments
    * were measured on different iron, so a raw time/ledger ratio means
    * different things across them. Each segment carries the calib_md5
    * (single-thread md5 seconds, [[calibrateMd5]]) of the machine that
    * produced its lines; the outlier protocol normalizes a run's ratio
    * by (segment calib / run calib) so the 2× bar is iron-independent.
    * Returns (fromQ, toQ, calibMd5) ranges; empty when absent.
    */
  private[graft] def parseLedgerSegments(): Vector[(Int, Int, Double)] = {
    val p = Paths.get("BASELINE.md")
    if (!Files.exists(p)) Vector.empty
    else {
      val re = """\{\s*"from"\s*:\s*(\d+)\s*,\s*"to"\s*:\s*(\d+)\s*,\s*"calib_md5"\s*:\s*([0-9.]+)\s*\}""".r
      scala.util.Try {
        val text = Files.readString(p)
        val tagIdx = text.indexOf("LEDGER_SEGMENTS:")
        if (tagIdx < 0) Vector.empty[(Int, Int, Double)]
        else {
          // Whole tag line (no char cap): a cap would silently drop
          // trailing segments once the array grows, and the affected
          // queries would quietly fall back to un-normalized ratios.
          val eol = text.indexOf('\n', tagIdx)
          val line = if (eol < 0) text.substring(tagIdx) else text.substring(tagIdx, eol)
          re.findAllMatchIn(line)
            .map(m => (m.group(1).toInt, m.group(2).toInt, m.group(3).toDouble))
            .toVector
        }
      }.getOrElse(Vector.empty)
    }
  }

  /** Segment calib for one short query name (`q148`), if declared. */
  private def segmentCalib(segments: Vector[(Int, Int, Double)], shortName: String): Option[Double] =
    scala.util.Try(shortName.drop(1).toInt).toOption.flatMap { n =>
      segments.collectFirst { case (lo, hi, c) if n >= lo && n <= hi => c }
    }

  def main(args: Array[String]): Unit =
    if (args.contains("--calib-only")) {
      def ms(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      println(s"""{"calib_md5":${ms(calibrateMd5())},"calib_md5_mt":${ms(calibrateMd5Mt())},"calib_sched":${ms(calibratePingPong())}}""")
    } else if (args.contains("--child")) childMain(args)
    else parentMain(args)

  // ---------------------------------------------------------------- child

  private def childMain(args: Array[String]): Unit = {
    val cfg = Config(args)
    val sfDir = cfg.get("sf-dir", "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = cfg.get("cpus", "SPARK_GRAFT_CPUS", "4").toInt
    val reps = cfg.get("reps", "SPARK_GRAFT_BENCH_REPS", "3").toInt
    val out = Paths.get(cfg.get("out", "SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench_child.tsv"))
    val wanted = cfg.get("queries", "SPARK_GRAFT_BENCH_QUERIES", "")
      .split(',').map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession.local(cpus, appName = "graft-bench-child")
    spark.sparkContext.setLogLevel("WARN")
    def run(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()
    // Cache sweep + FORCED GC between timed regions. The GC matters as
    // much as the sweep: shuffle files are deleted by ContextCleaner
    // only after their ShuffleDependency is garbage-collected, and a
    // 48 g heap goes many queries between natural GCs — so without
    // this, every prior query's shuffle files keep draining onto a
    // ~15 MB/s-writeback disk inside later timed regions. Measured on
    // this container class: q79 reps 3.1→17.5→244 s without the GC;
    // whole trailing groups poisoned (q33 at 213× its ledger line).
    def sweep(): Unit = {
      GraftSession.releaseAllCaches(spark)
      System.gc()
      Thread.sleep(300)
    }
    val selected = wanted.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    // Untimed warmup: JIT + codegen cache + parquet footer/page cache,
    // otherwise it all lands on each query's rep1. The codegen part
    // holds only while every session shares one task class loader and
    // the cache holds the catalog's working set (GraftSession).
    selected.foreach { case (_, fn) =>
      try run(fn(spark, sfDir)) catch { case _: Throwable => () }
      sweep()
    }
    quiesce()
    selected.foreach { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { run(fn(spark, sfDir)); true } catch { case _: Throwable => false }
        val dt = (System.nanoTime() - t0) / 1e9
        sweep()
        if (ok) dt else -1.0
      }
      // Append-per-query so a later hang/kill loses only the in-flight
      // query; the parent salvages every line already written.
      // Locale.ROOT: the parent parses with toDouble, and a
      // comma-decimal default locale would break the round trip.
      Files.writeString(out,
        name + "\t" + times.map(t => String.format(java.util.Locale.ROOT, "%.4f", Double.box(t)))
          .mkString("\t") + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      // Pay this query's writeback debt now: rep1 of the NEXT query
      // then runs against a clean filesystem, and min-of-reps (≈ that
      // post-sync rep) reports the clean-state cost. Sync per REP was
      // measured at ~30 s/call on this disk — 3× the sync volume for
      // no gain over min-of-reps, and it pushed the full suite
      // past a 2 h wall.
      quiesce()
    }
    spark.stop()
    // Local-mode Spark leaves non-daemon threads; don't let them wedge the parent.
    System.exit(0)
  }

  // --------------------------------------------------------------- parent

  private def parentMain(args: Array[String]): Unit = {
    val cfg = Config(args)
    val sfDir = cfg.get("sf-dir", "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = cfg.get("cpus", "SPARK_GRAFT_CPUS", "4").toInt
    val reps = cfg.get("reps", "SPARK_GRAFT_BENCH_REPS", "3").toInt
    val groupSize = cfg.get("group", "SPARK_GRAFT_BENCH_GROUP", "8").toInt
    val timeoutSec = cfg.get("group-timeout", "SPARK_GRAFT_BENCH_TIMEOUT", "1800").toLong
    // WALL BUDGET (r16 verdict #1): the bench's wall-clock was unbounded
    // — 25 group forks × (warmup + reps) plus up to retryCap re-forks —
    // and on a degraded container the r16 32-core run outlived the
    // driver's window and died at rc 124 WITHOUT printing the JSON
    // line, which violates the contract as surely as deleting the
    // println. The budget makes the summary line unconditional: reps,
    // outlier retries and whole groups are shed against the remaining
    // budget (shed work is named in bench_detail.json), never the other
    // way around.
    // Default 3000 s sits inside every observed driver window (the r16
    // 8-core run finished at 3557 s and was the slowest on record).
    val budgetSec = cfg.get("budget", "SPARK_GRAFT_BENCH_BUDGET_SEC", "3000").toDouble
    // Bookkeeping reserve: final quiesce + detail write + summary line.
    val reserveSec = 45.0
    val t0 = System.nanoTime()
    def remaining: Double = budgetSec - (System.nanoTime() - t0) / 1e9
    // Calibration is diagnostics — a wedged worker (TimeoutException
    // out of the bounded get) must degrade the record to a -1
    // sentinel, never abort the suite before a single query runs
    // (r10 ADVICE).
    val calib = scala.util.Try(calibrateMd5()).getOrElse(-1.0)
    val calibMt = scala.util.Try(calibrateMd5Mt()).getOrElse(-1.0)
    val calibSched = scala.util.Try(calibratePingPong()).getOrElse(-1.0)
    // Dev-only subset (--queries=q01,q36 prefix match); the driver passes
    // no filter, so the contract run always covers the full surface.
    val filter = cfg.get("queries", "SPARK_GRAFT_BENCH_QUERIES", "")
      .split(',').map(_.trim).filter(_.nonEmpty)
    val names = SparkEntry.queries.keys.toVector
      .filter(n => filter.isEmpty || filter.exists(n.startsWith))
    val logDir = Files.createDirectories(Paths.get("/tmp/graft_bench_logs"))

    /** Fork one child over `qs`; returns per-query rep times parsed from
      * its incrementally-written out-file (missing = child died first).
      * `groupReps` may be below the configured reps when the wall
      * budget is shedding; the fork timeout is additionally capped by
      * the remaining budget so one hung child cannot outlive it.
      */
    def runGroup(qs: Seq[String], tag: String, groupReps: Int): Map[String, Vector[Double]] = {
      val outFile = Files.createTempFile("graft_bench_", ".tsv")
      Files.deleteIfExists(outFile)
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
      // The child runs with the parent's own JVM flags: whatever
      // launched the parent (build.sbt's forked `run`, or
      // tools/run_main.sh) already carries the add-opens Spark 4 needs
      // on JDK 17 outside spark-submit, and the same heap cap keeps
      // child timings comparable with single-JVM profiles.
      val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      val cmd = Seq(javaBin) ++ jvmFlags ++ Seq(
        "-cp", System.getProperty("java.class.path"), "graft.Bench",
        "--child", s"--queries=${qs.mkString(",")}", s"--out=$outFile",
        s"--sf-dir=$sfDir", s"--cpus=$cpus", s"--reps=$groupReps")
      val log = logDir.resolve(s"child_$tag.log").toFile
      val pb = new ProcessBuilder(cmd.asJava)
        .redirectOutput(log).redirectErrorStream(true)
      val p = pb.start()
      val forkTimeout = math.min(timeoutSec.toDouble, math.max(ForkFloorSec, remaining - reserveSec)).toLong
      val done = p.waitFor(forkTimeout, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) { p.destroyForcibly(); p.waitFor(): Unit }
      val parsed: Map[String, Vector[Double]] =
        if (!Files.exists(outFile)) Map.empty
        else Files.readAllLines(outFile).asScala.flatMap { line =>
          val parts = line.split('\t')
          if (parts.length >= 2) Some(parts.head -> parts.tail.map(_.toDouble).toVector)
          else None
        }.toMap
      Files.deleteIfExists(outFile)
      parsed
    }

    val groups = names.grouped(groupSize).toVector
    var results = Map.empty[String, Vector[Double]]
    // Per-group machine probes (VERDICT r11 #1b): a cheap scheduler +
    // multicore constant measured immediately before each child fork,
    // so a drifted group carries its own attribution in
    // bench_detail.json — "was the machine degraded WHILE this group
    // ran" stops being an after-the-fact forensics exercise.
    val groupCalib = Vector.newBuilder[(String, Seq[String], Double, Double)]
    // Budget-aware rep shedding ([[groupReps]]): each remaining group
    // gets its fair share of the remaining budget, and a group that
    // cannot fit the fork floor is not forked at all, so the budget is
    // a hard wall. Both are recorded in the detail for the audit.
    val shedEvents = Vector.newBuilder[(String, Int)]
    val groupsShed = Vector.newBuilder[(String, Seq[String])]
    var unitsDone = 0.0
    var groupSecs = 0.0
    // The measurement phases run under a catch-all so that a bug or a
    // blown budget in ANY phase still reaches the summary println —
    // the one-line JSON is the driver contract and must be unconditional.
    var phaseError: Option[String] = None
    try {
      groups.zipWithIndex.foreach { case (g, i) =>
        val perUnit = if (unitsDone > 0) groupSecs / unitsDone else 0.0
        groupReps(reps, remaining - reserveSec, groups.length - i, perUnit) match {
          case None => groupsShed += ((s"g$i", g))
          case Some(r) =>
            quiesce()
            val sched = scala.util.Try(calibratePingPong(20000)).getOrElse(-1.0)
            val mt = scala.util.Try(calibrateMd5Mt()).getOrElse(-1.0)
            groupCalib += (((s"g$i", g, sched, mt)))
            if (r < reps) shedEvents += ((s"g$i", r))
            val gT0 = System.nanoTime()
            results ++= runGroup(g, s"g$i", r)
            groupSecs += (System.nanoTime() - gT0) / 1e9
            unitsDone += 2.0 + r
        }
      }
      // One retry pass, fresh JVM PER QUERY, for anything a child lost to
      // a hang or crash. Singleton groups on retry: a deterministically-
      // hanging query would otherwise take its whole retry group down
      // with it, reporting healthy queries as failed just for sharing a
      // child with the hang. Budget-checked per fork; a query the budget
      // cannot afford stays -1 (loud in `failed`), never silent.
      val missing = names.filterNot(results.contains)
      if (missing.nonEmpty) {
        quiesce()
        missing.zipWithIndex.foreach { case (q, i) =>
          if (remaining - reserveSec >= ForkFloorSec)
            results ++= runGroup(Seq(q), s"retry$i", reps)
        }
      }
    } catch {
      case t: Throwable =>
        phaseError = Some(s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}")
    }

    // Self-exonerating outlier protocol (VERDICT r11 #1a): any query
    // whose first-pass min exceeds 2× its BASELINE.md ledger line gets
    // ONE end-of-suite re-run in a fresh singleton fork, with the
    // scheduler constant measured immediately before and after — so
    // the official record can distinguish "the code regressed" (retry
    // also slow at healthy calib) from "the container was degraded
    // when that group ran" (retry in band, or calib visibly drifted)
    // without a separate forensics session. The headline min covers
    // first-pass AND retry reps — min-of-reps over one-sided additive
    // noise remains the clean-machine estimator with more reps; the
    // detail file keeps the two passes separate for audit.
    val ledger = parseLedger()
    val segments = parseLedgerSegments()
    def shortName(n: String): String = n.takeWhile(_ != '_')
    // Protocol-coverage check (r14 verdict #2): every query surface
    // entry must have a ledger line, or the >2× retry protocol is
    // silently blind on it. Loud (stderr + a named field in the detail
    // record), not fatal — a brand-new query's line lands with the
    // next quiet-iron ledger regen, and aborting the whole record over
    // bookkeeping would cost more than it protects. BenchLedgerSpec
    // enforces the same invariant at `sbt test` time, where it IS fatal.
    val ledgerMissing = names.map(shortName).distinct.filterNot(ledger.contains)
    if (ledger.nonEmpty && ledgerMissing.nonEmpty)
      System.err.println(
        s"WARN Bench: ${ledgerMissing.size} queries have NO BASELINE.md ledger line " +
          s"(outlier retry protocol blind there): ${ledgerMissing.mkString(", ")}")
    // Iron normalization (r14 verdict #7): the ledger's two segments
    // were measured on different machines; scale this run's times by
    // (segment calib_md5 / run calib_md5) before comparing, so "2× the
    // ledger" means the same thing on every segment and every
    // container. Degrades to raw (factor 1) when either calib is
    // unavailable.
    def normFactor(short: String): Double =
      segmentCalib(segments, short) match {
        case Some(c) if calib > 0 => c / calib
        case _ => 1.0
      }
    def normRatio(n: String, minSec: Double): Option[Double] =
      ledger.get(shortName(n)).map(base => minSec * normFactor(shortName(n)) / base)
    val overLedger = names.filter { n =>
      val ok = results.getOrElse(n, Vector.empty).filter(_ >= 0)
      ok.nonEmpty && normRatio(n, ok.min).exists(_ > 2.0)
    }
    // Bounded: a genuine whole-suite regression (or a dead machine)
    // must not double the suite's wall time. Retry the WORST offenders
    // by over-ledger ratio; anything past the cap is named in the
    // detail file as unretried.
    val retryCap = cfg.get("outlier-retries", "SPARK_GRAFT_BENCH_OUTLIER_RETRIES", "16").toInt
    val ranked = overLedger.sortBy { n =>
      val ok = results(n).filter(_ >= 0)
      -normRatio(n, ok.min).getOrElse(0.0)
    }
    // Retries are the bench's FIRST shed under the wall budget (the r16
    // 32-core run died re-forking outliers on a degraded container):
    // each singleton fork must fit the remaining budget — estimated
    // from the observed retry forks, seeded from the main pass's
    // per-unit rate — or it and everything ranked after it goes to
    // `outliers_unretried` instead of running.
    val retried = Vector.newBuilder[String]
    val budgetSkipped = Vector.newBuilder[String]
    val retryDetail = scala.collection.mutable.LinkedHashMap.empty[String, (Vector[Double], Double, Double)]
    if (ranked.nonEmpty) {
      quiesce()
      val retrySecs = scala.collection.mutable.ArrayBuffer.empty[Double]
      ranked.zipWithIndex.foreach { case (q, i) =>
        val estRetry =
          if (retrySecs.nonEmpty) retrySecs.sum / retrySecs.size
          else if (unitsDone > 0) (groupSecs / unitsDone) * (2.0 + reps)
          else 60.0
        if (i >= retryCap || phaseError.isDefined) ()
        else if (remaining - reserveSec < math.max(estRetry, ForkFloorSec)) budgetSkipped += q
        else
          try {
            val before = scala.util.Try(calibratePingPong(20000)).getOrElse(-1.0)
            val rT0 = System.nanoTime()
            val rreps = runGroup(Seq(q), s"outlier$i", reps).getOrElse(q, Vector.empty)
            retrySecs += (System.nanoTime() - rT0) / 1e9
            val after = scala.util.Try(calibratePingPong(20000)).getOrElse(-1.0)
            retryDetail(q) = (rreps, before, after)
            retried += q
            if (rreps.nonEmpty) results += q -> (results.getOrElse(q, Vector.empty) ++ rreps)
          } catch {
            case t: Throwable =>
              phaseError = Some(s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}")
          }
      }
    }
    val retriedList = retried.result()
    val budgetSkippedList = budgetSkipped.result()
    val unretried = {
      val done = retriedList.toSet ++ budgetSkippedList
      ranked.filterNot(done.contains)
    }

    def median(v: Vector[Double]): Double = {
      val s = v.sorted; s(s.length / 2)
    }
    val perQuery: Vector[(String, Vector[Double])] =
      names.map(n => n -> results.getOrElse(n, Vector(-1.0)))
    // Headline statistic: MIN of the reps. Writeback/GC interference on
    // this container class is strictly additive one-sided noise (a rep
    // is never faster than the code's true cost), so min-of-reps is the
    // consistent estimator of what a clean machine would measure —
    // medians inherited up to 25× of a neighboring rep's flush debt
    // even with per-rep quiesce. Full rep detail stays in
    // bench_detail.json for variance audits.
    val headline = perQuery.map { case (n, ts) =>
      val ok = ts.filter(_ >= 0)
      n -> (if (ok.nonEmpty) ok.min else -1.0)
    }
    // Failed queries stay in the map as -1 (visible per-query) and are
    // listed in the JSON's `failed` field; `total` covers succeeded
    // queries only, so the failure is loud rather than silently making
    // the total smaller (and the run look faster) than a clean one.
    val failed = headline.collect { case (n, t) if t < 0 => n }
    val total = headline.collect { case (_, t) if t >= 0 => t }.sum

    // Full-detail sidecar for the judge: every rep, min/median/mean/stdev
    // per query, plus the calibration constant and run config. The stdout
    // line stays compact (driver tail window is ~2 KiB).
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val detail = perQuery.map { case (n, ts) =>
      val ok = ts.filter(_ >= 0)
      val (mn, md, mean) =
        if (ok.nonEmpty) (ok.min, median(ok), ok.sum / ok.size) else (-1.0, -1.0, -1.0)
      val sd =
        if (ok.size > 1) math.sqrt(ok.map(t => (t - mean) * (t - mean)).sum / (ok.size - 1))
        else 0.0
      // "reps" lists EVERY measurement (so `min` is always an element
      // of it — the r13 verdict's record-hygiene ask); the first-pass/
      // retry split audits independently via "first_pass" and the
      // "retry" block (the outlier re-run's own fresh fork, calib_sched
      // measured adjacent on both sides), plus an explicit min_source.
      val firstPass = ts.take(if (retryDetail.contains(n)) ts.length - retryDetail(n)._1.length else ts.length)
      // ledger_sec = the raw baseline line; ledger_calib_md5 + norm_ratio
      // make the cross-iron comparison machine-readable: norm_ratio =
      // (min / ledger_sec) × (ledger segment calib / this run's calib),
      // over the HEADLINE min (first-pass AND retry reps — consistent
      // with "min"). The retry TRIGGER keys on the same formula over
      // the first-pass min alone; when a retry block is present, its
      // first_pass reps let an auditor re-derive that pre-retry value.
      val ledgerPart = ledger.get(shortName(n)).map { b =>
        val segPart = segmentCalib(segments, shortName(n))
          .filter(_ => calib > 0 && mn >= 0)
          .map(c => s""", "ledger_calib_md5": ${fmt(c)}, "norm_ratio": ${fmt(mn * (c / calib) / b)}""")
          .getOrElse("")
        s""", "ledger_sec": ${fmt(b)}$segPart"""
      }.getOrElse("")
      val retryPart = retryDetail.get(n).map { case (rreps, before, after) =>
        val repsJson = if (rreps.isEmpty) "[]" else rreps.map(fmt).mkString("[", ", ", "]")
        val rok = rreps.filter(_ >= 0)
        val fpOk = firstPass.filter(_ >= 0)
        // Compare against the FIRST-PASS min, not the all-reps min (which
        // includes the retry): a tie means both passes independently
        // reached the recorded min — credit neither alone (r14 ADVICE).
        val src =
          if (rok.isEmpty) "first_pass"
          else if (fpOk.isEmpty) "retry"
          else if (rok.min < fpOk.min) "retry"
          else if (rok.min == fpOk.min) "both"
          else "first_pass"
        s""", "first_pass": [${firstPass.map(fmt).mkString(", ")}], "min_source": "$src", "retry": {"reps": $repsJson, "calib_sched_before": ${fmt(before)}, "calib_sched_after": ${fmt(after)}}"""
      }.getOrElse("")
      s"""  "$n": {"reps": [${ts.map(fmt).mkString(", ")}], "min": ${fmt(mn)}, "median": ${fmt(md)}, "mean": ${fmt(mean)}, "stdev": ${fmt(sd)}$ledgerPart$retryPart}"""
    }.mkString(",\n")
    val groupsJson = groupCalib.result().map { case (tag, qs, sched, mt) =>
      s"""  {"tag": "$tag", "queries": [${qs.map("\"" + _ + "\"").mkString(", ")}], "calib_sched": ${fmt(sched)}, "calib_md5_mt": ${fmt(mt)}}"""
    }.mkString(",\n")
    val unretriedJson =
      if (unretried.isEmpty) ""
      else s""",
"outliers_unretried": [${unretried.map("\"" + _ + "\"").mkString(", ")}]"""
    val budgetSkippedJson =
      if (budgetSkippedList.isEmpty) ""
      else s""",
"outliers_budget_skipped": [${budgetSkippedList.map("\"" + _ + "\"").mkString(", ")}]"""
    val shed = shedEvents.result()
    val shedJson =
      if (shed.isEmpty) ""
      else s""",
"reps_shed": [${shed.map { case (tag, r) => s"""{"group": "$tag", "reps": $r}""" }.mkString(", ")}]"""
    val groupsShedList = groupsShed.result()
    val groupsShedJson =
      if (groupsShedList.isEmpty) ""
      else s""",
"groups_budget_shed": [${groupsShedList.map { case (tag, qs) => s"""{"group": "$tag", "queries": [${qs.map("\"" + _ + "\"").mkString(", ")}]}""" }.mkString(", ")}]"""
    val errorJson = phaseError.map(phaseErrorJson).getOrElse("")
    // Detail write failures must not stop the summary line below — the
    // println is the contract, the sidecar is best-effort.
    scala.util.Try(Files.writeString(Paths.get("bench_detail.json"),
      s"""{
"config": {"sf": "$sfDir", "cpus": $cpus, "reps": $reps, "group_size": $groupSize, "budget_sec": ${fmt(budgetSec)}, "budget_elapsed_sec": ${fmt(budgetSec - remaining)}, "protocol": "fork-per-group JVM, warmup pass, forced GC + sync between timed regions, min of reps incl. outlier retry; per-group calib probes (sched normalized to 100k rounds); >2x-CALIB-NORMALIZED-ledger queries re-forked once with adjacent calib_sched; reps/retries/groups shed against SPARK_GRAFT_BENCH_BUDGET_SEC", "calib_md5_3e6_sec": ${fmt(calib)}, "calib_md5_mt_sec": ${fmt(calibMt)}, "calib_sched_pingpong_sec": ${fmt(calibSched)}, "outlier_retry_cap": $retryCap, "ledger_segments": [${segments.map { case (lo, hi, c) => s"""{"from": $lo, "to": $hi, "calib_md5": ${fmt(c)}}""" }.mkString(", ")}], "ledger_missing": [${ledgerMissing.map("\"" + _ + "\"").mkString(", ")}]},
"group_calib": [
$groupsJson
],
"queries": {
$detail
}$unretriedJson$budgetSkippedJson$shedJson$groupsShedJson$errorJson
}
""")): Unit

    def ms(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Cap the inline failed list (summary-line size budget) but mark
    // the truncation with a SEPARATE numeric field — a sentinel string
    // inside the array would read as a phantom query name to any
    // consumer iterating the list. failed_truncated + list size always
    // reconstructs n_failed.
    val failedJson =
      if (failed.isEmpty) ""
      else {
        val shown = failed.take(10).map("\"" + _ + "\"").mkString(",\"failed\":[", ",", "]")
        val trunc =
          if (failed.size > 10) s""","failed_truncated":${failed.size - 10}""" else ""
        shown + trunc
      }
    // ONE compact summary line, emitted last and sized well under the
    // driver's ~2000-char tail window: round 9's record truncated
    // mid-JSON because a full 166-entry per-query line preceded the
    // summary (only 123 entries survived the tail). The full per-query
    // map now lives ONLY in bench_detail.json; stdout carries the
    // headline stats plus the 20 slowest queries (what a baseline
    // comparison actually reads), with "queries_truncated" marking the
    // subset explicitly so a stale consumer keying on "queries" fails
    // loudly instead of silently averaging 20 lines as if they were
    // the suite (ADVICE r9).
    val slowest = headline.filter(_._2 >= 0).sortBy(-_._2).take(20)
      .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + ms(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","n_queries":${names.size},"n_failed":${failed.size},"queries":$slowest,"queries_truncated":true,"detail":"bench_detail.json","sf":"$sfDir","calib_md5":${ms(calib)},"calib_md5_mt":${ms(calibMt)},"calib_sched":${ms(calibSched)},"reps":$reps,"stat":"min","n_outlier_retries":${retriedList.size},"n_reps_shed_groups":${shed.size},"budget_sec":${ms(budgetSec)}$failedJson}""")
  }
}
