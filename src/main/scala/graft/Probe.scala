package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.execution.FormattedMode

/** Per-query probe over the declared catalog:
  * `tools/run_main.sh graft.Probe <prefix...> --sf-dir=<dir> [--cpus=4]
  * [--reps=1] [--stages] [--explain]`.
  *
  * Queries are selected by Bench's prefix rule (no prefix selects every
  * query); a prefix that matches no query is an error that names it.
  * Each query runs one untimed warm rep, then `--reps` timed reps with
  * a cache sweep and forced GC between them, as Bench does. Each timed
  * rep prints one JSON line: seconds, rows, the jobs / stages / tasks
  * its job group submitted (the counts ExecShapeSpec pins), and the
  * classes Janino compiled for it with their compile ms (a rep that
  * reuses the codegen cache compiles none), and the child processes
  * the JVM started during it (`ExecShape.processStarts`).
  * Timing materializes the full output: a bare `count()` lets column
  * pruning remove the computed columns of projection queries.
  *
  *  - `--stages` adds one JSON line per stage the rep completed: wall
  *    seconds, tasks, executor run ms, shuffle write/read and input KB
  *    — which stage holds the time that a whole-query wall clock and
  *    the job/stage counts cannot place.
  *  - `--explain` prints each query's formatted physical plan with its
  *    exchange, broadcast-join and sort-merge-join counts, instead of
  *    running it.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val cfg = Config(args)
    val sfDir = cfg.get("sf-dir", "SPARK_GRAFT_SF_DIR", sys.error("set the data directory: --sf-dir=<dir> or SPARK_GRAFT_SF_DIR"))
    val cpus = cfg.get("cpus", "SPARK_GRAFT_CPUS", "4").toInt
    val reps = cfg.get("reps", "SPARK_GRAFT_REPS", "1").toInt
    val names = select(SparkEntry.queries.keys.toSeq, args.filterNot(_.startsWith("--")).toSeq)
    val spark = GraftSession.local(cpus, appName = "graft-probe")
    spark.sparkContext.setLogLevel("WARN")
    val stageLog = if (args.contains("--stages")) {
      val log = new StageLog
      spark.sparkContext.addSparkListener(log)
      Some(log)
    } else None
    def sweep(): Unit = {
      GraftSession.releaseAllCaches(spark)
      // Let ContextCleaner delete this rep's shuffle files before the
      // next rep (Bench's sweep).
      System.gc()
    }
    try names.foreach { name =>
      val build = SparkEntry.queries(name)
      sweep()
      if (args.contains("--explain")) {
        val plan = build(spark, sfDir).queryExecution.explainString(FormattedMode)
        def count(op: String): Int = op.r.findAllIn(plan).length
        println(s"===== $name =====\n$plan")
        println(s"""{"probe":"plan","query":"$name","exchanges":${count("Exchange")},""" +
          s""""broadcast_joins":${count("BroadcastHashJoin")},"sort_merge_joins":${count("SortMergeJoin")}}""")
      } else {
        build(spark, sfDir).queryExecution.toRdd.count(): Unit
        sweep()
        (1 to reps).foreach { rep =>
          val group = s"probe-$name-$rep-${System.nanoTime()}"
          var rows = 0L
          var sec = 0.0
          val (compiles0, compileNs0) = ExecShape.codegenCompiles()
          val ((jobs, stages, tasks), processes) = ExecShape.processStarts {
            ExecShape.measureGroup(spark, group) {
              val t0 = System.nanoTime()
              rows = build(spark, sfDir).queryExecution.toRdd.count()
              sec = (System.nanoTime() - t0) / 1e9
            }
          }
          val (compiles1, compileNs1) = ExecShape.codegenCompiles()
          println(s"""{"probe":"query","query":"$name","rep":$rep,"sec":${fmt(sec)},"rows":$rows,""" +
            s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"codegen_compiles":${compiles1 - compiles0},""" +
            s""""codegen_ms":${fmt((compileNs1 - compileNs0) / 1e6)},"processes_started":${processes.values.sum}}""")
          stageLog.foreach(_.completed(group).foreach { si =>
            val wall = (for (end <- si.completionTime; start <- si.submissionTime) yield (end - start) / 1e3)
              .getOrElse(-1.0)
            val m = si.taskMetrics
            println(s"""{"probe":"stage","query":"$name","rep":$rep,"stage":${si.stageId},"wall_s":${fmt(wall)},""" +
              s""""tasks":${si.numTasks},"run_ms":${m.executorRunTime},""" +
              s""""shuffle_write_kb":${m.shuffleWriteMetrics.bytesWritten / 1024},""" +
              s""""shuffle_read_kb":${m.shuffleReadMetrics.totalBytesRead / 1024},""" +
              s""""input_kb":${m.inputMetrics.bytesRead / 1024},""" +
              s""""name":${Json.writeValueAsString(si.name.takeWhile(_ != '\n'))}}""")
          })
          sweep()
        }
      }
    } finally spark.stop()
  }

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Bench's prefix rule: the names that start with any of `patterns`
    * (every name when there are none), sorted. A pattern that matches
    * no name fails, naming it, instead of probing nothing.
    */
  private[graft] def select(names: Seq[String], patterns: Seq[String]): Seq[String] = {
    val unmatched = patterns.filterNot(p => names.exists(_.startsWith(p)))
    require(unmatched.isEmpty, s"no query matches: ${unmatched.mkString(", ")}")
    names.filter(n => patterns.isEmpty || patterns.exists(n.startsWith)).sorted
  }

  /** Completed stages by job group: a stage belongs to the group of the
    * job that submitted it (the submit event carries the job's
    * properties; the completion event does not).
    */
  private final class StageLog extends SparkListener {
    private val groupOf = new ConcurrentHashMap[Int, String]()
    private val done = new ConcurrentLinkedQueue[(String, StageInfo)]()

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(groupOf.put(e.stageInfo.stageId, _))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(groupOf.get(e.stageInfo.stageId)).foreach(g => done.add(g -> e.stageInfo))

    /** The stages `group` completed, by stage id. The listener bus is
      * asynchronous: waits (at most 5 s) until every stage the group
      * submitted has completed.
      */
    def completed(group: String): Vector[StageInfo] = {
      def read() = done.asScala.collect { case (`group`, si) => si }.toVector
      val submitted = groupOf.values.asScala.count(_ == group)
      var tries = 0
      while (read().size < submitted && tries < 50) { Thread.sleep(100); tries += 1 }
      read().sortBy(_.stageId)
    }
  }
}
