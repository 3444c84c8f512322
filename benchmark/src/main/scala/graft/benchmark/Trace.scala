package graft.benchmark

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval; times are epoch milliseconds. `op` is the id of
  * the op span it belongs to (0 outside any op).
  */
final case class Span(id: Int, parent: Int, op: Int, kind: String, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** Counters of one op, summed over its tasks and query executions. */
final class OpCounters {
  var jobs, stages, tasks, failedTasks, usefulTasks = 0L
  var runMs, deserMs, cpuNs, gcMs, schedDelayMs, durationMs = 0.0
  var inputBytes, inputRecords, shuffleWriteBytes, shuffleReadBytes, spillBytes = 0.0
  var shuffleWriteNs, fetchWaitMs = 0.0
  var analysisMs, optimizationMs, planningMs = 0.0
  var actions, exchanges = 0L
  def catalystMs: Double = analysisMs + optimizationMs + planningMs
}

/** Spans of the benchmark thread and, when tracing, of the Spark jobs
  * and stages they cause. The benchmark thread stores the id of its
  * innermost open span in a Spark local property; each job carries it,
  * which is how a job finds its parent span. Everything stays in memory
  * until the run ends.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.SpanProperty

  private val nanos0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nanos0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.Map.empty[Int, OpCounters]
  private var nextId = 1
  private val spanOp = mutable.Map.empty[Int, Int]
  private val openJobs = mutable.Map.empty[Int, (Int, Int, Double)]
  private val stageJob = mutable.Map.empty[Int, Int]
  @volatile private var currentOp = 0

  private def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  /** Runs `body` as a span named `name` under `parent`; returns the
    * result and the span's wall in milliseconds. When tracing, jobs
    * started by `body` on this thread name this span as their parent.
    */
  def span[T](sc: SparkContext, parent: Int, kind: String, name: String)(body: Int => T): (T, Double) = {
    val id = newId()
    val op = if (kind == "op") id else synchronized(spanOp.getOrElse(parent, 0))
    val prev = sc.getLocalProperty(SpanProperty)
    if (enabled) {
      synchronized(spanOp(id) = op)
      if (kind == "op") { currentOp = op; synchronized(counters(op) = new OpCounters) }
      sc.setLocalProperty(SpanProperty, id.toString)
    }
    val t0 = nowMs
    try {
      val r = body(id)
      (r, nowMs - t0)
    } finally {
      val t1 = nowMs
      if (enabled) {
        sc.setLocalProperty(SpanProperty, prev)
        synchronized(spans += Span(id, parent, op, kind, name, t0, t1))
      }
    }
  }

  /** Waits until every event of the finished op has been counted. */
  def settle(sc: SparkContext): Unit = if (enabled) {
    org.apache.spark.BenchBus.drain(sc)
    currentOp = 0
  }

  private def opOf(props: java.util.Properties): Option[(Int, Int)] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toInt).flatMap { parent =>
      spanOp.get(parent).filter(_ != 0).map(op => (parent, op))
    }

  private val blockBytes = mutable.Map.empty[String, Long]
  private var cachedNow = 0L
  var cachedPeak = 0L
  def resetCachedPeak(): Unit = synchronized { cachedPeak = cachedNow }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      opOf(e.properties).foreach { case (parent, op) =>
        val id = newId()
        spanOp(id) = op
        openJobs(e.jobId) = (id, parent, e.time.toDouble)
        e.stageIds.foreach(s => stageJob(s) = id)
        counters.get(op).foreach(_.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      openJobs.remove(e.jobId).foreach { case (id, parent, t0) =>
        spans += Span(id, parent, spanOp(id), "job", s"job ${e.jobId}", t0, math.max(t0, e.time.toDouble))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val info = e.stageInfo
      stageJob.get(info.stageId).foreach { job =>
        val op = spanOp(job)
        val t0 = info.submissionTime.getOrElse(0L).toDouble
        val t1 = info.completionTime.map(_.toDouble).getOrElse(t0)
        spans += Span(newId(), job, op, "stage", s"stage ${info.stageId}.${info.attemptNumber()}", t0, t1)
        counters.get(op).foreach(_.stages += 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (job <- stageJob.get(e.stageId); c <- counters.get(spanOp(job))) {
        val m = e.taskMetrics
        val info = e.taskInfo
        c.tasks += 1
        if (!info.successful) c.failedTasks += 1
        c.durationMs += info.duration
        if (m != null) {
          val in = m.inputMetrics
          val sr = m.shuffleReadMetrics
          val sw = m.shuffleWriteMetrics
          val records = in.recordsRead + sr.recordsRead + sw.recordsWritten + m.outputMetrics.recordsWritten
          if (records > 0) c.usefulTasks += 1
          c.runMs += m.executorRunTime
          c.deserMs += m.executorDeserializeTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - info.gettingResultTime)
          c.inputBytes += in.bytesRead
          c.inputRecords += in.recordsRead
          c.shuffleWriteBytes += sw.bytesWritten
          c.shuffleWriteNs += sw.writeTime
          c.shuffleReadBytes += sr.localBytesRead + sr.remoteBytesRead
          c.fetchWaitMs += sr.fetchWaitTime
          c.spillBytes += m.diskBytesSpilled
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val bytes = b.memSize + b.diskSize
        cachedNow += bytes - blockBytes.getOrElse(b.blockId.name, 0L)
        if (bytes == 0) blockBytes.remove(b.blockId.name) else blockBytes(b.blockId.name) = bytes
        cachedPeak = math.max(cachedPeak, cachedNow)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      counters.get(currentOp).foreach { c =>
        val phases = qe.tracker.phases
        def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
        c.actions += 1
        c.exchanges += Tracer.exchanges(qe.executedPlan)
      }
    }
  }
}

object Tracer {
  val SpanProperty = "graft.benchmark.span"

  /** Records nothing; for work outside the measured ops. */
  val off = new Tracer(false)

  /** Shuffle exchanges in a physical plan, through adaptive wrappers,
    * query stages and subqueries.
    */
  def exchanges(plan: SparkPlan): Long = {
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children ++ other.subqueries
    }
    def walk(p: SparkPlan): Long =
      (p match { case _: ShuffleExchangeLike => 1L; case _ => 0L }) + children(p).map(walk).sum
    walk(plan)
  }

  /** Length of the union of intervals, in the intervals' unit. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var started = false
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (!started || s > curE) {
        if (started) total += curE - curS
        curS = s; curE = e; started = true
      } else curE = math.max(curE, e)
    }
    if (started) total += curE - curS
    total
  }
}
