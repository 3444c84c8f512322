package graft

import scala.jdk.CollectionConverters._

/** Execution shape of a block of Spark work: the jobs, stages and
  * tasks the scheduler submitted for it. It is the shape record for
  * the ITERATIVE tail (PageRank/TrustRank/HITS/power-iteration), whose
  * loop rounds never appear in the final frame's static plan. A future
  * "graph tail is 2× slower" round compares these counts against
  * BASELINE.md's pinned row: counts unchanged ⇒ container regression,
  * counts grown ⇒ a plan/loop regression — no identical-code worktree
  * A/B needed. `ExecShapeSpec` pins them; `graft.Probe` prints them
  * per query.
  */
object ExecShape {

  /** Runs `body` under a job group and returns (jobs, total stages)
    * the scheduler submitted for it. The status store is fed by the
    * ASYNC listener bus, which can lag well past a single poll
    * interval after a heavy multi-job query — two agreeing reads
    * 100 ms apart could both be stale-low and under-pin the
    * BASELINE.md shape rows (r10 ADVICE). The counts are accepted
    * only after FIVE consecutive agreeing reads 150 ms apart (a
    * 600 ms stable window), with the same bounded total wait.
    */
  def measure(spark: org.apache.spark.sql.SparkSession, tag: String)(body: => Unit): (Int, Int) = {
    val (jobs, stages, _) = measureTasks(spark, tag)(body)
    (jobs, stages)
  }

  /** [[measure]] plus the total tasks of those stages, read the same
    * way: (jobs, stages, tasks).
    */
  def measureTasks(spark: org.apache.spark.sql.SparkSession, tag: String)(
      body: => Unit): (Int, Int, Int) =
    measureGroup(spark, s"execshape-$tag-${System.nanoTime()}")(body)

  /** [[measureTasks]] under the caller's job group id `group`, for a
    * caller that also reads the group's stages from a listener.
    */
  def measureGroup(spark: org.apache.spark.sql.SparkSession, group: String)(
      body: => Unit): (Int, Int, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body
    finally sc.clearJobGroup()
    val tracker = sc.statusTracker
    def read(): (Int, Int, Int) = {
      val ids = tracker.getJobIdsForGroup(group)
      val stageIds = ids.toSeq.flatMap(id => tracker.getJobInfo(id).toSeq.flatMap(_.stageIds()))
      val tasks = stageIds.flatMap(tracker.getStageInfo(_).toSeq).map(_.numTasks()).sum
      (ids.length, stageIds.length, tasks)
    }
    var prev = read()
    var agree = 0
    var tries = 0
    while (tries < 80) {
      Thread.sleep(150)
      val cur = read()
      if (cur == prev && cur._1 > 0) {
        agree += 1
        if (agree >= 4) return cur
      } else agree = 0
      prev = cur
      tries += 1
    }
    prev
  }

  /** Janino compilations so far in this JVM and their total time in
    * ns. Spark compiles a generated class only when its codegen cache
    * misses, so the delta over a block is the code that block could
    * not reuse.
    */
  def codegenCompiles(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Runs `body` and returns its result with the child processes the
    * JVM started meanwhile, counted by executable name (`chmod`,
    * `readlink`, ...). A fork costs milliseconds where the file
    * operation behind it costs microseconds, so a non-zero count on a
    * hot path is time to cut. Read from a JFR recording of
    * `jdk.ProcessStart`, which sees every start in the JVM, from any
    * thread.
    */
  def processStarts[T](body: => T): (T, Map[String, Int]) = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = try body finally rec.stop()
      val file = java.nio.file.Files.createTempFile("graft-process-starts", ".jfr")
      try {
        rec.dump(file)
        val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
          .map(e => new java.io.File(e.getString("command").takeWhile(_ != ' ')).getName)
        (out, commands.groupBy(identity).view.mapValues(_.size).toMap)
      } finally java.nio.file.Files.deleteIfExists(file): Unit
    } finally rec.close()
  }
}
