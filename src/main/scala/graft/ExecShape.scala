package graft

/** Execution-shape probe: jobs + total stages submitted for a query's
  * full end-to-end run — the shape record for the ITERATIVE tail
  * (PageRank/TrustRank/HITS/power-iteration), whose loop rounds never
  * appear in the final frame's static plan. A future "graph tail is
  * 2× slower" round compares these counts against BASELINE.md's
  * pinned row: counts unchanged ⇒ container regression, counts grown
  * ⇒ a plan/loop regression — no identical-code worktree A/B needed.
  *
  * `tools/run_main.sh graft.ExecShape q113_pagerank q115_trustrank ...`
  */
object ExecShape {
  def main(args: Array[String]): Unit = {
    val cfg = Config(args)
    val sfDir = cfg.get("sf-dir", "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = cfg.get("cpus", "SPARK_GRAFT_CPUS", "32").toInt
    val names = args.filterNot(_.startsWith("--")).toSeq
    val spark = GraftSession.local(cpus, appName = "graft-execshape")
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      GraftSession.releaseAllCaches(spark)
      val (jobs, stages) = measure(spark, name)(fn(spark, sfDir).queryExecution.toRdd.count(): Unit)
      println(s"""{"probe":"exec_shape","query":"$name","jobs":$jobs,"stages":$stages}""")
    }
    spark.stop()
  }

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
      body: => Unit): (Int, Int, Int) = {
    val sc = spark.sparkContext
    val group = s"execshape-$tag-${System.nanoTime()}"
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
}
