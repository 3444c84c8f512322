package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.TestSuite
import org.scalatest.concurrent.{Signaler, TimeLimitedTests}

/** Per-test time limit for a Spark spec. A test still running at
  * `timeLimit` gets every job on the shared context cancelled, so a
  * task that never finishes (a blocked task, a task set that failed
  * to serialize) fails that one test by name and the suite goes on.
  * `TimeLimitedTests` alone only signals the test thread, which a
  * thread waiting on a job never notices.
  */
trait SparkTimeLimit extends TimeLimitedTests { this: TestSuite =>
  def spark: SparkSession
  override val defaultTestSignaler: Signaler = Signaler(_ => spark.sparkContext.cancelAllJobs())
}
