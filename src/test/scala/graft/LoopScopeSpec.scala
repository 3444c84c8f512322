package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Coverage, Dedup, Graph, Similarity}

/** Throw-path cleanup of the operators that persist inside the call:
  * each row below persists frames and then hits an action that throws
  * — ANSI division by zero inside the input, or a convergence guard.
  * The release handle never reaches the caller on that path, so every
  * cache the call made must be gone by the time the exception does.
  */
class LoopScopeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** `df` with column `c` divided by zero at execution time. Over an
    * RDD-backed copy the optimizer cannot fold the division into a
    * local relation while planning, so the throw surfaces in the
    * operator's own actions, after it has persisted something.
    */
  private def poisoned(df: DataFrame, c: String): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema).withColumn(c, expr(s"$c div ($c - $c)"))

  private val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))

  private def edges(s: SparkSession): DataFrame = {
    import s.implicits._
    poisoned(pairs.toDF("a", "b"), "a")
  }

  private def seeds(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(1L).toDF("n")
  }

  private val DivByZero = "DIVIDE_BY_ZERO"

  // (operator, call that must throw, text the throw's cause chain carries)
  private val rows: Seq[(String, SparkSession => Any, String)] = Seq(
    ("integerPageRank", s => Graph.integerPageRank(edges(s), undirected = true), DivByZero),
    ("labelPropagation", s => {
      import s.implicits._
      Graph.labelPropagation(edges(s), Seq((1L, 0L)).toDF("n", "l"))
    }, DivByZero),
    ("triangleCounts", s => Graph.triangleCounts(edges(s)), DivByZero),
    ("kCore", s => Graph.kCore(edges(s), k = 2), DivByZero),
    ("kCore past maxRounds", s => {
      import s.implicits._
      Graph.kCore((0L until 6L).map(i => (i, i + 1)).toDF("a", "b"), k = 2, maxRounds = 2)
    }, "did not converge"),
    ("hits", s => Graph.hits(edges(s)), DivByZero),
    ("bfsDistances", s => Graph.bfsDistances(edges(s), seeds(s), maxHops = 3), DivByZero),
    ("weightedDistances", s => {
      import s.implicits._
      Graph.weightedDistances(poisoned(Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("a", "b", "c"), "c"), seeds(s), 2)
    }, DivByZero),
    ("earliestArrival", s => {
      import s.implicits._
      Graph.earliestArrival(
        poisoned(Seq((1L, 2L, 1L, 2L), (2L, 3L, 3L, 4L)).toDF("a", "b", "dep", "arr"), "a"), seeds(s), 2)
    }, DivByZero),
    ("connectedComponents", s => Dedup.connectedComponents(edges(s)), DivByZero),
    ("connectedComponents distributed past maxIter", s => {
      import s.implicits._
      Dedup.connectedComponents(
        (0L until 40L).map(i => (i, i + 1)).toDF("a", "b"), maxIter = 1, local = Some(false))
    }, "did not converge"),
    ("editDistancePairs", s => {
      import s.implicits._
      Dedup.editDistancePairs(
        poisoned(Seq(1L, 2L, 3L).toDF("n"), "n").withColumn("n", col("n").cast("string")),
        "n", c => substring(c, 1, 1), maxDist = 1)
    }, DivByZero),
    ("prefixFilterSimilarityJoin", s => {
      import s.implicits._
      Dedup.prefixFilterSimilarityJoin(
        poisoned(Seq((1L, Seq("x", "y")), (2L, Seq("x", "z"))).toDF("id", "toks"), "id"),
        "id", "toks", tNum = 1, tDen = 2)
    }, DivByZero),
    ("greedyMaxCoverage", s => {
      import s.implicits._
      Coverage.greedyMaxCoverage(poisoned(Seq((1L, "x"), (2L, "y")).toDF("doc", "item"), "doc"), k = 2)
    }, DivByZero),
    ("powerIterationDirection", s => {
      import s.implicits._
      Similarity.powerIterationDirection(
        poisoned(Seq(1L, 2L).toDF("x"), "x").select(array(col("x").cast("float"), lit(1.0f)).as("e")),
        "e")
    }, DivByZero))

  for ((name, call, expected) <- rows)
    test(s"$name: a throw inside the call releases every cache it made") {
      GraftSession.releaseAllCaches(spark)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val t = intercept[Throwable](call(spark))
      val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(chain.contains(expected), s"unexpected throw: $chain")
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"persisted RDDs left behind: ${leaked.toSeq.sorted.mkString(",")}")
      assert(spark.sharedState.cacheManager.isEmpty, "a cached DataFrame was left behind")
    }
}
