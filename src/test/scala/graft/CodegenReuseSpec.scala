package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.operators.Graph
import graft.streaming.EventStreams

/** Generated code is compiled once per JVM: a second call of an
  * operator that runs on a fresh session (a `Graph.loopSessionFor`
  * clone, a streaming query's cloned session) must find every class in
  * Spark's codegen cache. The cache is keyed by (class loader, source),
  * so this holds only while every session's tasks share one loader
  * (`GraftSession`: artifact isolation off) and the cache holds the
  * working set.
  */
class CodegenReuseSpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = SparkTestSession.spark
  // 3× the slowest test of a full tier-1 run on 4 cores (151 s)
  val timeLimit = 8.minutes

  /** Janino compilations `body` caused. */
  private def compiles(body: => Unit): Long = {
    val before = ExecShape.codegenCompiles()._1
    body
    ExecShape.codegenCompiles()._1 - before
  }

  test("the session shares one class loader and sizes the codegen cache") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a loop operator on a loopSessionFor clone compiles nothing on its second call") {
    import spark.implicits._
    // a few edges: the loop session is a 1-partition clone of the
    // 4-partition test session
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    def run(): Unit = {
      val (ranks, release) = Graph.integerPageRankReleasable(edges, iterations = 3)
      try ranks.collect(): Unit finally release()
    }
    val first = compiles(run())
    val second = compiles(run())
    assert(second == 0, s"second call compiled $second classes (first call: $first)")
  }

  test("a second AvailableNow drain over the same input compiles nothing") {
    // groupImageSh reads only doc_id: synthetic ids stand in for the
    // documents table
    val docs = spark.range(1, 301).toDF("doc_id")
    val sh = graft.queries.Round15Queries.groupImageSh(docs).persist()
    try {
      val corpusSh = sh.filter(col("doc_id") % 3 =!= 2)
      val newDocs = docs.filter(col("doc_id") % 3 === 2).select("doc_id")
      val root = java.nio.file.Files.createTempDirectory("codegen_reuse_stream").toString
      newDocs.repartition(2).write.parquet(s"$root/in")
      // each drain gets its own output and checkpoint, so both read
      // the whole input
      def drain(n: Int): Unit = EventStreams.runMediaDedupAvailableNow(
        spark, s"$root/in", newDocs.schema, corpusSh,
        hashBatch = graft.queries.Round15Queries.groupImageSh,
        outDir = s"$root/out$n", checkpointDir = s"$root/ck$n",
        readerOptions = Map("maxFilesPerTrigger" -> "1"))
      val first = compiles(drain(1))
      val second = compiles(drain(2))
      assert(second == 0, s"second drain compiled $second classes (first drain: $first)")
    } finally sh.unpersist(): Unit
  }
}
