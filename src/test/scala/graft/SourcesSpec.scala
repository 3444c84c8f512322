package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.sources.Sources

/** Schema-pinned file sources round-trip (CSV / JSON-lines / parquet). */
class SourcesSpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = SparkTestSession.spark
  // the slowest test takes 0.4 s in a full run on 4 cores; 2 minutes
  // also covers a cold session start when the spec runs alone
  val timeLimit = 2.minutes

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("csv: pinned schema round-trip, no inference pass") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
    val dir = tmp("csv")
    df.write.mode("overwrite").option("header", true).csv(dir)
    val back = Sources.csv(spark, dir, schema)
    assert(back.schema == schema)
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet ==
      Set((1L, "a", 1.5), (2L, "b", 2.5)))
  }

  test("jsonLines: pinned schema keeps types stable even when a column is all-null") {
    import spark.implicits._
    val dir = tmp("json")
    // score absent from every row: inference would drop/stringify it;
    // the pinned schema keeps it a nullable double
    Seq("""{"id": 1, "name": "a"}""", """{"id": 2, "name": "b"}""").toDF("value")
      .write.mode("overwrite").text(dir)
    val back = Sources.jsonLines(spark, dir, schema)
    assert(back.schema == schema)
    assert(back.count() == 2)
    assert(back.filter(back("score").isNull).count() == 2)
  }

  test("parquet: schema asserted on read") {
    import spark.implicits._
    val dir = tmp("pq")
    Seq((1L, "a", 1.5)).toDF("id", "name", "score").write.mode("overwrite").parquet(dir)
    val back = Sources.parquet(spark, dir, Some(schema))
    assert(back.schema == schema)
    assert(back.count() == 1)
  }

  test("orc round-trip preserves schema and values; pushed filters reach the scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmp("orc")
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5))
      .toDF("id", "name", "score").write.mode("overwrite").orc(dir)
    val back = Sources.orc(spark, dir)
    assert(back.count() == 3)
    assert(back.filter(col("id") > 1).count() == 2)
    val plan = back.filter(col("id") > 1).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"), plan)
    assert(back.schema.fieldNames.toSeq == Seq("id", "name", "score"))
  }

  test("jsonLinesWithErrors: bad lines route to the side-channel, one row each, job survives") {
    import spark.implicits._
    val dir = tmp("jsonerr")
    Seq(
      """{"id": 1, "name": "ok", "score": 1.0}""",
      """{"id": 2, "name": "also ok"}""",
      """{not json at all""",
      """{"id": "wrong type, fine for PERMISSIVE"}""",
      """{"id": 3, "name": "ok3", "score": 3.0}""")
      .toDF("value").repartition(1).write.mode("overwrite").text(dir)
    val (clean, errors, release) = Sources.jsonLinesWithErrors(spark, dir, schema)
    // both the unparseable line AND the type-mismatch row carry
    // _corrupt_record (PERMISSIVE keeps the raw line whenever any
    // field fails to convert); fully-parsed rows stay clean
    assert(errors.count() == 2)
    assert(errors.collect().map(_.getString(0)).exists(_.startsWith("{not json")))
    assert(clean.count() == 3)
    assert(clean.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // release drops the shared parsed-batch cache entry (async block
    // deletion; the CacheManager entry itself is removed synchronously)
    release()
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
