package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.functions.VocabHits
import graft.operators.TextAnalysis

/** The native `graft_vocab_hits` expression: equivalence against the
  * interpreted split→filter→isin reference on adversarial inputs
  * (empty tokens, space runs, multi-byte text, case), codegen fusion,
  * and the row kernel directly.
  */
class VocabHitsSpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = GraftSession.local(4, appName = "vocabhits-spec")
  // slowest test in a full-suite run on 4 cores: 0.2 s; a cold session
  // start fits too
  val timeLimit = 60.seconds

  test("agrees with the split/filter/isin reference on randomized texts") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val words = Vector("the", "The", "la", "thé", "中文", "a", "xx", "", " ")
    val rows: Seq[String] = (0 until 300).map { _ =>
      (0 until rnd.nextInt(20)).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    } ++ Seq("", " ", "  ", "the", " the ", "the  the", "la thé la")
    for (vocab <- Seq(TextAnalysis.markers("en"), Seq("la", "thé"), Seq("中文"))) {
      val both = rows.toDF("text")
        .select(
          TextAnalysis.markerHits(col("text"), vocab).as("native"),
          TextAnalysis.hofMarkerHits(col("text"), vocab).as("composed"))
        .collect()
      both.zipWithIndex.foreach { case (r, i) =>
        assert(
          r.getLong(0) == r.getLong(1),
          s"vocab=$vocab row $i (${rows(i).take(30)}): native=${r.getLong(0)} composed=${r.getLong(1)}")
      }
    }
  }

  test("null propagates; case-sensitive; empty tokens only count for an empty vocab word") {
    import spark.implicits._
    val r = Seq(Tuple1(null: String), Tuple1("The the THE"), Tuple1("a  b"))
      .toDF("text")
      .select(TextAnalysis.markerHits(col("text"), Seq("the", "a")).as("h"))
      .collect()
    assert(r(0).isNullAt(0))
    assert(r(1).getLong(0) == 1L) // only the exact-case "the"
    assert(r(2).getLong(0) == 1L) // the empty token between the two spaces doesn't count
    // vocabulary must be literals
    intercept[Exception] {
      Seq(Tuple1("x")).toDF("t")
        .select(call_function("graft_vocab_hits", col("t"), col("t"))).collect()
    }
  }

  test("runs inside whole-stage codegen — the reason it exists") {
    import spark.implicits._
    val df = Tables
      .documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 50)
      .select(TextAnalysis.markerHits(col("text"), TextAnalysis.markers("en")).as("h"))
    assert(df.collect().forall(_.getLong(0) >= 0L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_vocab_hits"), plan.take(1500))
    assert(!plan.contains("CodegenFallback"), plan.take(1500))
  }

  test("row kernel directly") {
    import org.apache.spark.unsafe.types.UTF8String
    def vb(ws: String*): Array[Array[Byte]] = ws.map(_.getBytes("UTF-8")).toArray
    def c(s: String, ws: String*): Long =
      VocabHits.compute(UTF8String.fromString(s), vb(ws: _*))
    assert(c("", "the") == 0L)
    assert(c("the", "the") == 1L)
    assert(c("the the  the", "the") == 3L)
    assert(c(" the ", "the") == 1L)
    assert(c("thé la thé", "thé") == 2L) // multi-byte token equality
    assert(c("a  b", "") == 1L) // empty vocab word matches the empty token
  }
}
