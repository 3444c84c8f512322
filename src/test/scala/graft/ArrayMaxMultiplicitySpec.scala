package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.functions.ArrayMaxMultiplicity
import graft.operators.TextAnalysis

/** The native `graft_max_mult` expression: equivalence against the
  * independent HOF-fold reference on adversarial inputs, hand-checked
  * values, codegen fusion, and the row kernel directly.
  */
class ArrayMaxMultiplicitySpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = GraftSession.local(4, appName = "maxmult-spec")
  // slowest test in a full-suite run on 4 cores: 0.2 s; a cold session
  // start fits too
  val timeLimit = 60.seconds

  test("agrees with the HOF-fold reference on randomized arrays incl. nulls and empties") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Vector("a", "b", "bb", "", "x y", "é")
    val rows: Seq[Seq[Option[String]]] = (0 until 300).map { _ =>
      val n = rnd.nextInt(12)
      (0 until n).map(_ => if (rnd.nextInt(10) == 0) None else Some(vocab(rnd.nextInt(vocab.size))))
    } :+ Seq.empty :+ Seq(None, None) :+ Seq(Some("a"), None, Some("a"))
    val df = rows.map(r => Tuple1(r.map(_.orNull).toArray)).toDF("arr")
    val both = df
      .select(
        TextAnalysis.maxMultiplicity(col("arr")).as("native"),
        TextAnalysis.hofMaxMultiplicity(col("arr")).as("fold"))
      .collect()
    both.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == r.getLong(1), s"row $i: native=${r.getLong(0)} fold=${r.getLong(1)}")
    }
  }

  test("hand-checked values and the null-run corner") {
    import spark.implicits._
    val cases = Seq(
      (Array("a", "b", "a", "a"), 3L),
      (Array("z"), 1L),
      (Array[String](), 0L),
      (Array("", "", "q"), 2L), // empty strings are real elements
      (Array(null, null, "a"), 1L) // nulls never extend a run
    )
    cases.foreach { case (arr, want) =>
      val got = Seq(Tuple1(arr)).toDF("arr")
        .select(TextAnalysis.maxMultiplicity(col("arr"))).collect()(0).getLong(0)
      assert(got == want, s"${arr.mkString("[", ",", "]")}: got $got want $want")
    }
    // null ARRAY propagates null (UnaryExpression null-safety)
    val nullRow = Seq(Tuple1(null: Array[String])).toDF("arr")
      .select(TextAnalysis.maxMultiplicity(col("arr"))).collect()(0)
    assert(nullRow.isNullAt(0))
  }

  test("runs inside whole-stage codegen — the reason it exists") {
    import spark.implicits._
    // parquet-backed source: a local relation constant-folds the whole
    // projection away and leaves no codegen stage to inspect
    val df = Tables
      .documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 50)
      .select(call_function("graft_max_mult", split(col("text"), " ")).as("m"))
    assert(df.collect().forall(_.getLong(0) >= 1L))
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_max_mult""".r.findFirstIn(plan).isDefined, plan.take(1500))
    assert(!plan.contains("CodegenFallback"), plan.take(1500))
    // type guard
    intercept[Exception] {
      Seq(Tuple1(1L)).toDF("x").select(call_function("graft_max_mult", col("x"))).collect()
    }
  }

  test("row kernel directly: sorted-run scan on pre-built ArrayData") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def ad(xs: String*): ArrayData =
      ArrayData.toArrayData(xs.map(x => if (x == null) null else UTF8String.fromString(x)).toArray)
    assert(ArrayMaxMultiplicity.compute(ad()) == 0L)
    assert(ArrayMaxMultiplicity.compute(ad("b", "a", "b", "b", "a")) == 3L)
    assert(ArrayMaxMultiplicity.compute(ad(null, "a", null, "a")) == 2L)
  }
}
