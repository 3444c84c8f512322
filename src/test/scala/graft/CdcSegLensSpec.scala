package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.functions.CdcSegLens
import graft.operators.TextAnalysis

/** The native `graft_cdc_lens` expression: equivalence against the
  * composed zip_with/filter/concat/slice-diff reference on randomized
  * hash streams (incl. nulls, negatives, empties), the NULL-text
  * operator corner, codegen fusion, and the row kernel directly.
  */
class CdcSegLensSpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = GraftSession.local(4, appName = "cdclens-spec")
  // slowest test in a full-suite run on 4 cores: 0.3 s; a cold session
  // start fits too
  val timeLimit = 60.seconds

  test("agrees with the composed boundary/diff reference on randomized streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    val rows: Seq[(Seq[Option[Long]], Long)] = (0 until 300).map { _ =>
      val n = rnd.nextInt(25)
      val hs = (0 until n).map(_ =>
        if (rnd.nextInt(15) == 0) None
        else Some(rnd.nextInt(40).toLong - 8L)) // negatives + frequent mod hits
      (hs, (n + rnd.nextInt(4)).toLong) // len >= boundary positions
    } :+ ((Seq.empty[Option[Long]], 0L)) :+ ((Seq(Some(0L)), 1L)) :+
      ((Seq(Some(-4L), Some(4L)), 5L))
    val df = rows
      .map { case (hs, len) => (hs.map(_.map(java.lang.Long.valueOf).orNull).toArray, len) }
      .toDF("hs", "len")
    for (mod <- Seq(1, 4, 7)) {
      val both = df.select(
        call_function("graft_cdc_lens", col("hs"), lit(mod), col("len")).as("native"),
        TextAnalysis.hofCdcSegLens(col("hs"), mod, col("len")).as("composed"))
        .collect()
      both.zipWithIndex.foreach { case (r, i) =>
        assert(
          r.getSeq[Long](0) == r.getSeq[Long](1),
          s"mod=$mod row $i: native=${r.getSeq[Long](0)} composed=${r.getSeq[Long](1)}")
      }
    }
  }

  test("NULL child null-propagates (documented divergence the operator's coalesce covers)") {
    import spark.implicits._
    val r = Seq(
      (null: Array[java.lang.Long], java.lang.Long.valueOf(5L)), // null hs
      (Array(java.lang.Long.valueOf(4L)), null: java.lang.Long)) // null len
      .toDF("hs", "len")
      .select(
        call_function("graft_cdc_lens", col("hs"), lit(4), col("len")).as("native"),
        TextAnalysis.hofCdcSegLens(col("hs"), 4, col("len")).as("composed"))
      .collect()
    assert(r(0).isNullAt(0)) // expression: SQL null convention
    assert(r(1).isNullAt(0))
    // composed null-hs path: when-guard -> [] boundaries -> [0, len] -> [5]
    assert(r(0).getSeq[Long](1) == Seq(5L))
    // composed null-len path: concat carries the null through the diffs
    assert(r(1).getSeq[Any](1) == Seq(1L, null))
  }

  test("cdcSegmentStats end-to-end unchanged, incl. the NULL-text corner") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox"), (2L, ""), (3L, null: String), (4L, "ab"))
      .toDF("id", "t")
    val r = TextAnalysis.cdcSegmentStats(df, "t", k = 3, mod = 4)
      .select(col("id"), col("n_seg"), col("max_seg"))
      .orderBy("id")
      .collect()
    // empty text: one zero-length segment
    assert(r(1).getLong(1) == 1L && r(1).getLong(2) == 0L)
    // null text: composed chain's [null] diff -> n_seg=1, max_seg null
    assert(r(2).getLong(1) == 1L && r(2).isNullAt(2))
    // sub-width text: one whole-text segment
    assert(r(3).getLong(1) == 1L && r(3).getLong(2) == 2L)
    assert(r(0).getLong(1) >= 1L)
  }

  test("runs inside whole-stage codegen") {
    import spark.implicits._
    val df = Tables
      .documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 50)
    val out = TextAnalysis.cdcSegmentStats(df, "text", k = 5, mod = 64)
      .select(col("n_seg"), col("max_seg"))
    assert(out.collect().forall(_.getLong(0) >= 1L))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("graft_cdc_lens"), plan.take(1500))
    assert(!plan.contains("CodegenFallback"), plan.take(1500))
  }

  test("row kernel directly: boundaries, negatives, nulls, empty stream") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def ad(xs: Any*): ArrayData = ArrayData.toArrayData(xs.toArray)
    def lens(a: ArrayData, len: Long, mod: Int): Seq[Long] = {
      val r = CdcSegLens.compute(a, len, mod)
      (0 until r.numElements()).map(r.getLong)
    }
    assert(lens(ad(), 7L, 4) == Seq(7L))
    assert(lens(ad(8L, 3L, 12L), 5L, 4) == Seq(1L, 2L, 2L)) // bounds at 1,3
    assert(lens(ad(null, 4L), 3L, 4) == Seq(2L, 1L)) // null marks nothing
    assert(lens(ad(-8L, 1L), 4L, 4) == Seq(1L, 3L)) // negative % mod == 0
    assert(lens(ad(0L), 1L, 1) == Seq(1L, 0L)) // mod 1: every gram bounds
    intercept[Exception] {
      CdcSegLens(org.apache.spark.sql.catalyst.expressions.Literal(1L),
        org.apache.spark.sql.catalyst.expressions.Literal(1L), 0)
    }
  }
}
