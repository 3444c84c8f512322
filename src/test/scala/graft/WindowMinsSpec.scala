package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.functions.WindowMins
import graft.operators.Dedup

/** The native `graft_win_mins` expression: equivalence against the
  * composed slice/zip_with(least) reference on randomized arrays
  * (incl. nulls, duplicates, short/empty), codegen fusion, and the
  * deque kernel directly.
  */
class WindowMinsSpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = GraftSession.local(4, appName = "winmins-spec")
  // slowest test in a full-suite run on 4 cores: 0.7 s; a cold session
  // start fits too
  val timeLimit = 60.seconds

  test("agrees with the composed slice/least reference on randomized arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(83)
    val rows: Seq[Seq[Option[Long]]] = (0 until 300).map { _ =>
      val n = rnd.nextInt(30)
      (0 until n).map(_ =>
        if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(8).toLong)) // dups likely
    } ++ Seq(Seq.empty, Seq(Some(5L)), Seq(None, None, None, None, None),
      Seq(Some(3L), None, Some(1L), None, Some(2L)))
    val df = rows
      .map(r => Tuple1(r.map(_.map(java.lang.Long.valueOf).orNull).toArray))
      .toDF("hs")
    for (w <- Seq(1, 2, 4, 7)) {
      val both = df.select(
        call_function("graft_win_mins", col("hs"), lit(w)).as("native"),
        Dedup.hofWindowMins(col("hs"), w).as("composed"))
        .collect()
      both.zipWithIndex.foreach { case (r, i) =>
        assert(
          r.getSeq[Any](0) == r.getSeq[Any](1),
          s"w=$w row $i: native=${r.getSeq[Any](0)} composed=${r.getSeq[Any](1)}")
      }
    }
  }

  test("winnowFingerprints output is unchanged vs a composed-stage rebuild") {
    import spark.implicits._
    val docs = Tables
      .documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 80)
      .select(col("doc_id"), col("text"))
    val native = Dedup.winnowFingerprints(docs, "text", 5, 4, "fp")
    val composed = docs
      .withColumn("__hs", Dedup.hofCharGramHashes(col("text"), 5))
      .withColumn("fp", array_sort(array_distinct(Dedup.hofWindowMins(col("__hs"), 4))))
      .drop("__hs")
    val n = native.orderBy("doc_id").collect()
    val c = composed.orderBy("doc_id").collect()
    n.zip(c).foreach { case (a, b) =>
      assert(a.getSeq[Long](2) == b.getSeq[Long](2), s"doc ${a.getLong(0)}")
    }
  }

  test("NULL input array null-propagates (documented divergence from the composed guard)") {
    import spark.implicits._
    val r = Seq(Tuple1(null: Array[java.lang.Long])).toDF("hs")
      .select(
        call_function("graft_win_mins", col("hs"), lit(3)).as("native"),
        Dedup.hofWindowMins(col("hs"), 3).as("composed"))
      .collect()(0)
    assert(r.isNullAt(0)) // expression: SQL null convention
    assert(r.getSeq[Long](1).isEmpty) // composed when-guard: empty
  }

  test("runs inside whole-stage codegen") {
    import spark.implicits._
    val df = Tables
      .documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 50)
      .select(size(call_function(
        "graft_win_mins", Dedup.charGramHashes(col("text"), 5), lit(4))).as("n"))
    assert(df.collect().forall(_.getInt(0) >= 0))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_win_mins"), plan.take(1500))
    assert(!plan.contains("CodegenFallback"), plan.take(1500))
  }

  test("deque kernel directly: minima, ties, null skipping, short arrays") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def ad(xs: Any*): ArrayData = ArrayData.toArrayData(xs.toArray)
    def mins(a: ArrayData, w: Int): Seq[Any] = {
      val r = WindowMins.compute(a, w)
      (0 until r.numElements()).map(i => if (r.isNullAt(i)) null else r.getLong(i))
    }
    assert(mins(ad(), 3) == Seq())
    assert(mins(ad(5L, 2L), 3) == Seq())
    assert(mins(ad(4L, 2L, 7L, 1L, 9L), 3) == Seq(2L, 1L, 1L))
    assert(mins(ad(3L, 3L, 3L), 2) == Seq(3L, 3L))
    assert(mins(ad(null, 5L, null), 2) == Seq(5L, 5L))
    assert(mins(ad(null, null, 1L), 2) == Seq(null, 1L))
    assert(mins(ad(9L), 1) == Seq(9L))
  }
}
