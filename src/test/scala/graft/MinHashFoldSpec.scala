package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.functions.MinHashFold
import graft.operators.Dedup

/** The native `graft_minhash` expression: per-member equivalence
  * against the composed k-fold `array_min(transform(affine))`
  * reference, null/empty corners, codegen fusion, and the row kernel.
  */
class MinHashFoldSpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = GraftSession.local(4, appName = "minhash-spec")
  // slowest test in a full-suite run on 4 cores: 0.2 s; a cold session
  // start fits too
  val timeLimit = 60.seconds
  private val K = 12

  test("signature columns agree with the composed k-fold reference incl. nulls/empties") {
    import spark.implicits._
    val rnd = new scala.util.Random(73)
    val rows: Seq[(Long, Seq[Option[Long]])] = (0 until 300).map { i =>
      val n = rnd.nextInt(40)
      (i.toLong, (0 until n).map(_ =>
        if (rnd.nextInt(15) == 0) None
        else Some(rnd.nextLong() & 0xffffffffL))) // h32 range
    } ++ Seq((300L, Seq.empty), (301L, Seq(None, None)), (302L, Seq(Some(0L))))
    val df = rows.map { case (id, hs) =>
      (id, hs.map(_.map(java.lang.Long.valueOf).orNull))
    }.toDF("id", "hs")
    val native = Dedup.minHashSignatureFromHashes(df, "id", "hs", K)
    val composed = Dedup.hofMinHashSignatureFromHashes(df, "id", "hs", K)
    val n = native.orderBy("id").collect()
    val c = composed.orderBy("id").collect()
    n.zip(c).foreach { case (a, b) =>
      (0 until K).foreach { j =>
        val col = 2 + j
        assert(
          a.isNullAt(col) == b.isNullAt(col) &&
            (a.isNullAt(col) || a.getLong(col) == b.getLong(col)),
          s"id=${a.getLong(0)} mh$j: native=${if (a.isNullAt(col)) "null" else a.getLong(col)} " +
            s"composed=${if (b.isNullAt(col)) "null" else b.getLong(col)}")
      }
    }
  }

  test("null hash array propagates null members; k must be a literal") {
    import spark.implicits._
    val df = Seq(Tuple1(null: Array[java.lang.Long])).toDF("hs")
    val r = Dedup.minHashSignatureFromHashes(df.withColumn("id", lit(1L)), "id", "hs", 3).collect()(0)
    (2 until 5).foreach(c => assert(r.isNullAt(c)))
    intercept[Exception] {
      Seq((1L, Array(1L))).toDF("id", "hs")
        .select(call_function("graft_minhash", col("hs"), col("id"))).collect()
    }
  }

  test("runs inside whole-stage codegen and the fold is not duplicated per member") {
    import spark.implicits._
    val df = Dedup.minHashSignatureFromHashes(
      Tables.documents(spark, "/root/testdata/sf0.001")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), Dedup.shingleHashes(col("text"), 5).as("hs")),
      "doc_id", "hs", K)
    assert(df.collect().length == 50)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback"), plan.take(1500))
    // CollapseProject must not inline the staged array into the k
    // getItem projections: no plan line (one operator each; AQE echoes
    // the initial plan as separate lines) may carry the kernel twice
    val dup = plan.linesIterator.filter(l => "graft_minhash".r.findAllIn(l).length > 1).toSeq
    assert(dup.isEmpty, s"fold duplicated within an operator:\n${dup.mkString("\n")}")
    assert(plan.contains("graft_minhash"), plan.take(1500))
  }

  test("row kernel directly: running minima, null skipping, empty -> null members") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def ad(xs: Any*): ArrayData = ArrayData.toArrayData(xs.toArray)
    val P = graft.functions.Hashing.AffineP
    val out = MinHashFold.compute(ad(10L, 7L), 2)
    assert(out.getLong(0) == math.min((10 * 3 + 7) % P, (7 * 3 + 7) % P))
    assert(out.getLong(1) == math.min((10 * 5 + 12) % P, (7 * 5 + 12) % P))
    val empty = MinHashFold.compute(ad(), 3)
    (0 until 3).foreach(j => assert(empty.isNullAt(j)))
    val withNull = MinHashFold.compute(ad(null, 7L), 1)
    assert(withNull.getLong(0) == (7 * 3 + 7) % P)
  }

  test("out-of-contract hashes fail loudly instead of overflow-wrapping (ADVICE r9)") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    def ad(xs: Any*): ArrayData = ArrayData.toArrayData(xs.toArray)
    // the session-registered SQL surface can feed arbitrary BIGINTs;
    // raw affine math would wrap where the composed ANSI form throws
    val eNeg = intercept[IllegalArgumentException](MinHashFold.compute(ad(-1L), 2))
    assert(eNeg.getMessage.contains("h32"))
    val eBig = intercept[IllegalArgumentException](MinHashFold.compute(ad(Long.MaxValue), 2))
    assert(eBig.getMessage.contains("h32"))
    // the h32 ceiling itself stays in contract
    assert(MinHashFold.compute(ad(1L << 33), 1).numElements() == 1)
  }
}
