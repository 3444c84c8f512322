package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.operators.Similarity

/** The native codegen'd dot-product expression: numeric agreement with
  * the decimal-exact path, codegen (no fallback), and the fast top-k
  * twin ranking identically on real embeddings.
  */
class DotProductSpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = SparkTestSession.spark
  // slowest test in a full-suite run on 4 cores: 0.9 s; a cold session
  // start fits too
  val timeLimit = 60.seconds
  val sf = "/root/testdata/sf0.001"

  test("graft_dot agrees with the decimal-exact dot to double precision") {
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 30)
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("idb"), col("embedding").as("eb"))
    val rows = a
      .join(b, col("ida") < col("idb"))
      .select(
        call_function("graft_dot", col("ea"), col("eb")).as("fast"),
        Similarity.dot(col("ea"), col("eb")).as("exact"))
      .collect()
    assert(rows.length == 435)
    rows.foreach { r =>
      val (fast, exact) = (r.getDouble(0), r.getDouble(1))
      assert(math.abs(fast - exact) <= 1e-9 * math.max(1.0, math.abs(exact)),
        s"fast=$fast exact=$exact")
    }
  }

  test("graft_dot runs inside whole-stage codegen (no interpreter fallback)") {
    val e = Tables.embeddings(spark, sf).filter(col("vec_id") < 5)
    val df = e.select(call_function("graft_dot", col("embedding"), col("embedding")).as("sq"))
    // materialize first: with an exchange upstream (the corpus-spread
    // repartition) AQE wraps the plan and the WholeStageCodegen `*(n)`
    // markers only exist in the FINAL plan
    assert(df.collect().forall(_.getDouble(0) >= 0.0))
    val plan = df.queryExecution.executedPlan.toString
    // the `*(n)` prefix marks operators fused into a WholeStageCodegen
    // stage (stage number varies with upstream exchanges, so match any)
    assert("""\*\(\d+\) Project \[graft_dot""".r.findFirstIn(plan).isDefined, plan.take(1500))
    // interpreted-eval expressions surface as CodegenFallback in the plan tree
    assert(!plan.contains("CodegenFallback"))
  }

  test("bruteForceTopKFast ranks like the exact path on fixture embeddings") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity
      .bruteForceTopK(q, emb, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id", "rank")
    val fast = Similarity
      .bruteForceTopKFast(q, emb, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id", "rank")
    assert(exact.except(fast).count() == 0)
    assert(fast.except(exact).count() == 0)
  }
}
