package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.operators.Dedup

/** Connected-components semantics (the pair→group step of the dedup
  * pipeline, q51).
  */
class ConnCompSpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = SparkTestSession.spark
  // slowest test in a full-suite run on 4 cores: ~10 s
  val timeLimit = 60.seconds

  private def comps(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup
      .connectedComponents(edges.toDF("a", "b"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
  }

  test("chain with diameter > 2 converges to the min label") {
    // 5—4—3—2—1 plus isolated pair 10—11: needs >2 propagation rounds.
    val m = comps(Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (10L, 11L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("edge direction and duplicates are irrelevant (undirected, distinct)") {
    val m = comps(Seq((7L, 2L), (2L, 7L), (7L, 2L), (2L, 9L)))
    assert(m == Map(2L -> 2L, 7L -> 2L, 9L -> 2L))
  }

  test("two stars merged by a bridge collapse to one component") {
    val star1 = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val star2 = Seq((8L, 9L), (8L, 10L))
    val m1 = comps(star1 ++ star2)
    assert(m1.values.toSet == Set(1L, 8L))
    val m2 = comps(star1 ++ star2 ++ Seq((4L, 10L)))
    assert(m2.values.toSet == Set(1L))
    assert(m2(9L) == 1L && m2(8L) == 1L)
  }

  test("self-loops are harmless") {
    val m = comps(Seq((3L, 3L), (3L, 5L)))
    assert(m == Map(3L -> 3L, 5L -> 3L))
  }

  test("empty edge set returns an empty (node, component) frame, no NPE") {
    import spark.implicits._
    val out = Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("a", "b"))
    assert(out.columns.toSeq == Seq("node", "component"))
    assert(out.count() == 0)
  }

  test("non-convergence at maxIter throws instead of returning wrong labels") {
    import spark.implicits._
    // Path graph 0—1—…—200: with pointer jumping the propagated
    // distance roughly doubles per round, so 2 rounds cover far less
    // than diameter 200 — the guard must throw rather than return
    // partially-propagated labels.
    // local = Some(false): the budget guard belongs to the iterative
    // arm (the union-find arm has no rounds to budget).
    val path = (0L until 200L).map(i => (i, i + 1))
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(path.toDF("a", "b"), maxIter = 2, local = Some(false)).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // With enough rounds (O(log 200) ≈ 8) the same graph converges to
    // component 0 well inside the default budget.
    val m = Dedup
      .connectedComponents(path.toDF("a", "b"), maxIter = 20, local = Some(false))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(m.size == 201 && m.values.forall(_ == 0L))
  }

  test("releasable variant: labels stay correct and release drops the backing blocks") {
    import spark.implicits._
    // local = Some(false): the block-lifecycle contract under test is
    // the ITERATIVE arm's (the union-find arm persists nothing).
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (labels, release) =
      Dedup.connectedComponentsReleasable(
        Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), local = Some(false))
    val m = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // the returned frame is backed by exactly one persisted RDD…
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size == 1)
    release()
    // …which the handle releases (unpersist deregisters synchronously;
    // only the block deletion is async)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  // ---- r16 driver-local union-find arm -------------------------------

  private def compsArm(edges: Seq[(Long, Long)], local: Boolean): Map[Long, Long] = {
    import spark.implicits._
    Dedup
      .connectedComponents(edges.toDF("a", "b"), local = Some(local))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .toMap
  }

  test("arm equality: local union-find ≡ iterative labels on path/star/random graphs") {
    // The min-label fixpoint is unique, so the arms must agree exactly.
    val path = (0L until 120L).map(i => (i + 1, i)) // reversed pairs: direction-free
    val stars = Seq((50L, 51L), (50L, 52L), (50L, 53L), (90L, 91L), (91L, 90L))
    // Deterministic pseudo-random graph with self-loops and duplicate
    // edges: the degenerate shapes both arms must canonicalize away.
    val rnd = (0 until 400).map { i =>
      val a = (i * 2654435761L) % 97L
      val b = (i * 40503L + 7L) % 97L
      (a, b)
    }
    for (g <- Seq(path, stars, rnd, path ++ stars ++ rnd))
      assert(compsArm(g, local = true) == compsArm(g, local = false))
  }

  test("local arm auto-selects under the ceiling and persists no label blocks") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val m = comps(Seq((4L, 2L), (2L, 6L), (9L, 8L)))
    assert(m == Map(2L -> 2L, 4L -> 2L, 6L -> 2L, 8L -> 8L, 9L -> 8L))
    // auto-local (tiny edge set): nothing persisted once the call returns
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("local arm: explicit request works and the ceiling stays collect-safe") {
    import spark.implicits._
    // Exercising the REAL over-ceiling refusal needs >2M mirrored rows
    // (too heavy for the suite); the guard is the same require-on-
    // observed-count idiom BpeTrainerSpec drives directly. Here: the
    // explicit arm computes, and the ceiling stays in the
    // tens-of-MB-collect range the idiom assumes.
    assert(Dedup.LocalEdgeCeil <= 16L * 1024 * 1024)
    val ok = Dedup.connectedComponents(
      Seq((1L, 2L)).toDF("a", "b"), local = Some(true))
    assert(ok.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 1L), (2L, 1L)))
  }
}
