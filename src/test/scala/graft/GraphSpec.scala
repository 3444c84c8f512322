package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.operators.Graph

/** Integer-exact PageRank: hand-computed fixed points, dangling-node
  * policy, empty-graph short-circuit, and partitioning invariance
  * (the determinism the integer formulation exists to buy).
  */
class GraphSpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = GraftSession.local(4, appName = "graph-spec")
  // slowest test in a full-suite run on 4 cores: ~6 s
  val timeLimit = 60.seconds

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    import spark.implicits._
    df.select(col("node"), col("rank")).as[(Long, Long)].collect().toMap
  }

  test("path graph 1-2-3 (bidirectional): two hand-computed rounds") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    // r0 = 1e6 each; outdeg 1:1, 2:2, 3:1; base = 150000.
    // round 1: r(1)=r(3)=150000+85%·500000=575000; r(2)=150000+85%·2000000=1850000
    // round 2: r(1)=r(3)=150000+85%·(1850000 div 2)=936250;
    //          r(2)=150000+85%·(575000+575000)=1127500
    assert(ranks(Graph.integerPageRank(e, iterations = 1)) ==
      Map(1L -> 575000L, 2L -> 1850000L, 3L -> 575000L))
    assert(ranks(Graph.integerPageRank(e, iterations = 2)) ==
      Map(1L -> 936250L, 2L -> 1127500L, 3L -> 936250L))
  }

  test("dangling node keeps receiving but sends nothing; sourceless node keeps only the base") {
    import spark.implicits._
    val e = Seq((1L, 2L)).toDF("src", "dst")
    // node 2 dangles (no out-edge): its mass is dropped, not redistributed.
    assert(ranks(Graph.integerPageRank(e, iterations = 1)) ==
      Map(1L -> 150000L, 2L -> 1000000L))
    // next round node 2 still receives only node 1's (now base-sized) mass
    assert(ranks(Graph.integerPageRank(e, iterations = 2)) ==
      Map(1L -> 150000L, 2L -> 277500L))
  }

  test("duplicate edges collapse before degree counting") {
    import spark.implicits._
    val once = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val dup  = Seq((1L, 2L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    assert(ranks(Graph.integerPageRank(once, 2)) == ranks(Graph.integerPageRank(dup, 2)))
  }

  test("undirected pair list ≡ explicitly mirrored directed edges; self-loops dropped") {
    import spark.implicits._
    // same path graph 1-2-3 given as unordered pairs (one direction,
    // mixed orientation, a duplicate, and a self-loop to drop)
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 2L), (1L, 1L)).toDF("src", "dst")
    assert(ranks(Graph.integerPageRank(pairs, 2, undirected = true)) ==
      Map(1L -> 936250L, 2L -> 1127500L, 3L -> 936250L))
  }

  test("seeded (TrustRank) mode: teleport and initial mass reach only seeds") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    // r0 = (1e6, 0, 0); base 150000 only at node 1.
    // round 1: r(1)=150000+85%·0=150000; r(2)=0+85%·(1e6 div 1)=850000; r(3)=0
    // round 2: r(1)=150000+85%·(850000 div 2)=511250;
    //          r(2)=0+85%·(150000 div 1 + 0 div 1)=127500;
    //          r(3)=0+85%·(850000 div 2)=361250
    assert(ranks(Graph.integerPageRank(e, 1, seeds = Some(seeds))) ==
      Map(1L -> 150000L, 2L -> 850000L, 3L -> 0L))
    assert(ranks(Graph.integerPageRank(e, 2, seeds = Some(seeds))) ==
      Map(1L -> 511250L, 2L -> 127500L, 3L -> 361250L))
  }

  test("weighted mode splits mass by edge weight; parallel edges sum") {
    import spark.implicits._
    // node 1 sends to 2 (w=3) and 3 (w=1): wsum=4.
    // round 1: r(2)=150000+85%·((1e6·3) div 4)=787500;
    //          r(3)=150000+85%·((1e6·1) div 4)=362500; r(1)=150000
    val w = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val expected = Map(1L -> 150000L, 2L -> 787500L, 3L -> 362500L)
    assert(ranks(Graph.integerPageRank(w, 1, weightCol = Some("w"))) == expected)
    // same graph as parallel unit edges — weights sum inside the dedup
    val par = Seq((1L, 2L, 1L), (1L, 2L, 1L), (1L, 2L, 1L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    assert(ranks(Graph.integerPageRank(par, 1, weightCol = Some("w"))) == expected)
  }

  test("labelPropagation: majority vote with min-label tie-break, seeds clamped") {
    import spark.implicits._
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
      df.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // path 1-2-3-4 (unordered pairs), seeds: 1→7, 4→9
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L)).toDF("a", "b")
    val seeds = Seq((1L, 7L), (4L, 9L)).toDF("node", "label")
    // round 1: 2←{7}, 3←{9} → {1:7, 2:7, 3:9, 4:9}
    assert(labels(graft.operators.Graph.labelPropagation(pairs, seeds, 1)) ==
      Map(1L -> Some(7L), 2L -> Some(7L), 3L -> Some(9L), 4L -> Some(9L)))
    // round 2: node 2 sees {7 from 1, 9 from 3} — tie → min 7;
    //          node 3 sees {7 from 2, 9 from 4} — tie → min 7
    assert(labels(graft.operators.Graph.labelPropagation(pairs, seeds, 2)) ==
      Map(1L -> Some(7L), 2L -> Some(7L), 3L -> Some(7L), 4L -> Some(9L)))
    // isolated-from-seeds component stays null
    val pairs2 = Seq((2L, 1L), (5L, 6L)).toDF("a", "b")
    val seeds2 = Seq((1L, 3L)).toDF("node", "label")
    assert(labels(graft.operators.Graph.labelPropagation(pairs2, seeds2, 3)) ==
      Map(1L -> Some(3L), 2L -> Some(3L), 5L -> None, 6L -> None))
    // conflicting seed rows resolve to the smallest label, no fan-out
    val seeds3 = Seq((1L, 7L), (1L, 5L), (4L, 9L)).toDF("node", "label")
    assert(labels(graft.operators.Graph.labelPropagation(pairs, seeds3, 1)) ==
      Map(1L -> Some(5L), 2L -> Some(5L), 3L -> Some(9L), 4L -> Some(9L)))
  }

  test("empty edge list returns an empty (node, rank) frame") {
    import spark.implicits._
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = Graph.integerPageRank(e)
    assert(out.columns.toSeq == Seq("node", "rank"))
    assert(out.count() == 0L)
  }

  test("ranks are invariant under adversarial input repartitioning") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val e = (0 until 400)
      .map(_ => (r.nextInt(40).toLong, r.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
      .toDF("src", "dst")
    val base = ranks(Graph.integerPageRank(e, 3))
    for (parts <- Seq(1, 7, 64)) {
      assert(ranks(Graph.integerPageRank(e.repartition(parts, col("dst")), 3)) == base)
    }
  }

  test("labelPropagation is invariant under adversarial input repartitioning") {
    import spark.implicits._
    val r = new scala.util.Random(11)
    val pairs = (0 until 300)
      .map(_ => (r.nextInt(35).toLong, r.nextInt(35).toLong))
      .toDF("a", "b")
    val seeds = (0 until 8).map(i => (i.toLong * 4, (i % 3).toLong)).toDF("node", "label")
    def run(p: org.apache.spark.sql.DataFrame): Map[Long, Any] =
      graft.operators.Graph.labelPropagation(p, seeds, 3)
        .collect().map(r0 => r0.getLong(0) -> (if (r0.isNullAt(1)) null else r0.getLong(1))).toMap
    val base = run(pairs)
    for (parts <- Seq(1, 5, 64)) {
      assert(run(pairs.repartition(parts, col("b"))) == base, s"parts=$parts")
    }
  }

  test("triangleCounts: hand-computed cliques, shared edges, pendants, drift chains") {
    import spark.implicits._
    def tc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
      graft.operators.Graph.triangleCounts(pairs.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // triangle + pendant + disconnected drift edge
    assert(tc(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (5L, 6L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L, 5L -> 0L, 6L -> 0L))
    // two triangles sharing edge 2-3 (K4 minus 1-4)
    assert(tc(Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    // K4: every node in C(3,2)=3 triangles; dup edges and reversed
    // orientation collapse
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b)
    assert(tc(k4) == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // empty
    assert(tc(Seq.empty) == Map.empty)
  }

  test("triangleCounts matches a driver-side triple loop on random graphs") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(1300 + seed)
      val n = 25
      val pairs = (1 to 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val canon = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.distinct.toSet
      val nodes = canon.toSeq.flatMap { case (a, b) => Seq(a, b) }.distinct
      val expected = nodes.map { v =>
        v -> (for {
          (a, b) <- canon.toSeq
          c <- nodes
          if c > b && canon((a, c)) && canon((b, c)) && (v == a || v == b || v == c)
        } yield 1).size.toLong
      }.toMap
      val got = graft.operators.Graph.triangleCounts(pairs.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed")
    }
  }

  test("kCore: triangle survives, chains and stars peel; k=3 empties it") {
    import spark.implicits._
    // triangle {1,2,3} + chain 3-4-5-6 hanging off it + star at 7
    val e = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (3L, 4L), (4L, 5L), (5L, 6L),
      (7L, 8L), (7L, 9L), (7L, 10L)).toDF("a", "b")
    val core2 = Graph.kCore(e, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(Graph.kCore(e, k = 3).count() == 0L)
    // two triangles sharing node 3: all six nodes survive, 3 has deg 4
    val e2 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L)).toDF("a", "b")
    val c2 = Graph.kCore(e2, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2 == Map(1L -> 2L, 2L -> 2L, 3L -> 4L, 4L -> 2L, 5L -> 2L))
  }

  test("kCore: throws past maxRounds instead of returning a superset of the core") {
    import spark.implicits._
    // a pure path peels one end-pair per round — depth ~ length/2
    val path = (1L to 9L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("a", "b")
    intercept[IllegalStateException](Graph.kCore(path, k = 2, maxRounds = 2))
    assert(Graph.kCore(path, k = 2, maxRounds = 12).count() == 0L)
    intercept[IllegalArgumentException](Graph.kCore(path, k = 0))
    assert(Graph.kCore(path.limit(0), k = 2).count() == 0L)
  }

  test("kCore matches a driver-side peel on random graphs, under repartitioning") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(2600 + seed)
      val n = 30
      val pairs = (1 to 55).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val canon = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.distinct
      // driver replay: peel to fixpoint
      var alive = canon.flatMap { case (a, b) => Seq(a, b) }.toSet
      var changed = true
      while (changed) {
        val deg = canon.filter { case (a, b) => alive(a) && alive(b) }
          .flatMap { case (a, b) => Seq(a, b) }
          .groupBy(identity).map { case (v, o) => v -> o.size.toLong }
        val next = alive.filter(v => deg.getOrElse(v, 0L) >= 2L)
        changed = next != alive
        alive = next
      }
      val finalDeg = canon.filter { case (a, b) => alive(a) && alive(b) }
        .flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (v, o) => v -> o.size.toLong }
      val got = Graph.kCore(pairs.toDF("a", "b").repartition(7), k = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == finalDeg, s"seed $seed")
    }
  }

  test("kCore release handle unpersists its cached frames") {
    import spark.implicits._
    GraftSession.releaseAllCaches(spark)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("a", "b")
    val (out, release) = Graph.kCoreReleasable(e, k = 2)
    out.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("hits: hand-computed alternating rounds with max-rescaling") {
    import spark.implicits._
    // 1→3, 1→4, 2→3 at scale 100.
    // r1 auth: raw(3)=200, raw(4)=100, mx=200 → a(3)=100, a(4)=50
    // r1 hub:  raw(1)=150, raw(2)=100, mx=150 → h(1)=100, h(2)=66
    // r2 auth: raw(3)=166, raw(4)=100, mx=166 → a(3)=100, a(4)=60
    // r2 hub:  raw(1)=160, raw(2)=100, mx=160 → h(1)=100, h(2)=62
    val e = Seq((1L, 3L), (1L, 4L), (2L, 3L), (1L, 3L), (5L, 5L)).toDF("src", "dst")
    val out = Graph.hits(e, iterations = 2, scale = 100L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // duplicate edge 1→3 collapses; self-loop 5→5 drops entirely
    assert(out == Map(
      1L -> ((100L, 0L)),
      2L -> ((62L, 0L)),
      3L -> ((0L, 100L)),
      4L -> ((0L, 60L))))
  }

  test("hits: guards, empty graph, repartition invariance, release handle") {
    import spark.implicits._
    val e = Seq((1L, 3L), (1L, 4L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.hits(e, iterations = 0))
    intercept[IllegalArgumentException](Graph.hits(e, iterations = 7))
    intercept[IllegalArgumentException](Graph.hits(e, scale = 0L))
    assert(Graph.hits(e.limit(0)).count() == 0L)
    val a = Graph.hits(e.repartition(1), iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Graph.hits(e.repartition(11), iterations = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b && a.nonEmpty)
    GraftSession.releaseAllCaches(spark)
    val (out, release) = Graph.hitsReleasable(e, 2)
    out.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("release handle unpersists every cached frame") {
    import spark.implicits._
    // Sweep first: sibling tests use the non-releasable wrapper, whose
    // caches are (by contract) left for the session sweep — counting
    // from a dirty baseline makes the delta assertion race the
    // ContextCleaner.
    GraftSession.releaseAllCaches(spark)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val (out, release) = Graph.integerPageRankReleasable(e, 2)
    out.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  private def dists(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    import spark.implicits._
    df.select(col("node"), col("dist")).as[(Long, Long)].collect().toMap
  }

  test("bfsDistances: hand-computed hops on a path + branch, unreachable absent") {
    import spark.implicits._
    // 1-2-3-4-5 path, 3-6 branch, 8-9 disconnected; seed {1}.
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (3L, 6L), (8L, 9L)).toDF("a", "b")
    val seeds = Seq(1L).toDF("n")
    assert(dists(Graph.bfsDistances(e, seeds, maxHops = 6)) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 6L -> 3L, 5L -> 4L))
    // maxHops truncates: 5 (dist 4) drops at maxHops = 3
    assert(dists(Graph.bfsDistances(e, seeds, maxHops = 3)) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 6L -> 3L))
  }

  test("bfsDistances: multi-source takes the MIN hop; isolated seed stays at 0") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    // seeds at both ends + one not in the graph at all
    val seeds = Seq(1L, 5L, 99L).toDF("n")
    assert(dists(Graph.bfsDistances(e, seeds, maxHops = 6)) ==
      Map(1L -> 0L, 5L -> 0L, 99L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
  }

  test("bfsDistances: undirected mirroring, duplicate/self edges, repartition invariance, release") {
    import spark.implicits._
    // edges arrive in mixed orientation with dups and a self-loop
    val e = Seq((2L, 1L), (1L, 2L), (3L, 2L), (3L, 3L), (3L, 4L)).toDF("a", "b")
    val seeds = Seq(4L).toDF("n")
    val expected = Map(4L -> 0L, 3L -> 1L, 2L -> 2L, 1L -> 3L)
    assert(dists(Graph.bfsDistances(e.repartition(1), seeds, maxHops = 8)) == expected)
    assert(dists(Graph.bfsDistances(e.repartition(7), seeds.repartition(3), maxHops = 8)) == expected)
    intercept[IllegalArgumentException](Graph.bfsDistances(e, seeds, maxHops = 0))
    GraftSession.releaseAllCaches(spark)
    val (out, release) = Graph.bfsDistancesReleasable(e, seeds, maxHops = 4)
    out.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("weightedDistances: cheap long path beats expensive direct edge; min-cost parallel edges") {
    import spark.implicits._
    // 1-4 direct cost 10; 1-2-3-4 chain cost 2+2+2=6; a parallel 1-4
    // edge at 50 must lose to the 10.
    val e = Seq((1L, 4L, 10L), (1L, 4L, 50L), (1L, 2L, 2L), (2L, 3L, 2L), (3L, 4L, 2L))
      .toDF("a", "b", "cost")
    val seeds = Seq(1L).toDF("n")
    assert(dists(Graph.weightedDistances(e, seeds, rounds = 4)) ==
      Map(1L -> 0L, 2L -> 2L, 3L -> 4L, 4L -> 6L))
    // one round only: relaxation hasn't found the chain yet
    assert(dists(Graph.weightedDistances(e, seeds, rounds = 1)) ==
      Map(1L -> 0L, 2L -> 2L, 4L -> 10L))
  }

  test("weightedDistances: multi-source min, isolated seed, mirroring, invariance, release") {
    import spark.implicits._
    val e = Seq((2L, 1L, 3L), (3L, 2L, 3L), (3L, 4L, 1L), (4L, 4L, 9L)).toDF("a", "b", "c")
    val seeds = Seq(1L, 4L, 77L).toDF("n")
    val expected = Map(1L -> 0L, 4L -> 0L, 77L -> 0L, 2L -> 3L, 3L -> 1L)
    assert(dists(Graph.weightedDistances(e.repartition(1), seeds, rounds = 3)) == expected)
    assert(dists(Graph.weightedDistances(e.repartition(7), seeds.repartition(2), rounds = 3)) == expected)
    intercept[IllegalArgumentException](Graph.weightedDistances(e, seeds, rounds = 0))
    GraftSession.releaseAllCaches(spark)
    val (out, release) = Graph.weightedDistancesReleasable(e, seeds, rounds = 2)
    out.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("weightedDistances: non-positive cost throws AND unpersists its leaves") {
    import spark.implicits._
    val e = Seq((1L, 2L, 0L), (2L, 3L, 5L)).toDF("a", "b", "c")
    val seeds = Seq(1L).toDF("n")
    GraftSession.releaseAllCaches(spark)
    val ex = intercept[IllegalArgumentException](
      Graph.weightedDistances(e, seeds, rounds = 2))
    assert(ex.getMessage.contains("non-positive cost"))
    // throw-path cleanup: the canonical leaf was persisted before the
    // contract check; the catch must release it (no session-long leak)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("weightedDistances: a throw from the canon-materializing action itself leaks nothing") {
    import spark.implicits._
    GraftSession.releaseAllCaches(spark)
    // The caller-derived cost throws during canon's OWN count (ANSI
    // division by zero) — before the contract check, after rawRdd is
    // persisted. The try must already be open there.
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("a", "b", "c")
      .withColumn("c", expr("c div (c - c)"))
    val seeds = Seq(1L).toDF("n")
    intercept[Throwable](Graph.weightedDistances(e, seeds, rounds = 2))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("hits: mid-loop failure unpersists e/nodes/score caches before rethrowing") {
    import spark.implicits._
    GraftSession.releaseAllCaches(spark)
    // A plan that builds fine but THROWS during the loop's first
    // action (ANSI division by zero inside the edge frame), after
    // e.count()/nodes.count() have already populated caches.
    val e = Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
      .withColumn("s", expr("s div (s - s)"))
    intercept[Throwable](Graph.hits(e, iterations = 1))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty &&
      spark.sharedState.cacheManager.isEmpty)
  }

  test("earliestArrival: time-respecting only — early departures carry nothing") {
    import spark.implicits._
    // seed 1. Chain 1→2 (dep 5, arr 6) then 2→3 has TWO options:
    // (dep 4, arr 5) departs before influence reaches 2 (at 6) — dead;
    // (dep 7, arr 9) works. Direct 1→3 (dep 2, arr 20) also works but
    // arrives later than the chain? 9 < 20 → chain wins.
    val e = Seq(
      (1L, 2L, 5L, 6L), (2L, 3L, 4L, 5L), (2L, 3L, 7L, 9L), (1L, 3L, 2L, 20L))
      .toDF("src", "dst", "dep", "arr")
    val seeds = Seq(1L).toDF("n")
    val got = Graph.earliestArrival(e, seeds, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 0L, 2L -> 6L, 3L -> 9L))
    // with one round only, the chain hasn't relaxed: 3 arrives at 20
    val one = Graph.earliestArrival(e, seeds, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(one == Map(1L -> 0L, 2L -> 6L, 3L -> 20L))
  }

  test("earliestArrival: directed (no mirror), dep<arr contract, invariance, release") {
    import spark.implicits._
    // 2→1 must NOT carry influence 1→2; a dep>=arr row is dropped.
    val e = Seq((2L, 1L, 3L, 4L), (1L, 3L, 5L, 7L), (9L, 9L, 1L, 2L), (4L, 5L, 8L, 8L))
      .toDF("src", "dst", "dep", "arr")
    val seeds = Seq(1L).toDF("n")
    val expected = Map(1L -> 0L, 3L -> 7L)
    assert(Graph.earliestArrival(e.repartition(1), seeds, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap == expected)
    assert(Graph.earliestArrival(e.repartition(5), seeds.repartition(2), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap == expected)
    intercept[IllegalArgumentException](Graph.earliestArrival(e, seeds, 0))
    GraftSession.releaseAllCaches(spark)
    val (out, release) = Graph.earliestArrivalReleasable(e, seeds, 2)
    out.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("bfsDistances matches a driver-side BFS on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (_ <- 1 to 3) {
      val n = 40
      val edges = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val seedIds = Seq.fill(4)(rnd.nextInt(n).toLong).distinct
      val adj = edges.filter(p => p._1 != p._2)
        .flatMap(p => Seq(p, p.swap)).distinct
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      var dist = seedIds.map(_ -> 0L).toMap
      var frontier = seedIds.toSet
      var h = 0L
      while (frontier.nonEmpty && h < 10) {
        h += 1
        val next = frontier.flatMap(x => adj.getOrElse(x, Set.empty)) -- dist.keySet
        dist = dist ++ next.map(_ -> h)
        frontier = next
      }
      val got = dists(Graph.bfsDistances(
        edges.toDF("a", "b"), seedIds.toDF("n"), maxHops = 10))
      assert(got == dist)
    }
  }
}
