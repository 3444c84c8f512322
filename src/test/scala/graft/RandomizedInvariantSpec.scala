package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Relational, TextAnalysis}

/** Randomized cross-checks: each case replays an operator's contract
  * INDEPENDENTLY on the driver (union-find, greedy scan, sort-and-pick,
  * direct formula evaluation) over seeded random inputs and compares
  * exactly. Seeds are fixed, so failures reproduce; the random shapes
  * cover structures the hand-built unit cases don't (long chains,
  * simultaneous overflow+reset, tie-heavy value columns).
  */
class RandomizedInvariantSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("connectedComponents matches driver-side union-find on random graphs") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = (1 to 70).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val got = Dedup.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // Union-find with min-label extraction.
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val minLabel = nodes.groupBy(find).flatMap { case (_, member) =>
        val m = member.min; member.map(_ -> m)
      }
      assert(got == minLabel, s"seed $seed")
    }
  }

  test("packSequences matches a driver-side greedy replay on random corpora") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val seqLen = 16
      val nShards = 4
      val docs = (0L until 120L).map { id =>
        (id, (1 to (1 + rnd.nextInt(30))).map(i => s"w$i").mkString(" "))
      }
      val got = TextAnalysis
        .packSequences(docs.toDF("id", "text"), "id", "text", seqLen, nShards)
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
      val expected = docs
        .map { case (id, t) => (id, (id % nShards).toInt, math.min(t.split(" ").length.toLong, seqLen.toLong)) }
        .groupBy(_._2).flatMap { case (shard, ds) =>
          var bin = 0L; var fill = 0L
          ds.sortBy(_._1).map { case (id, _, tok) =>
            if (fill + tok <= seqLen) fill += tok else { bin += 1; fill = tok }
            id -> ((shard, tok, bin))
          }
        }
      assert(got == expected, s"seed $seed")
    }
  }

  test("spanDedupStats matches a driver-side replay on random near-dup corpora") {
    import spark.implicits._
    val (w, s, k) = (4, 2, 2)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(200 + seed)
      // Small vocabulary + copied prefixes force genuine cross-document
      // span repeats.
      val base = (0L until 80L).map { id =>
        (id, (1 to (2 + rnd.nextInt(12))).map(_ => s"t${rnd.nextInt(6)}").mkString(" "))
      }
      val docs = base ++ base.take(10).map { case (id, t) => (id + 1000L, t) }
      val got = Dedup
        .spanDedupStats(docs.toDF("id", "text"), "id", "text", w, s, k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
        .toSet
      val spans = docs.flatMap { case (id, t) =>
        val toks = t.split(" ")
        if (toks.length < w) Seq.empty
        else (0 to (toks.length - w) / s).map(i => (id, i.toLong, toks.slice(i * s, i * s + w).mkString(" ")))
      }
      val firstOf = spans.groupBy(_._3).map { case (sv, occ) => sv -> occ.map(o => (o._1, o._2)).min }
      val docsOf = spans.groupBy(_._3).map { case (sv, occ) => sv -> occ.map(_._1).distinct.size }
      val perDoc = spans.groupBy(_._1).map { case (id, occ) =>
        val nd = occ.count(o => firstOf(o._3) != ((o._1, o._2)))
        (id, occ.size.toLong, nd.toLong, occ.count(o => docsOf(o._3) >= k).toLong)
      }
      val expected = docs.map { case (id, _) =>
        val (_, ns, ndup, nb) = perDoc.find(_._1 == id).getOrElse((id, 0L, 0L, 0L))
        (id, ns, ndup, nb, if (ns > 0) ndup.toDouble / ns else 0.0)
      }.toSet
      assert(got == expected, s"seed $seed")
      // Global identity: total dup spans == occurrences minus values.
      val gotDup = got.toSeq.map(_._3).sum
      assert(gotDup == spans.size - spans.map(_._3).distinct.size, s"seed $seed identity")
    }
  }

  test("groupedDiscreteQuantiles matches driver sort-and-pick on tie-heavy data") {
    import spark.implicits._
    val ps = Seq(0.25, 0.5, 0.9)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(300 + seed)
      // nextInt(8) values make heavy ties; 3 groups of uneven sizes.
      val rows = (1 to 400).map(_ => (s"g${rnd.nextInt(3)}", rnd.nextInt(8).toDouble))
      val got = Relational
        .groupedDiscreteQuantiles(rows.toDF("g", "v"), "g", "v", ps, numPartitions = 7)
        .collect().map(r => r.getString(0) -> ps.indices.map(i => r.getDouble(1 + i))).toMap
      val expected = rows.groupBy(_._1).map { case (g, vs) =>
        val sorted = vs.map(_._2).sorted
        g -> ps.map(p => sorted((math.max(1L, math.ceil(sorted.size * p).toLong) - 1).toInt))
      }
      assert(got == expected, s"seed $seed")
      GraftSession.releaseAllCaches(spark)
    }
  }

  test("integerPageRank (directed, seeded, danglers, 5 rounds) matches a driver-side replay") {
    import spark.implicits._
    // iterations = 5 crosses the every-4-rounds leaf checkpoint, so
    // the persisted-leaf rewrap path is exercised, not just lazy
    // stacking. Graphs include danglers (nodes with no out-edge),
    // self-loops (kept in directed mode), and duplicate edges.
    def replay(
        edges: Seq[(Long, Long, Long)],
        iters: Int,
        seeds: Option[Set[Long]],
        weighted: Boolean): Map[Long, Long] = {
      // parallel edges: sum weights when weighted, collapse to 1 when not
      val e = edges.groupBy(w => (w._1, w._2)).map { case ((a, b), es) =>
        (a, b, if (weighted) es.map(_._3).sum else 1L)
      }.toSeq
      val nodes = e.flatMap { case (a, b, _) => Seq(a, b) }.distinct
      val wsum = e.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val isSeed: Long => Boolean = seeds.map(s => s.contains(_)).getOrElse(_ => true)
      var rank = nodes.map(n => n -> (if (isSeed(n)) 1000000L else 0L)).toMap
      for (_ <- 1 to iters) {
        val in = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
        e.foreach { case (s0, t, w) => in(t) += rank(s0) * w / wsum(s0) }
        rank = nodes.map(n => n -> ((if (isSeed(n)) 150000L else 0L) + (85L * in(n)) / 100L)).toMap
      }
      rank
    }
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(500 + seed)
      val n = 40
      val edges = (1 to 90).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, 1L + rnd.nextInt(5)))
      val seedSet = (1 to 8).map(_ => rnd.nextInt(n).toLong).toSet
      for {
        seeds <- Seq(None, Some(seedSet))
        weighted <- Seq(false, true)
      } {
        val got = graft.operators.Graph
          .integerPageRank(edges.toDF("a", "b", "wt"), iterations = 5,
            seeds = seeds.map(ss => ss.toSeq.toDF("node")),
            weightCol = if (weighted) Some("wt") else None)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == replay(edges, 5, seeds, weighted), s"seed $seed seeds=$seeds weighted=$weighted")
      }
    }
  }

  test("labelPropagation matches a driver-side majority-vote replay on random graphs") {
    import spark.implicits._
    def replay(
        pairs: Seq[(Long, Long)],
        seedMap: Map[Long, Long],
        iters: Int): Map[Long, Option[Long]] = {
      val canon = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.distinct
      val e = canon ++ canon.map(_.swap)
      val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct
      var lab: Map[Long, Option[Long]] = nodes.map(n => n -> seedMap.get(n)).toMap
      for (_ <- 1 to iters) {
        val votes = e.flatMap { case (s0, t) => lab(s0).map(l => (t, l)) }
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        lab = nodes.map { n =>
          val mine = votes.collect { case ((t, l), c) if t == n => (l, c) }
          val picked =
            if (mine.isEmpty) None
            else {
              val mc = mine.map(_._2).max
              Some(mine.collect { case (l, c) if c == mc => l }.min)
            }
          n -> seedMap.get(n).orElse(picked)
        }.toMap
      }
      lab
    }
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(900 + seed)
      val n = 30
      val pairs = (1 to 60).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val seedMap = (1 to 6).map(_ => rnd.nextInt(n).toLong -> rnd.nextInt(4).toLong).toMap
      val got = graft.operators.Graph
        .labelPropagation(pairs.toDF("a", "b"), seedMap.toSeq.toDF("node", "label"), iterations = 5)
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(got == replay(pairs, seedMap, 5), s"seed $seed")
    }
  }

  test("minHashSignatureFromHashes matches the affine formula evaluated on the driver") {
    import spark.implicits._
    val kSig = 6
    val rnd = new scala.util.Random(42)
    val rows = (1L to 50L).map { id =>
      (id, (1 to (1 + rnd.nextInt(20))).map(_ => rnd.nextInt(Int.MaxValue).toLong))
    }
    val got = Dedup
      .minHashSignatureFromHashes(rows.toDF("id", "hs"), "id", "hs", kSig)
      .collect().map(r => r.getLong(0) -> (0 until kSig).map(j => r.getLong(2 + j))).toMap
    val p = graft.functions.Hashing.AffineP
    val expected = rows.map { case (id, hs) =>
      id -> (0 until kSig).map(j => hs.map(h => (h * (2L * j + 3) + (5L * j + 7)) % p).min)
    }.toMap
    assert(got == expected)
  }
}
