package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Standing selectivity gate for the exact prefix-filter similarity
  * join (r10 VERDICT ask #8): README's prefix-filter table records
  * that on a 5000-doc Zipf corpus candidates are 2.5–5.7 % of
  * all-pairs at realistic vocabulary — but a recorded run cannot stop
  * a regression. This spec replays the same construction at spec
  * scale (500 docs, seeded in-test Zipf generator: syllable
  * vocabulary, exponent 1.07, every 20th doc a ~5 % token-replacement
  * twin of its predecessor) and pins:
  *
  *  - candidates < 10 % of all-pairs (the prefix filter actually
  *    PRUNES — a regression in the rarest-first rank build or the
  *    AllPairs size filter degenerates this toward 100 %);
  *  - the verified output is EXACTLY the planted twin pairs (no false
  *    negatives — the family's defining promise — and no spurious
  *    positives at J ≥ 7/10 on this corpus).
  *
  * Deterministic: fixed seed, so the planted set and both counts are
  * stable run to run.
  */
class SimJoinZipfSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4, appName = "simjoin-zipf-spec")

  // The probe's vocabulary size: selectivity tracks how rare a
  // document's rarest tokens are, so the all-pairs fraction DEGRADES
  // as vocab shrinks relative to the token mass (measured here:
  // 16.9 % of all-pairs at vocab 2 000 vs 5.5 % at 10⁴ for the same
  // 500 docs — the same gradient README's prefix-filter table records
  // at 5 000 docs: 5.7 % at 10⁴ → 2.5 % at 3×10⁴).
  private val nDocs = 500
  private val nVocab = 10000

  /** (docs, plantedPairs) — the seeded Zipf corpus with planted twins. */
  private def zipfCorpus(): (Seq[(Long, String)], Set[(Long, Long)]) = {
    val rnd = new scala.util.Random(11)
    val syl = Vector("ka", "to", "ri", "ne", "su", "mo", "ba", "le", "di", "wu", "fa", "zo")
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      var i = 0
      while (seen.size < nVocab) {
        val w = (0 until (2 + i % 3)).map(_ => syl(rnd.nextInt(syl.length))).mkString + (i % 7)
        seen += w
        i += 1
      }
      seen.toVector
    }
    val weights = Array.tabulate(nVocab)(r => 1.0 / math.pow(r + 1.0, 1.07))
    val cum = weights.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    def draw(): String = {
      val x = rnd.nextDouble() * total
      var lo = 0
      var hi = nVocab - 1
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (cum(mid) < x) lo = mid + 1 else hi = mid
      }
      vocab(lo)
    }
    val docs = Vector.newBuilder[(Long, String)]
    val planted = Set.newBuilder[(Long, Long)]
    var prev: Vector[String] = Vector.empty
    for (d <- 0 until nDocs) {
      val toks =
        if (d % 20 == 19 && prev.nonEmpty) {
          planted += ((d - 1).toLong -> d.toLong)
          prev.map(t => if (rnd.nextDouble() < 0.05) draw() else t)
        } else Vector.fill(60 + rnd.nextInt(121))(draw())
      prev = toks
      docs += ((d.toLong, toks.mkString(" ")))
    }
    (docs.result(), planted.result())
  }

  test("prefix filter prunes (<10% of all-pairs) and verifies exactly the planted twins") {
    import spark.implicits._
    val (rows, planted) = zipfCorpus()
    val df = rows
      .toDF("doc_id", "text")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val (n, allPairs, cands, verified) =
      Dedup.prefixFilterSelectivity(df, "doc_id", "toks", tNum = 7, tDen = 10)
    assert(n == nDocs)
    info(s"candidates $cands of $allPairs all-pairs (${cands * 100.0 / allPairs}%), verified $verified")
    assert(cands < allPairs / 10,
      s"prefix filter degenerated: $cands candidates of $allPairs all-pairs " +
        "(>10%) — check the rarest-first rank build and the AllPairs size filter")
    assert(verified == planted.size.toLong, s"verified=$verified planted=${planted.size}")
    GraftSession.releaseAllCaches(spark)
    val got = Dedup
      .prefixFilterSimilarityJoin(df, "doc_id", "toks", tNum = 7, tDen = 10)
      .select(col("id_a"), col("id_b"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(got == planted,
      s"pair identity drifted: missing=${planted -- got} spurious=${got -- planted}")
  }
}
