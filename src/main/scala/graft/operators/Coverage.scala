package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Submodular corpus selection: greedy maximum-coverage — pick k
  * documents that together cover as many distinct vocabulary items as
  * possible (facility-location / coreset selection, the classic
  * diversity objective for training-data subset curation; greedy is
  * the standard (1 − 1/e)-approximation and, run with a fixed
  * deterministic tie-break, is exactly reproducible in SQL).
  *
  * The reference has no selection surface (SURVEY.md §2.11); this
  * extends the q119–q127 data-SELECTION family with the coverage
  * objective the per-document scorers can't express: marginal gain
  * depends on what was ALREADY picked, so the operator is inherently
  * iterative — k rounds, each a corpus-wide aggregation.
  *
  * Scale shape: the (doc, item) incidence list is computed once and
  * persisted. Each round is one anti-join of that list against the
  * covered-item set (a lazy union of the picked docs' per-round item
  * leaves — never re-materialized) + one map-side-combined count +
  * one global top-1 — a single action whose driver traffic is ONE
  * bookkeeping row (the argmax), never data. Total work O(k·nnz).
  * The covered set is item-cardinality-bounded, and k is small by
  * construction (you pick a handful of exemplars, not the corpus).
  */
object Coverage {

  /** Greedily picks `k` documents from `items` (2 columns: doc id,
    * item) maximizing cumulative distinct-item coverage; ties on
    * marginal gain break on the smaller doc id, so the pick sequence
    * is total-ordered and engine-independent. Returns exactly
    * min(k, #docs) rows of (step 1-based, doc_id, new_items,
    * cum_items) — docs picked after full coverage contribute
    * new_items = 0 (still picked, by the same tie-break, matching a
    * fixed-k SQL unroll).
    */
  def greedyMaxCoverage(items: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"greedyMaxCoverage: k in [1,64] (one round each); got $k")
    val spark = items.sparkSession
    val docName = items.columns(0)
    val itemName = items.columns(1)
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    // The picks are driver-side rows, so nothing the loop persisted
    // outlives the call: release on return as well as on a throw.
    LoopScope.run(spark) { scope =>
      val inc = scope.cache(
        items
          .select(col(docName).cast("long").as("doc"), col(itemName).cast("string").as("item"))
          .distinct())
      val covered = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var cum = 0L
      var step = 0
      while (step < k) {
        step += 1
        val uncovered =
          if (covered.isEmpty) inc
          else inc.join(covered.reduce(_ unionByName _), Seq("item"), "left_anti")
        // Marginal gain per doc. Docs whose items are all covered drop
        // out of the agg — re-anchor on the full doc list so they stay
        // pickable at gain 0 (the fixed-k contract above).
        val best = inc
          .select(col("doc")).distinct()
          .join(
            uncovered.groupBy(col("doc")).agg(count(lit(1)).as("gain")),
            Seq("doc"), "left")
          .select(col("doc"), coalesce(col("gain"), lit(0L)).as("gain"))
          .join(picked(spark, picks), Seq("doc"), "left_anti")
          .orderBy(col("gain").desc, col("doc"))
          .limit(1)
          .collect() // ONE bookkeeping row: the argmax of this round
        if (best.isEmpty) {
          step = k // fewer docs than k: stop
        } else {
          val doc = best(0).getLong(0)
          val gain = best(0).getLong(1)
          cum += gain
          picks += ((step.toLong, doc, gain, cum))
          covered += scope.leaf(inc.filter(col("doc") === doc).select(col("item")))
        }
      }
    }._2()
    val schema = StructType(Seq(
      StructField("step", LongType, nullable = false),
      StructField("doc_id", LongType, nullable = false),
      StructField("new_items", LongType, nullable = false),
      StructField("cum_items", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        picks.toSeq.map { case (s, d, g, c) => Row(s, d, g, c) }, 1),
      schema)
  }

  private def picked(
      spark: org.apache.spark.sql.SparkSession,
      picks: scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    picks.toSeq.map(_._2).toDF("doc")
  }
}
