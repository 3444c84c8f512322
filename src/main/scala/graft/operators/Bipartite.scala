package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-mode projections of bipartite incidence frames — the
  * item-item co-occurrence move behind market-basket lift (q146),
  * co-supply centrality (q150/q151), and the temporal influence
  * projection (q156).
  *
  * The family's one scale hazard lives here, so the GUARD lives here
  * too (in the operator, not the queries): the self-join on the
  * aggregator key costs C(k, 2) pairs for a key with k incidence
  * rows, BEFORE any support floor prunes. TPC-H-shaped fixtures keep
  * k in the handfuls, but one hub key with 10⁵ items at 100× scale
  * emits 5·10⁹ pairs for that single key — the same heavy-hitter
  * class [[Dedup.editDistancePairs]] gates with `maxBlockRows` and
  * q118's triangle count defuses by degree orientation.
  *
  * Guard mechanism: the per-key counts are folded INTO the
  * projection plan. A one-pass map-side-combined count per key feeds
  * a `raise_error` projection, and the pair build joins through it on
  * the same key partitioning — zero extra jobs, and a hub key kills
  * the query loudly DURING the counts stage, before its quadratic
  * fan-out materializes (degenerate keys are an EXPECTED failure mode
  * to surface, not a hang to discover in a stage timeline). An eager
  * pre-job count-max gate cost one extra action per call and lost to
  * this form on every query of the family (min of 3 reps at
  * sf0.1/32cpu, eager → in-job: q146 4.14→3.38 s, q150 5.48→3.69 s,
  * q151 5.93→5.12 s, q156 6.38→5.71 s).
  * Callers facing a legitimately heavy key should cap or sample that
  * key upstream — silently dropping pairs is not this operator's
  * call to make.
  *
  * Scale shape: the incidence is persisted once (both self-join
  * sides and the counts pass read it), the self-join is co-located
  * on the key, and the pair aggregate is map-side-combined. The
  * `*Releasable` variants hand back the release closure for the
  * incidence cache (the repo's established handle pattern —
  * triangleCountsReleasable et al.); the plain variants remain for
  * callers content with the session-wide sweep. Because the in-job
  * gate throws inside the CALLER's action, cache cleanup on the
  * throw path belongs to the caller's `finally` via the release
  * handle.
  */
object Bipartite {

  /** Max per-key incidence rows before [[pairProjection]] /
    * [[temporalPairProjection]] refuse to fan out. C(10⁴, 2) ≈
    * 5·10⁷ pairs for one key is the most a single aggregator key may
    * contribute before the projection's cost story stops holding.
    */
  val DefaultMaxKeyRows: Long = 10000L

  /** In-job guard frame: one row per key, whose projection RAISES when
    * the key's incidence count exceeds the gate. The `__g` column must
    * be referenced downstream (the filter) or column pruning would
    * drop the raise_error unevaluated. Evaluates once per key in the
    * counts aggregation stage — no extra action, same loud failure.
    */
  private def guardedKeys(inc: DataFrame, maxKeyRows: Long, op: String): DataFrame =
    inc
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("__kc"))
      .select(
        col("__k"),
        when(
          col("__kc") > maxKeyRows,
          raise_error(concat(
            lit(s"$op: '"),
            col("__k").cast("string"),
            lit(s"' group has "),
            col("__kc").cast("string"),
            lit(s" incidence rows > maxKeyRows=$maxKeyRows — per-key pairing is quadratic " +
              "in group size; cap or sample hub keys upstream"))))
          .otherwise(lit(1))
          .as("__g"))
      .filter(col("__g") === 1)
      .select(col("__k"))

  /** Unordered item co-occurrence pairs over a bipartite incidence:
    * for each `keyCol` group, every item pair (item_a < item_b) with
    * its shared-key count `w`, support-floored at `minSupport`.
    * `incidence` must already be DISTINCT on (key, item) — the
    * operator projects it as given; duplicate incidence rows would
    * inflate `w`.
    *
    * Returns ((item_a, item_b, w), release) — `release` frees the
    * incidence cache; call it after materializing the result (and in
    * a `finally` if the fan-out gate may fire).
    */
  def pairProjectionReleasable(
      incidence: DataFrame,
      keyCol: String,
      itemCol: String,
      minSupport: Long,
      maxKeyRows: Long = DefaultMaxKeyRows): (DataFrame, () => Unit) = {
    require(minSupport >= 1, s"pairProjection: minSupport >= 1; got $minSupport")
    require(maxKeyRows >= 1, s"pairProjection: maxKeyRows >= 1; got $maxKeyRows")
    val inc = incidence.select(col(keyCol).as("__k"), col(itemCol).as("__i")).persist()
    val out = inc.select(col("__k"), col("__i").as("item_a"))
      .join(guardedKeys(inc, maxKeyRows, "pairProjection"), Seq("__k"))
      .join(inc.select(col("__k"), col("__i").as("item_b")), Seq("__k"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minSupport)
    (out, () => { inc.unpersist(); () })
  }

  /** [[pairProjectionReleasable]] without the handle — the incidence
    * cache lives until the session sweep.
    */
  def pairProjection(
      incidence: DataFrame,
      keyCol: String,
      itemCol: String,
      minSupport: Long,
      maxKeyRows: Long = DefaultMaxKeyRows): DataFrame =
    pairProjectionReleasable(incidence, keyCol, itemCol, minSupport, maxKeyRows)._1

  /** Time-respecting directed projection: for each `keyCol` group,
    * every ordered item pair (src ≠ dst) where the key touched `src`
    * at `dep` and LATER touched `dst` at `arr` (`arr > dep`) — the
    * edge build [[Graph.earliestArrival]] consumes. Duplicate timed
    * edges (different keys producing the same (src, dst, dep, arr))
    * are NOT collapsed here: the downstream min-fold is
    * duplicate-invariant, and a distinct over the fanned-out edge set
    * is a full extra shuffle (measured ~2 s on q156 at sf0.1) that
    * buys nothing — callers needing a deduped edge list distinct it
    * themselves.
    *
    * Returns ((src, dst, dep, arr), release) — see
    * [[pairProjectionReleasable]] for the release contract.
    */
  def temporalPairProjectionReleasable(
      incidence: DataFrame,
      keyCol: String,
      itemCol: String,
      timeCol: String,
      maxKeyRows: Long = DefaultMaxKeyRows): (DataFrame, () => Unit) = {
    require(maxKeyRows >= 1, s"temporalPairProjection: maxKeyRows >= 1; got $maxKeyRows")
    val inc = incidence
      .select(col(keyCol).as("__k"), col(itemCol).as("__i"), col(timeCol).as("__t"))
      .persist()
    val out = inc.select(col("__k"), col("__i").as("src"), col("__t").as("dep"))
      .join(guardedKeys(inc, maxKeyRows, "temporalPairProjection"), Seq("__k"))
      .join(
        inc.select(col("__k"), col("__i").as("dst"), col("__t").as("arr")),
        Seq("__k"))
      .filter(col("arr") > col("dep") && col("src") =!= col("dst"))
      .select(col("src"), col("dst"), col("dep"), col("arr"))
    (out, () => { inc.unpersist(); () })
  }

  /** [[temporalPairProjectionReleasable]] without the handle. */
  def temporalPairProjection(
      incidence: DataFrame,
      keyCol: String,
      itemCol: String,
      timeCol: String,
      maxKeyRows: Long = DefaultMaxKeyRows): DataFrame =
    temporalPairProjectionReleasable(incidence, keyCol, itemCol, timeCol, maxKeyRows)._1
}
