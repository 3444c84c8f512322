package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Scalars._

/** Generic relational operators generalizing the reference's dataflow
  * (SURVEY.md §2). Each is a reusable `DataFrame => DataFrame`-style
  * combinator; the test-query catalog binds them to the fixture tables.
  *
  * Scale notes (100 TB): the combinators are declarative plans —
  * Catalyst chooses broadcast-hash for small dims, AQE handles skew.
  * What reaches the driver is bounded bookkeeping: the quality gate's
  * one aggregate row, per-partition counts and sample bounds, and
  * [[dimGetOrCreate]]'s dimension, which [[resolveDimFk]] broadcasts
  * whole anyway.
  */
object Relational {

  /** Denormalizing view builder — the Spark-native equivalent of
    * `v_feasibility` (reference: schema.sql:66-94, SURVEY.md §2.4
    * J3–J6). The reference's CTE formulation scans the fact table four
    * times; composing one left-join tree scans it once and lets
    * Catalyst broadcast each dim.
    */
  def denormalize(fact: DataFrame, dims: Seq[(DataFrame, Column)]): DataFrame =
    dims.foldLeft(fact) { case (acc, (dim, joinCond)) =>
      acc.join(broadcast(dim), joinCond, "left")
    }

  /** Correlated child rollup — the reference's client-side correlated
    * join of feasibilities to per-issue worklogs (etl.js:216-220,
    * helpers.js:41-53; SURVEY.md §2.4 J1 + §2.5 A1/A2): aggregate the
    * child table by the parent key, then left-join so parents without
    * children keep a NULL rollup (SURVEY.md §2.10-2).
    *
    * The child aggregation is a partial+final hash agg (map-side
    * combine), so the shuffle carries one row per key, not per child —
    * the property that keeps this viable at 100 TB.
    */
  def childRollup(
      parent: DataFrame,
      child: DataFrame,
      parentKey: String,
      childKey: String,
      aggs: Seq[Column]): DataFrame = {
    val rolled = child.groupBy(col(childKey).as(parentKey)).agg(aggs.head, aggs.tail: _*)
    parent.join(rolled, Seq(parentKey), "left")
  }

  /** Quality gate (reference: etl.js:249-278, SURVEY.md §2.6 Q1):
    * drop the parents whose `key` appears among `erroredKeys`, and abort
    * the run when `percentChangeAbs(oldCount, newCount)`
    * (helpers.js:234-240) reaches `thresholdPct`. An empty frame gives
    * 0/0 = NaN, which never reaches it, as in the reference's `>=` test
    * (etl.js:269-274).
    *
    * The parents are computed once. Each is marked with an errored flag
    * by a left join on the deduplicated keys (a key reported twice never
    * duplicates its parent; a NULL key matches nothing, as in a
    * left-anti join), the marked frame is persisted (MEMORY_AND_DISK),
    * and one aggregate, the action that fills the cache, gives both
    * counts. Returns the unflagged rows, which read that cache, and a
    * handle that unpersists exactly it; an abort releases it before it
    * throws.
    */
  def qualityGate(
      parents: DataFrame,
      erroredKeys: DataFrame,
      key: String,
      thresholdPct: Double): (DataFrame, () => Unit) = {
    val marks = erroredKeys.select(col(key).as(ErroredKey)).distinct()
    val marked = parents
      .join(marks, col(key) === col(ErroredKey), "left")
      .withColumn(Errored, col(ErroredKey).isNotNull)
      .drop(ErroredKey)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val release = () => { marked.unpersist(); () }
    val change =
      try {
        val r = marked.agg(count(lit(1)), count_if(!col(Errored))).head()
        math.abs((r.getLong(1) - r.getLong(0)).toDouble / r.getLong(0)) * 100.0
      } catch { case NonFatal(e) => release(); throw e }
    if (change >= thresholdPct) {
      release()
      throw new IllegalArgumentException(
        f"quality gate: $change%.2f%% of rows lost supplemental data (threshold $thresholdPct%%)")
    }
    (marked.filter(!col(Errored)).drop(Errored), release)
  }

  private val Errored = "__errored"
  private val ErroredKey = "__errored_key"

  /** Plan-only form of the quality gate's accounting, for the oracle
    * harness: one row with (old_count, new_count, pct_change).
    */
  def qualityGateStats(parents: DataFrame, erroredKeys: DataFrame, key: String): DataFrame = {
    val olds = parents.agg(count(lit(1)).as("old_count"))
    val news = parents
      .join(erroredKeys, Seq(key), "left_anti")
      .agg(count(lit(1)).as("new_count"))
    olds
      .crossJoin(news)
      .select(
        col("old_count"),
        col("new_count"),
        percentChangeAbs(col("old_count").cast("double"), col("new_count").cast("double"))
          .as("pct_change"))
  }

  /** Dimension get-or-create with dense surrogate ids — the Spark-native
    * `get_project_id` / `get_user_id` (reference: schema.sql:105-134,
    * SURVEY.md §2.8 G1/G2). New names are the distinct non-NULL
    * incoming names the existing dim lacks; they are numbered on the
    * driver, densely after the existing max id, in Spark's string
    * order (UTF-8 bytes, not `String.compareTo`'s UTF-16 units). NULL
    * names are dropped: a NULL never equi-matches a dim row, so keeping
    * it would create it anew on every call.
    *
    * The grown dim comes back as a local relation of (id: bigint, name:
    * string): [[resolveDimFk]] broadcasts the whole dim, so it must fit
    * on the driver regardless, and a local relation broadcasts without
    * a job. Costs one action for `incomingNames` and one for `existing`
    * unless it is already local.
    */
  def dimGetOrCreate(existing: DataFrame, incomingNames: DataFrame): DataFrame =
    dimGetOrCreate(
      existing,
      incomingNames
        .select(col("name"))
        .filter(col("name").isNotNull)
        .distinct()
        .collect()
        .map(_.getString(0))
        .toSeq)

  /** [[dimGetOrCreate]] for names already on the driver. */
  def dimGetOrCreate(existing: DataFrame, incomingNames: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val current = existing
      .select(col("id").cast("long"), col("name"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .toSeq
    val known = current.map(_._2).toSet
    val maxId = current.map(_._1).maxOption.getOrElse(0L)
    val added = incomingNames.distinct
      .filter(n => n != null && !known(n))
      .sortBy(UTF8String.fromString)
      .zipWithIndex
      .map { case (n, i) => (maxId + 1 + i, n) }
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    existing.sparkSession.createDataFrame(
      java.util.Arrays.asList((current ++ added).map { case (id, n) => Row(id, n) }: _*),
      schema)
  }

  /** Trigger-equivalent denormalized write path (reference:
    * schema.sql:141-173, SURVEY.md §2.8 G3/G4 and §3.2): resolve each
    * name column to a surrogate id via the (get-or-created) dimension,
    * producing the normalized fact rows. The engine owns both sides, so
    * no INSTEAD-OF trigger is needed — this is the whole rewrite.
    */
  def resolveDimFk(
      fact: DataFrame,
      dim: DataFrame,
      nameCol: String,
      fkCol: String): DataFrame =
    // Project the dim to exactly (nameCol, fkCol) before joining: extra dim
    // columns must not leak into the fact output, and renaming after the
    // join would collide with any pre-existing `id` column on the fact.
    fact.join(
      broadcast(dim.select(col("name").as(nameCol), col("id").as(fkCol))),
      Seq(nameCol),
      "left")

  /** Backward as-of join — an operator Spark lacks natively: for each
    * left row, attach the latest right row with the same key and
    * rightTime ≤ leftTime (ties at equal time match).
    *
    * Built the scalable way (SURVEY.md preference (a): compose existing
    * ops): union both sides tagged, ONE shuffle+sort per key, and a
    * running `last(_, ignoreNulls)` over the right-side payload —
    * O(n log n) per key group, no range-explosion, no per-left-row
    * probe. The right payload rides in a single struct so all attached
    * columns come atomically from the same right row. Equivalent to
    * DuckDB/pandas ASOF JOIN semantics (the oracle for q31).
    *
    * Returns every left column plus `<prefix><rightTimeCol>` and
    * `<prefix><c>` for each right value column (NULL when no right row
    * precedes the left row).
    */
  def asOfJoinBackward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTimeCol: String,
      rightTimeCol: String,
      rightValueCols: Seq[String],
      prefix: String = "asof_"): DataFrame = {
    val rCols = rightTimeCol +: rightValueCols
    val rStructT = org.apache.spark.sql.types.StructType(rCols.map(c => right.schema(c)))
    val leftNonKey = left.columns.filterNot(c => keys.contains(c)).toSeq
    val lPart = left.select(
      keys.map(col) ++
        Seq(col(leftTimeCol).as("__t"), lit(1).as("__side"), lit(null).cast(rStructT).as("__r")) ++
        leftNonKey.map(col): _*)
    val rPart = right.select(
      keys.map(col) ++
        Seq(
          col(rightTimeCol).as("__t"),
          lit(0).as("__side"),
          struct(rCols.map(col): _*).as("__r")) ++
        leftNonKey.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lPart
      .unionByName(rPart)
      .withColumn("__last_r", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(
        keys.map(col) ++ leftNonKey.map(col) ++
          rCols.map(c => col(s"__last_r.$c").as(s"$prefix$c")): _*)
  }

  /** Two-phase salted aggregation for skewed keys: phase 1 aggregates
    * on (keys, salt) — spreading one hot key over `salts` reducers —
    * phase 2 merges the partials on the true keys. Correct for any
    * algebraic aggregate the caller can express as partial + merge
    * (sum/sum, count/sum, min/min, max/max...).
    *
    * The salt is `pmod(hash(entire row? no — the partition id), salts)`:
    * `spark_partition_id()` is free, uniform across input splits, and
    * never correlates with key values. AQE's skew handling covers
    * skewed JOINS; skewed AGGREGATION keys are the case this operator
    * exists for.
    */
  def saltedAgg(
      df: DataFrame,
      keys: Seq[String],
      salts: Int,
      partialAggs: Seq[Column],
      mergeAggs: Seq[Column]): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id(), lit(salts)))
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
      .groupBy(keys.map(col): _*)
      .agg(mergeAggs.head, mergeAggs.tail: _*)

  /** Salted equi-join for skewed keys (the replicate-and-salt rewrite):
    * the fact side gets a salt in [0, salts) and the (small) build side
    * is replicated once per salt, so one hot key's rows spread over
    * `salts` reducers instead of one. Result-identical to the plain
    * join — each fact row matches exactly the build replica carrying
    * its salt (gate: q49 vs. a plain-join oracle).
    *
    * The salt is `pmod(spark_partition_id(), salts)` — free, uniform
    * across input splits, and uncorrelated with key values. Use when a
    * shuffled hash/sort-merge join skews and the build side is too big
    * to broadcast outright but small enough to replicate `salts`×; for
    * broadcast-able build sides prefer `broadcast()`, and for
    * runtime-detected skew AQE's skew-join split covers the sort-merge
    * case.
    */
  def saltedJoin(
      fact: DataFrame,
      build: DataFrame,
      keys: Seq[String],
      salts: Int,
      joinType: String = "inner"): DataFrame =
    fact
      .withColumn("__salt", pmod(spark_partition_id(), lit(salts)))
      .join(
        build.withColumn("__salt", explode(sequence(lit(0), lit(salts - 1)))),
        keys :+ "__salt",
        joinType)
      .drop("__salt")

  /** CDC merge: apply a change batch (insert / update / delete ops) to
    * a snapshot, producing the next snapshot — the batch equivalent of
    * MERGE INTO, and the compaction step every CDC-fed table needs.
    *
    * `changes` carries the snapshot's columns plus `opCol` ∈
    * {"I","U","D"} and at most one row per key (run keep-latest — q39 —
    * first if the batch has multiple changes per key). Deletes and
    * updates remove the old row via ONE left-anti join on the key;
    * inserts and updates append their new image. Two shuffles total
    * (anti-join + union is shuffle-free), independent of snapshot
    * width; at 100 TB the change batch is the small side and the
    * anti-join broadcasts it.
    */
  def applyChanges(
      snapshot: DataFrame,
      changes: DataFrame,
      keys: Seq[String],
      opCol: String = "op"): DataFrame = {
    val kept = snapshot.join(changes.select(keys.map(col): _*), keys, "left_anti")
    val upserts = changes
      .filter(col(opCol).isin("I", "U"))
      .drop(opCol)
    kept.unionByName(upserts)
  }

  /** SCD Type 2 — version a dimension from its CHANGE LOG: every
    * change row becomes one version with `valid_from` = its own
    * timestamp and `valid_to` = the key's next change (NULL ⇒ current,
    * also flagged `is_current`). The warehouse pattern for as-of
    * lookups: join facts with `valid_from ≤ ts < valid_to` (or use
    * [[asOfJoinBackward]]).
    *
    * One window per key (single shuffle on the key); `tieBreakCol`
    * orders simultaneous changes deterministically — without it,
    * equal-timestamp changes would make valid_to nondeterministic
    * across runs, which a versioned dimension cannot tolerate.
    */
  def scd2FromChangeLog(
      changes: DataFrame,
      keyCol: String,
      tsCol: String,
      tieBreakCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieBreakCol))
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** BLOOM-FILTER JOIN PREFILTER — the runtime-filter pattern (Spark's
    * own InjectRuntimeFilter, Trino's dynamic filtering) as an explicit,
    * deterministic operator: build a `bits`-wide Bloom bitmap over the
    * small side's join keys (one aggregation to a single row of
    * bits/64 longs), broadcast it, and drop big-side rows whose `k`
    * probe bits are not all set — BEFORE the join's shuffle. At 100 TB
    * this is the difference between shuffling the full fact table and
    * shuffling the ~selectivity fraction that can possibly match;
    * false positives only mean a few extra rows reach the exact join,
    * NEVER a wrong result, so any downstream gate stays exact.
    *
    * All hashing is the engine's md5-derived [[Hashing.h32]] + affine
    * family — bit-reproducible across engines, partitionings and
    * reruns (Spark's built-in bloom uses xxhash64 and is not
    * oracle-replicable; this one is pure integer arithmetic).
    *
    * Returns the filtered BIG side; the caller joins it exactly as
    * before.
    */
  def bloomPrefilter(
      big: DataFrame,
      bigKey: String,
      small: DataFrame,
      smallKey: String,
      bits: Int = 4096,
      k: Int = 3): DataFrame = {
    require(bits % 64 == 0 && bits > 0, "bits must be a positive multiple of 64")
    // Working columns are hard-named; silently overwriting a caller
    // column of the same name would corrupt its data on the drop below.
    require(
      !big.columns.contains("__bloom") && !big.columns.contains("__bloom_h"),
      "bloomPrefilter: big side must not already have __bloom/__bloom_h columns")
    val words = bits / 64
    import graft.functions.Hashing
    def positions(key: Column): Seq[Column] = {
      val h = Hashing.h32(concat(lit("bloom:"), key))
      (0 until k).map(j => Hashing.affine(h, j) % bits)
    }
    // integer word index (Column./ is double division)
    def wordIdx(p: Column): Column = floor(p / 64).cast("int")
    // Small side -> ONE row holding the bitmap as array<long>. Shaped
    // as explode -> (word, bit) -> bit_or -> map -> dense array rather
    // than `words × k` conditional aggregates: the latter generates
    // O(words·k) md5-bearing expressions (janino-compile seconds and
    // k·words md5 evaluations per row); this shape hashes each key
    // once and aggregates k tiny integer rows per key.
    val bitmap = small
      .select(explode(array(positions(col(smallKey)): _*)).as("p"))
      .select(
        wordIdx(col("p")).as("w"),
        call_function("shiftleft", lit(1L), (col("p") % 64).cast("int")).as("bit"))
      .groupBy(col("w"))
      .agg(bit_or(col("bit")).as("bits"))
      .agg(map_from_arrays(collect_list(col("w")), collect_list(col("bits"))).as("m"))
      .select(
        transform(
          sequence(lit(0), lit(words - 1)),
          i => coalesce(element_at(col("m"), i), lit(0L))).as("__bloom"))
    // Broadcast the 1-row bitmap; keep big rows whose k probes all hit.
    // The shared md5 is staged as a column (referenced by all k probes)
    // so it computes once per row, not once per probe.
    val probes = (0 until k).map { j =>
      val p = Hashing.affine(col("__bloom_h"), j) % bits
      element_at(col("__bloom"), wordIdx(p) + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast("int"))) =!= 0L
    }
    big
      .crossJoin(broadcast(bitmap))
      .withColumn("__bloom_h", Hashing.h32(concat(lit("bloom:"), col(bigKey))))
      .filter(probes.reduce(_ && _))
      .drop("__bloom", "__bloom_h")
  }

  /** EXACT quantiles by distributed sort + order statistics — the
    * 100 TB-correct exact method. Spark's `percentile` aggregate
    * buffers every (value → count) pair into ONE merged in-memory map
    * at the final aggregation (4.8 s over 600 k rows at sf0.1, and an
    * OOM at real scale); here the column is range-sorted in parallel
    * ([[globalRowNumber]]), the two neighboring order statistics per
    * requested quantile are picked by rank (a tiny broadcast), and the
    * interpolation `lo + (hi − lo)·frac` matches SQL
    * percentile_cont / DuckDB quantile_cont bit-for-bit (q52 pins the
    * formula parity).
    *
    * Returns one row: `q0..q{n-1}` double columns, one per requested
    * quantile (NULL row if the input is empty). Runs two bookkeeping
    * actions (partition counts + total count) — scalars, not data.
    */
  def exactQuantiles(
      df: DataFrame,
      valueCol: String,
      ps: Seq[Double],
      numPartitions: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val numbered = globalRowNumber(
      df.select(col(valueCol).cast("double").as("v")), "v", numPartitions, "rn")
    val n = numbered.count()
    val outCols = ps.indices.map(i => s"q$i")
    if (n == 0) {
      return ps.indices
        .foldLeft(spark.range(1).toDF()) { (acc, i) =>
          acc.withColumn(s"q$i", lit(null).cast("double"))
        }
        .select(outCols.map(col): _*)
    }
    val specs = ps.zipWithIndex.map { case (p, i) =>
      val idx = p * (n - 1)
      val lo = math.floor(idx).toLong + 1
      val hi = math.ceil(idx).toLong + 1
      (i, lo, hi, idx - math.floor(idx))
    }
    val ranks = specs.flatMap(s => Seq(s._2, s._3)).distinct
    val picked = broadcast(numbered.filter(col("rn").isin(ranks: _*)))
    val q = specs
      .toDF("qi", "lo", "hi", "frac")
      .join(picked.select(col("rn").as("lo"), col("v").as("lo_v")), "lo")
      .join(picked.select(col("rn").as("hi"), col("v").as("hi_v")), "hi")
      .select(
        col("qi"),
        (col("lo_v") + (col("hi_v") - col("lo_v")) * col("frac")).as("q"))
    q.agg(
      first(when(col("qi") === 0, col("q")), ignoreNulls = true).as("q0"),
      specs.tail.map { case (i, _, _, _) =>
        first(when(col("qi") === i, col("q")), ignoreNulls = true).as(s"q$i")
      }: _*)
  }

  /** PER-GROUP discrete quantiles by distributed sort + per-group
    * order statistics — the grouped twin of [[exactQuantiles]], and
    * the 100 TB replacement for `row_number() OVER (PARTITION BY g
    * ORDER BY v)` when `g` has few distinct values: that window puts
    * the ENTIRE fact table through |g| reducer tasks (a 3-value key =
    * three single-task sorts while every other core idles). Here the
    * frame is range-partitioned on (group, value) — parallelism comes
    * from the VALUE ranges, not the group cardinality — a first pass
    * collects only per-(partition, group) row counts to the driver
    * (bookkeeping scalars, ≤ P·G longs), the driver turns each
    * group's total n into target ranks `max(1, ceil(n·p))` (the
    * discrete, interpolation-free pick: an actual data value,
    * identical in every engine — no FP percentile formula), and a
    * second pass over the same cached sort emits ONLY the rows whose
    * global per-group rank is a target. Output: one row per group,
    * columns `groupCol, q0..q{ps.size-1}` (value-typed).
    *
    * Ties need no tiebreak: equal ranks of equal values yield the
    * same PICKED VALUE whatever the tie order, so the result is
    * deterministic even for non-unique values. Driver memory is
    * P·G count entries — per-group quantiles over a high-cardinality
    * group key belong in a plain shuffle agg instead (each group
    * small), which is exactly when the window formulation is fine;
    * this operator exists for the low-cardinality-key case where the
    * window is the scale cliff.
    *
    * Like [[globalRowNumber]], the sorted rows stay persisted between
    * the counts pass and the pick pass; release via
    * [[graft.GraftSession.releaseAllCaches]] once consumed.
    */
  def groupedDiscreteQuantiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      ps: Seq[Double],
      numPartitions: Int = 64,
      maxGroups: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0), "quantiles must be in (0, 1]")
    val spark = df.sparkSession
    val slim = df.select(col(groupCol), col(valueCol))
    val sorted = slim
      .repartitionByRange(numPartitions, col(groupCol), col(valueCol))
      .sortWithinPartitions(groupCol, valueCol)
      .rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Pass 1: per-(partition, group) row counts. Groups are contiguous
    // within a sorted partition, so this is a run-length count. A null
    // VALUE is rejected in-task: Spark ranks nulls FIRST and SQL
    // engines (the DuckDB oracle among them) default to NULLS LAST, so
    // a null would silently shift every per-group rank — the caller
    // must filter or impute nulls, choosing a policy, before asking
    // for order statistics.
    val countsRdd = sorted
      .mapPartitionsWithIndex { case (i, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
        it.foreach { r =>
          require(
            !r.isNullAt(1),
            s"groupedDiscreteQuantiles: null in value column '$valueCol' — " +
              "filter or impute nulls first (null rank order differs across engines)")
          val g = r.get(0); m.update(g, m.getOrElse(g, 0L) + 1L)
        }
        m.iterator.map { case (g, c) => (i, g, c) }.toList.iterator
      }
    // Distributed pre-collect guard: the driver is about to receive one
    // tuple per (partition, group). Counting them executor-side first
    // means a high-cardinality key trips the require BEFORE the
    // allocation it warns about, not after the driver has already
    // OOMed materializing it. Both this count and the collect below
    // are run-length scans of the cached sort — cheap.
    val collectedTuples = countsRdd.count()
    require(
      collectedTuples <= maxGroups * numPartitions.toLong,
      s"groupedDiscreteQuantiles: $collectedTuples (partition, group) count tuples exceeds the " +
        s"O(partitions x maxGroups) = ${maxGroups * numPartitions.toLong} driver budget — " +
        "use a plain groupBy aggregation for high-cardinality keys")
    val counts: Array[(Int, Any, Long)] = countsRdd.collect()
    // Driver-memory guard, enforced on OBSERVED cardinality: the
    // bookkeeping below is O(P·G) on the driver, which is the designed
    // trade for LOW-cardinality group keys. A high-cardinality key
    // (user_id, doc_id) belongs in a plain shuffle aggregation — each
    // group is small, so the per-group sort is no cliff there — and
    // hitting this limit is the signal to switch, not to raise it.
    val observedGroups = counts.iterator.map(_._2).toSet.size
    require(
      observedGroups <= maxGroups,
      s"groupedDiscreteQuantiles: $observedGroups distinct groups exceeds maxGroups=$maxGroups — " +
        "use a plain groupBy aggregation for high-cardinality keys (driver bookkeeping is O(partitions x groups))")
    // Driver bookkeeping: per-group totals -> target ranks; per-(pid,
    // group) starting offsets in partition order.
    val totals: Map[Any, Long] =
      counts.groupBy(_._2).map { case (g, cs) => g -> cs.map(_._3).sum }
    val targets: Map[Any, Map[Long, Seq[Int]]] = totals.map { case (g, n) =>
      g -> ps.zipWithIndex
        .groupBy { case (p, _) => math.max(1L, math.ceil(n * p).toLong) }
        .map { case (rank, qs) => rank -> qs.map(_._2) }
    }
    val offsets: Map[(Int, Any), Long] = {
      val m = scala.collection.mutable.HashMap.empty[(Int, Any), Long]
      val running = scala.collection.mutable.HashMap.empty[Any, Long]
      counts.sortBy(_._1).foreach { case (pid, g, c) =>
        m((pid, g)) = running.getOrElse(g, 0L)
        running(g) = running.getOrElse(g, 0L) + c
      }
      m.toMap
    }
    val targetsB = spark.sparkContext.broadcast(targets)
    val offsetsB = spark.sparkContext.broadcast(offsets)
    // Pass 2: walk the cached sort, emit only target-rank rows
    // (|ps|·G rows total — tiny however big the input).
    val picked = sorted.mapPartitionsWithIndex { case (i, it) =>
      var cur: Any = null
      var seen = false
      var rank = 0L
      var curTargets: Map[Long, Seq[Int]] = Map.empty
      it.flatMap { r =>
        val g = r.get(0)
        if (!seen || g != cur) {
          cur = g; seen = true
          rank = offsetsB.value((i, g))
          curTargets = targetsB.value(g)
        }
        rank += 1L
        curTargets.get(rank) match {
          case Some(qis) => qis.map(qi => Row(g, qi, r.get(1)))
          case None      => Nil
        }
      }
    }
    val schema = StructType(
      Seq(
        slim.schema.fields(0),
        StructField("__qi", IntegerType, nullable = false),
        slim.schema.fields(1).copy(name = "__v")))
    spark
      .createDataFrame(picked, schema)
      .groupBy(col(groupCol))
      .agg(
        max(when(col("__qi") === 0, col("__v"))).as("q0"),
        ps.indices.tail.map(i => max(when(col("__qi") === i, col("__v"))).as(s"q$i")): _*)
  }

  /** WEIGHTED grouped discrete quantiles — the
    * [[groupedDiscreteQuantiles]] order-statistics machinery with row
    * COUNTS replaced by integer WEIGHT mass: the picked value is the
    * smallest v whose cumulative weight reaches ⌈W·p⌉ ("the median
    * document length by TOKEN mass", not by document count — the
    * statistic mixture/curriculum planning actually needs, since one
    * 100k-token doc outweighs a thousand stubs). Same discrete,
    * interpolation-free, tie-immune pick (threshold-crossing rows of
    * equal value share that value in any tie order), same two passes
    * over one cached range-partitioned sort, same O(P·G) driver
    * bookkeeping and guards. Weights must be positive longs — a zero
    * weight would make the pick depend on tie order at the threshold,
    * so it is rejected in-task.
    */
  def groupedWeightedQuantiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      weightCol: String,
      ps: Seq[Double],
      numPartitions: Int = 64,
      maxGroups: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0), "quantiles must be in (0, 1]")
    val spark = df.sparkSession
    val slim = df.select(col(groupCol), col(valueCol), col(weightCol).cast("long"))
    val sorted = slim
      .repartitionByRange(numPartitions, col(groupCol), col(valueCol))
      .sortWithinPartitions(groupCol, valueCol)
      .rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sumsRdd = sorted
      .mapPartitionsWithIndex { case (i, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[Any, Long]
        it.foreach { r =>
          require(
            !r.isNullAt(1),
            s"groupedWeightedQuantiles: null in value column '$valueCol' — " +
              "filter or impute nulls first (null rank order differs across engines)")
          require(
            !r.isNullAt(2) && r.getLong(2) > 0L,
            s"groupedWeightedQuantiles: weight column '$weightCol' must be a positive long")
          val g = r.get(0); m.update(g, m.getOrElse(g, 0L) + r.getLong(2))
        }
        m.iterator.map { case (g, w) => (i, g, w) }.toList.iterator
      }
    val collectedTuples = sumsRdd.count()
    require(
      collectedTuples <= maxGroups * numPartitions.toLong,
      s"groupedWeightedQuantiles: $collectedTuples (partition, group) weight tuples exceeds the " +
        s"O(partitions x maxGroups) = ${maxGroups * numPartitions.toLong} driver budget — " +
        "use a plain groupBy aggregation for high-cardinality keys")
    val sums: Array[(Int, Any, Long)] = sumsRdd.collect()
    val observedGroups = sums.iterator.map(_._2).toSet.size
    require(
      observedGroups <= maxGroups,
      s"groupedWeightedQuantiles: $observedGroups distinct groups exceeds maxGroups=$maxGroups — " +
        "use a plain groupBy aggregation for high-cardinality keys (driver bookkeeping is O(partitions x groups))")
    val totals: Map[Any, Long] =
      sums.groupBy(_._2).map { case (g, cs) => g -> cs.map(_._3).sum }
    // Weight-mass thresholds, one per quantile: the pick is the row
    // whose cumulative weight FIRST reaches the threshold.
    val targets: Map[Any, Seq[(Long, Int)]] = totals.map { case (g, w) =>
      g -> ps.zipWithIndex.map { case (p, qi) =>
        (math.max(1L, math.ceil(w * p).toLong), qi)
      }
    }
    val offsets: Map[(Int, Any), Long] = {
      val m = scala.collection.mutable.HashMap.empty[(Int, Any), Long]
      val running = scala.collection.mutable.HashMap.empty[Any, Long]
      sums.sortBy(_._1).foreach { case (pid, g, w) =>
        m((pid, g)) = running.getOrElse(g, 0L)
        running(g) = running.getOrElse(g, 0L) + w
      }
      m.toMap
    }
    val targetsB = spark.sparkContext.broadcast(targets)
    val offsetsB = spark.sparkContext.broadcast(offsets)
    val picked = sorted.mapPartitionsWithIndex { case (i, it) =>
      var cur: Any = null
      var seen = false
      var cum = 0L
      var curTargets: Seq[(Long, Int)] = Nil
      it.flatMap { r =>
        val g = r.get(0)
        if (!seen || g != cur) {
          cur = g; seen = true
          cum = offsetsB.value((i, g))
          curTargets = targetsB.value(g)
        }
        val before = cum
        cum += r.getLong(2)
        curTargets.collect {
          case (t, qi) if before < t && t <= cum => Row(g, qi, r.get(1))
        }
      }
    }
    val schema = StructType(
      Seq(
        slim.schema.fields(0),
        StructField("__qi", IntegerType, nullable = false),
        slim.schema.fields(1).copy(name = "__v")))
    spark
      .createDataFrame(picked, schema)
      .groupBy(col(groupCol))
      .agg(
        max(when(col("__qi") === 0, col("__v"))).as("q0"),
        ps.indices.tail.map(i => max(when(col("__qi") === i, col("__v"))).as(s"q$i")): _*)
  }

  /** Guard for compute-heavy per-row passes (md5 signatures, decimal
    * dot products) whose input may arrive in FEWER splits than the
    * cluster has cores — a single small parquet file is one row group,
    * hence ONE task, and the whole pass serializes onto one core
    * regardless of cluster size. If the input already has at least
    * `defaultParallelism` partitions (any real 100 TB table does) this
    * is the identity; otherwise one cheap shuffle of the narrow input
    * spreads the expensive work.
    */
  def spreadFewSplits(df: DataFrame, keyCol: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, col(keyCol))
  }

  /** Dense GLOBAL row numbers in `keyCol` order WITHOUT a
    * single-reducer window. `row_number() OVER (ORDER BY k)` funnels
    * every row through one partition — the classic 100 TB cliff (the
    * WindowExec warning in any unpartitioned-window plan). Here the
    * frame is range-partitioned and sorted on the key, a first pass
    * collects only the PER-PARTITION COUNTS to the driver (`P` longs —
    * bookkeeping, not data), and a second pass assigns
    * `offset(partition) + local index`. Same total order as the
    * window, but the work stays spread across all partitions.
    *
    * The sorted rows are persisted between the two passes (the count
    * pass must not recompute the shuffle); the returned frame is
    * backed by that cache — release it with
    * [[graft.GraftSession.releaseAllCaches]] once consumed, or keep it
    * hot for repeated reads.
    *
    * Keys need not be unique: ties are ordered by every other
    * ORDERABLE column as a deterministic tiebreak, so the numbering is
    * bit-identical across reruns even if a cached partition is evicted
    * and recomputed under a different shuffle fetch order (a key-only
    * sort would leave tie order to that nondeterministic arrival
    * order). Rows identical on the key AND all orderable columns are
    * genuinely interchangeable. Row numbers start at 1.
    */
  def globalRowNumber(
      df: DataFrame,
      keyCol: String,
      numPartitions: Int,
      outCol: String = "rn"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    val tiebreak = df.schema.fields
      .filter(f => f.name != keyCol && RowOrdering.isOrderable(f.dataType))
      .map(f => col(f.name))
    val sorted = df
      .repartitionByRange(numPartitions, col(keyCol))
      .sortWithinPartitions(col(keyCol) +: tiebreak.toSeq: _*)
      .rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = sorted
      .mapPartitionsWithIndex { case (i, it) => Iterator(i -> it.size.toLong) }
      .collect()
      .toMap
    val offsets = (0 until sorted.getNumPartitions)
      .scanLeft(0L)((acc, i) => acc + counts.getOrElse(i, 0L))
    val numbered = sorted.mapPartitionsWithIndex { case (i, it) =>
      var n = offsets(i)
      it.map { r => n += 1; Row.fromSeq(r.toSeq :+ n) }
    }
    val schema = StructType(df.schema.fields :+ StructField(outCol, LongType, nullable = false))
    spark.createDataFrame(numbered, schema)
  }

  /** EXCLUSIVE global prefix sum of `weightCol` in `keyCol` order
    * WITHOUT a single-reducer window — [[globalRowNumber]]'s sibling
    * for weights: `SUM(w) OVER (ORDER BY k)` funnels 100 TB through
    * one partition; here the first pass collects only PER-PARTITION
    * WEIGHT TOTALS to the driver (`P` longs — bookkeeping, not data)
    * and the second assigns `offset(partition) + running local sum`.
    * Row i's output is the total weight STRICTLY BEFORE it — its
    * half-open interval on the cumulative axis is
    * `[outCol, outCol + w)`, the form weighted systematic sampling,
    * weighted splits, and contiguous-chunk packing consume directly.
    *
    * Same determinism contract as [[globalRowNumber]] (full orderable
    * tiebreak within equal keys; sorted rows persisted between the two
    * passes — release via [[graft.GraftSession.releaseAllCaches]]).
    * Weights must be non-negative, non-null longs (the cumulative axis
    * must be monotone) — violations throw per row inside the pass, no
    * extra validation scan.
    */
  def prefixSum(
      df: DataFrame,
      keyCol: String,
      weightCol: String,
      numPartitions: Int,
      outCol: String = "cumw"): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.RowOrdering
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    require(
      df.schema(weightCol).dataType == LongType,
      s"prefixSum: $weightCol must be LongType (got ${df.schema(weightCol).dataType}) — cast explicitly")
    val wi = df.schema.fieldIndex(weightCol)
    def weightOf(r: Row): Long = {
      if (r.isNullAt(wi)) throw new IllegalArgumentException(s"prefixSum: null $weightCol")
      val w = r.getLong(wi)
      if (w < 0L) throw new IllegalArgumentException(s"prefixSum: negative $weightCol ($w)")
      w
    }
    val tiebreak = df.schema.fields
      .filter(f => f.name != keyCol && RowOrdering.isOrderable(f.dataType))
      .map(f => col(f.name))
    val sorted = df
      .repartitionByRange(numPartitions, col(keyCol))
      .sortWithinPartitions(col(keyCol) +: tiebreak.toSeq: _*)
      .rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sums = sorted
      .mapPartitionsWithIndex { case (i, it) =>
        Iterator(i -> it.foldLeft(0L)((acc, r) => Math.addExact(acc, weightOf(r))))
      }
      .collect()
      .toMap
    val offsets = (0 until sorted.getNumPartitions)
      .scanLeft(0L)((acc, i) => Math.addExact(acc, sums.getOrElse(i, 0L)))
    val cumulated = sorted.mapPartitionsWithIndex { case (i, it) =>
      var acc = offsets(i)
      it.map { r =>
        val out = Row.fromSeq(r.toSeq :+ acc)
        acc = Math.addExact(acc, weightOf(r))
        out
      }
    }
    val schema = StructType(df.schema.fields :+ StructField(outCol, LongType, nullable = false))
    spark.createDataFrame(cumulated, schema)
  }

  /** Grouped top-k through the CUSTOM PHYSICAL OPERATOR
    * ([[graft.plans.TopKPerGroupExec]] — one bounded k-heap per group,
    * O(n log k), no per-group sort) instead of the `Window
    * row_number ≤ k` formulation (which sorts every group in full).
    * Requires the GraftExtensions session (every [[graft.GraftSession]]
    * is one); `(orderCol DESC, tieCol ASC)` must totally order each
    * group or the kept set is ill-defined.
    */
  def topKPerGroup(
      df: DataFrame,
      k: Int,
      groupCol: String,
      orderCol: String,
      tieCol: String): DataFrame = {
    require(k >= 1, s"need k >= 1 (got $k)")
    df.hint("GRAFT_TOPK", k, groupCol, orderCol, tieCol)
  }

  /** Mergeable aggregate-state combine — the incremental-materialized-
    * view maintenance primitive: a standing per-key report (count /
    * decimal sum / min / max) is kept as a STATE table, and each new
    * data increment contributes its own small aggregate which merges
    * state-to-state (counts add, decimal sums add, min/min, max/max)
    * instead of recomputing over the full history. At 100 TB the
    * increment is the only thing scanned per refresh; the gate proves
    * merged(base ⊎ delta) ≡ full recompute bit-for-bit (the sum is
    * DECIMAL — a double sum would make the identity order-sensitive
    * and false).
    *
    * Both inputs must carry `keys ++ (n, sum_v, min_v, max_v)` — the
    * shape [[aggState]] produces. Keys present in only one side pass
    * through (full outer merge).
    */
  def aggState(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(28,10)")).as("sum_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))

  def mergeAggStates(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col("n")).cast("long").as("n"),
        sum(col("sum_v")).cast("decimal(28,10)").as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))

  /** Grouped HyperLogLog distinct-count estimate (Flajolet et al.
    * 2007; m = 64 registers, α₆₄ = 0.709) — the OTHER production
    * cardinality sketch next to the exact-bottom-k KMV family
    * ([[graft.functions.KMinValues]]/`sourceOverlapKmv`): constant
    * 64-registers state per group where KMV keeps k hashes, and
    * mergeable across shards by register-max.
    *
    * Deterministic and engine-replicable with NO floating point until
    * the final estimate: the item hash is the md5-derived
    * [[graft.functions.Hashing.h60]]; register = h mod 64; the ρ rank
    * is leading-zeros-of-(h div 64)-plus-1, computed from the BINARY
    * STRING length (`bin()` here, `format('{:b}')` in DuckDB — no
    * float log2 whose last-ulp could misround a boundary); the
    * harmonic denominator Σ2^−Mⱼ is carried as the INTEGER
    * Σ2^(Mmax−Mⱼ) over 2^Mmax (≤ 64·2^55, long-safe); the one double
    * division happens at the very end from identical integers.
    *
    * Scale shape: duplicates are absorbed by the register-max
    * map-side combine — NO distinct shuffle, unlike the exact
    * `countDistinct` twin; the only shuffles are keyed on
    * (group, register) and group (≤ 64·G rows). Raw estimate only
    * (no small-range linear-counting correction — that needs `ln`,
    * which engines round differently; callers in the n ≲ 2.5·m
    * regime should use the exact twin, which is cheap exactly there).
    */
  def hllDistinct(df: DataFrame, groupCol: String, keyCol: String): DataFrame = {
    import graft.functions.Hashing
    val rk = df
      .select(col(groupCol), Hashing.h60(col(keyCol)).as("__h"))
      .select(
        col(groupCol),
        (col("__h") % 64).as("__r"),
        expr("__h div 64").as("__w"))
      .select(
        col(groupCol),
        col("__r"),
        when(col("__w") === 0, lit(55)).otherwise(lit(55) - length(bin(col("__w")))).as("__rk"))
      .groupBy(col(groupCol), col("__r"))
      .agg(max(col("__rk")).as("__m"))
    // every group carries all 64 registers — absent ones are M = 0
    val grid = df
      .select(col(groupCol))
      .distinct()
      .select(col(groupCol), explode(sequence(lit(0L), lit(63L))).as("__r"))
    val regs = grid
      .join(rk, Seq(groupCol, "__r"), "left")
      .select(col(groupCol), coalesce(col("__m"), lit(0)).as("__m"))
    val mx = regs.groupBy(col(groupCol)).agg(max(col("__m")).as("__mx"))
    regs
      .join(broadcast(mx), Seq(groupCol))
      .groupBy(col(groupCol), col("__mx"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(__mx - __m AS INT))")).as("__num"))
      .select(
        col(groupCol),
        (lit(0.709) * lit(4096.0) *
          expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(__mx AS INT)) AS DOUBLE)") /
          col("__num").cast("double")).as("hll_est"))
  }

  /** Count-min sketch (Cormode & Muthukrishnan 2005) over one item
    * occurrence per input row: `depth` rows of `width` counters,
    * counter (j, b) = number of occurrences whose j-th hash lands in
    * bucket b. The third mergeable sketch in the family (KMV =
    * bottom-k hashes, HLL = register max, CMS = counter sums): shards
    * merge by plain counter addition, so a 100 TB corpus reduces to a
    * constant `depth·width`-row table with NO distinct shuffle and no
    * per-item state — the frequency-estimation complement of
    * [[hllDistinct]]'s cardinality estimate.
    *
    * Deterministic by construction: the row hashes are the salted
    * md5-derived [[graft.functions.Hashing.h60]] (`"cms<j>:" + item`)
    * mod `width`, and counter sums are order-independent integers —
    * bit-identical across engines and partitionings.
    *
    * Scale shape: one corpus pass, an `explode` fan-out of `depth`
    * (constant) per occurrence, one agg keyed on (j, bucket) whose
    * map-side combine collapses everything to ≤ `depth·width` rows
    * per task before the (tiny) shuffle.
    */
  def countMinSketch(occurrences: DataFrame, itemCol: String, depth: Int, width: Int): DataFrame = {
    import graft.functions.Hashing
    require(depth >= 1 && depth <= 8, s"CMS depth must be in [1,8]; got $depth")
    require(width >= 2, s"CMS width must be >= 2; got $width")
    val rows = (0 until depth).map { j =>
      struct(
        lit(j.toLong).as("j"),
        (Hashing.h60(concat(lit("cms" + j + ":"), col(itemCol))) % width).as("bucket"))
    }
    occurrences
      .select(explode(array(rows: _*)).as("__jb"))
      .groupBy(col("__jb.j").as("j"), col("__jb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-query the sketch: est(item) = min over the `depth` rows of
    * the counter the item hashes into — an overestimate by
    * construction (collisions only ever ADD), which the q136 gate
    * verifies against the exact twin. `probes` is the small frame
    * (the sketch itself is ≤ depth·width rows and is broadcast), so
    * nothing here touches corpus grain.
    */
  def cmsEstimate(
      sketch: DataFrame,
      probes: DataFrame,
      itemCol: String,
      depth: Int,
      width: Int): DataFrame = {
    import graft.functions.Hashing
    val probeCols = probes.columns.map(col).toSeq
    val hashed = probes
      .select(probeCols :+ explode(sequence(lit(0L), lit(depth - 1L))).as("j"): _*)
      .withColumn(
        "bucket",
        (Hashing.h60(concat(lit("cms"), col("j"), lit(":"), col(itemCol))) % width))
    hashed
      .join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy(probeCols: _*)
      .agg(min(col("cnt")).as("cms_est"))
  }

  /** Ordered-funnel stage times: for each user, the time of the
    * FIRST occurrence of `steps(0)`, then the first occurrence of
    * `steps(1)` STRICTLY AFTER that, and so on — the strictly-after
    * recurrence every product-analytics funnel runs (a per-type
    * global `min` is wrong: a click before the first view must not
    * count). One row per user who completed stage 1, with `t1..tn`
    * epoch columns and nulls from the first dropped stage onward.
    *
    * Scale shape: stage i is one filtered scan of `events` hash-joined
    * on the user key against the (shrinking) survivor frame, then one
    * map-side-combined `min` agg — no Window over the event stream, no
    * per-user sort, no collect. At 100 TB each per-stage frame is
    * partitioned by `userCol`, and survivors only ever shrink, so the
    * join's build side gets cheaper each stage.
    */
  def funnelStages(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size, s"duplicate funnel steps: $steps")
    var acc = events
      .filter(col(typeCol) === steps.head)
      .groupBy(col(userCol))
      .agg(min(col(tsCol)).as("t1"))
    steps.zipWithIndex.drop(1).foreach { case (st, i) =>
      val prev = s"t$i"
      val cur = s"t${i + 1}"
      val next = events
        .filter(col(typeCol) === st)
        .join(acc.select(col(userCol), col(prev)), userCol)
        .filter(col(tsCol) > col(prev))
        .groupBy(col(userCol))
        .agg(min(col(tsCol)).as(cur))
      acc = acc.join(next, Seq(userCol), "left")
    }
    acc
  }

  /** Z-order (Morton) curve value of two non-negative integer
    * dimensions — the DATA-LAYOUT primitive behind multi-dimensional
    * clustering (Delta/Iceberg `OPTIMIZE ZORDER` shape): interleaving
    * the low `bits` of x and y makes lexicographic order on the
    * result a space-filling curve, so any contiguous z-range covers a
    * small aligned rectangle of (x, y) space. Files written in
    * z-order carry TIGHT min/max column stats on BOTH dimensions at
    * once — the property that lets a 100 TB scan skip files for 2-D
    * predicates where a single-column sort helps only its own column.
    *
    * Pure integer column expression (composed shifts/masks, fully
    * codegen'd, no UDF): bit i of x lands at position 2i, bit i of y
    * at 2i+1. Caller contract: inputs in [0, 2^bits) — higher bits
    * are deliberately masked off so the curve stays dense.
    */
  def zOrderValue(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"zOrderValue: bits in [1,31]; got $bits")
    (0 until bits)
      .flatMap { i =>
        Seq(
          shiftleft(shiftright(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i),
          shiftleft(shiftright(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
      }
      .reduce(_ + _)
  }

  /** Range-repartition `df` along its [[zOrderValue]] — the executable
    * layout step: after this, each output partition holds one
    * contiguous z-range, i.e. a small aligned rectangle of the
    * 2-D key space, so per-partition (and thus per-file) min/max
    * stats are tight on BOTH dimensions. `numPartitions` is the
    * target file count; the z column is dropped from the output.
    */
  def zOrderRepartition(
      df: DataFrame,
      xCol: String,
      yCol: String,
      bits: Int,
      numPartitions: Int): DataFrame =
    df.withColumn("__zv", zOrderValue(col(xCol), col(yCol), bits))
      .repartitionByRange(numPartitions, col("__zv"))
      .drop("__zv")

  /** Order-independent table checksum — the migration-validation
    * primitive: a commutative modular sum of per-row [[graft.functions.Hashing.h60]]
    * hashes over a canonical column rendering, so two copies of a
    * table compare by ONE number regardless of row order,
    * partitioning, file layout, or engine (the DuckDB twin reproduces
    * it bit-for-bit). Any changed, missing, or duplicated row moves
    * the sum; the modulus (the Mersenne prime 2⁶¹−1) keeps the
    * accumulator in BIGINT range at any row count via an exact
    * DECIMAL(38,0) intermediate — ANSI long SUM would overflow-throw.
    *
    * Fully map-side-combined single aggregation: scan-speed at 100 TB,
    * and the commutativity is the point — no global sort is needed to
    * compare estates. Callers choose columns whose STRING rendering is
    * engine-exact (integers, strings, dates — not doubles) and free of
    * the `|` separator; nulls render as a sentinel so `("a", null)` ≠
    * `("a", "")`.
    */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "tableChecksum: need at least one column")
    val repr = concat_ws(
      "|",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    df.select(graft.functions.Hashing.h60(repr).as("h"))
      .agg(
        count(lit(1)).as("n_rows"),
        (sum(col("h").cast("decimal(38,0)")) % lit(2305843009213693951L))
          .cast("long")
          .as("checksum"))
  }

  /** Rendezvous (highest-random-weight) shard assignment: the shard in
    * `[0, nShards)` maximizing `md5(key ':' shard)` — the placement
    * primitive whose minimal-disruption property (removing one shard
    * moves ONLY that shard's keys; every other key keeps its winner)
    * makes incremental re-sharding of a 100 TB corpus an O(1/n) move,
    * where hash-mod re-homes nearly everything.
    *
    * Deliberately NOT an explode-and-argmax: the winner is a single
    * map-side `greatest` fold over `nShards` literal (hash, shard)
    * structs — no row inflation, no shuffle, whole-stage-codegen'd —
    * so it composes into any scan at full scan speed. Struct ordering
    * compares the hex digest first; md5 collisions over distinct
    * `key:shard` strings are the only possible tie, so the assignment
    * is deterministic and partition-invariant. Keys are stringified
    * with a `:` separator so numeric keys can't alias (`1:2` vs
    * `12:...`).
    */
  def rendezvousShard(key: Column, nShards: Int): Column = {
    require(nShards >= 2 && nShards <= 1024, s"rendezvousShard: nShards in [2,1024]; got $nShards")
    greatest((0 until nShards).map { i =>
      struct(
        md5(concat(key.cast("string"), lit(s":$i"))).as("h"),
        lit(i.toLong).as("shard"))
    }: _*).getField("shard")
  }
}
