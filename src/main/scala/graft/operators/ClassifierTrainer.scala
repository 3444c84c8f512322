package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

/** In-engine distributed training of the learned quality filter — the
  * stage that completes the q174 story the way [[BpeTrainer]]
  * completed the BPE story (VERDICT r11 #2): the engine already runs
  * the DCLM/fastText-style hashed-bigram linear INFERENCE
  * ([[TextAnalysis.classifierKeepRule]]); this operator trains those
  * weights from the corpus itself, so a 100 TB pipeline never leaves
  * the engine to fit its filter.
  *
  * Determinism contract (identical to `tools/make_classifier.py
  * --int`, the independent python implementation the spec cross-gates
  * against, and replayed epoch-by-epoch by the q177 DuckDB oracle):
  * full-batch gradient descent where EVERY quantity is an integer and
  * EVERY division is a floor division —
  *  - features: per-doc hashed-bigram bucket counts (q174's exact
  *    feature space: `h32(bigram) % B`), ppm-normalized by the doc's
  *    total bigram count: `x = (c·10⁶) div N` (non-negative, so
  *    truncating and floor division agree across engines);
  *  - the BIAS rides as bucket −1 with constant feature 10⁶, making
  *    z = Σ w_b·x_b include the intercept and every epoch ONE uniform
  *    gradient aggregate — no special-cased bias pass anywhere;
  *  - distillation target: the q26 marker-heuristic verdict
  *    "predicted language is en" (the FineWeb-Edu / DCLM pattern),
  *    y ∈ {0,1};
  *  - class-balanced weights `cw = (n·10⁶) div (2·n_class)` (the
  *    target runs ~9:1 positive — unweighted GD collapses to the
  *    constant-true filter);
  *  - hard sigmoid in place of the transcendental one:
  *    p4 = clamp(2·10¹² + z, 0, 4·10¹²) — exactly 4·10¹²·σ_hard(z)
  *    with σ_hard(z) = clip(½ + z/4, 0, 1). A float sigmoid would be
  *    bit-unstable across engines; the hard form keeps the
  *    cross-entropy-style gradient (p−y)·x exact-integer;
  *  - per-doc error, two staged floor-divisions keeping everything in
  *    Long range: e1 = fd(p4 − 4·10¹²·y, 10⁶), e2 = fd(e1·cw, 10⁶);
  *  - gradient g_b = Σ_docs e2·x_b (summed in decimal(38,0): the
  *    per-TERM product is ≤ ~4·10¹³ and fits Long, but the SUM is
  *    corpus-sized and must not overflow at 10⁹ docs);
  *  - update w_b ← w_b − fd(lr_micro·g_b, n·4·10¹²), computed in
  *    BigInt on the driver (the multiply exceeds Long).
  * fd = floor division: `Math.floorDiv`/BigInt-mod here,
  * `(a − pmod(a, m)) div m` in Spark SQL, and
  * `(a − ((a % m + m) % m)) // m` in DuckDB — all three agree on
  * negatives, where the engines' plain integer divisions do NOT
  * (both truncate toward zero; python's // floors).
  *
  * Scale shape: the CORPUS pays one pass (bigram explode → per-doc
  * bucket counts → ppm features + label), materialized ONCE into two
  * persisted frames pre-partitioned on the doc key: `feats(id, b, x)`
  * and `docs(id, y, cw)`. Each epoch is then one lazy plan over those
  * caches: feats ⋈ broadcast(weights) → per-doc dot (reuses the id
  * partitioning, no exchange) → e2 → join back to feats on id
  * (co-partitioned, no exchange) → per-bucket decimal sum → one
  * B+1-row collect (bounded driver bookkeeping — the
  * [[Coverage.greedyMaxCoverage]] / [[BpeTrainer]] one-small-row-set-
  * per-round pattern). The weight STATE lives on the driver (≤ B+1
  * longs), re-broadcast per epoch — epoch plans never chain, so no
  * lineage growth and no checkpointing is needed (unlike BpeTrainer's
  * evolving word table).
  *
  * Overflow bounds (documented, not just asserted): |w| stays far
  * below 10⁹ micro in practice (weights are ≤ O(10) real); the
  * per-doc dot Σw·x is then ≤ |w|_max·10⁶ ≤ 10¹⁵ ≪ Long.Max. The
  * hot-loop per-term products are bounded by construction
  * (e1 ≤ 4·10⁶, e1·cw ≤ 4·10¹³, e2·x ≤ 4·10¹³·cw_real); only the
  * corpus-sized SUMS and the driver-side lr·g multiply need width,
  * and both ride decimal/BigInt.
  */
object ClassifierTrainer {

  /** Bounded-collect ceiling for the driver-side arm (r13 verdict
    * Next #4 — the [[BpeTrainer.LocalVocabCeil]] idiom): the persisted
    * feature frame may come down to the driver only when the OBSERVED
    * feature-row count (already materialized for the loop-session
    * sizing) clears this. 2²² (id, bucket, x) rows ≈ 70 MB of
    * primitive arrays — trivially driver-resident — while a genuinely
    * huge corpus (features are docs × distinct-buckets-per-doc) stays
    * on the distributed arm. The full-batch GD loop is then pure array
    * arithmetic: 16 epochs × (2 argmax-shaped jobs + a B-row collect)
    * of scheduler round-trips collapse to microseconds per epoch.
    * Measured A/B (Profile protocol, q177 at sf0.1, 32 cores, 16
    * epochs, min of 3 post-warmup reps): distributed arm 9.07 s vs
    * local arm 1.74 s — 5.2×, and the gap grows linearly with epoch
    * count since the corpus featurization pass (shared by both arms)
    * is the local arm's entire remaining cost.
    */
  final val LocalFeatCeil: Long = 1L << 22

  /** Floor division of a column by a positive literal: exact in both
    * engines because the numerator is first reduced to a multiple of
    * `m` (pmod is non-negative), so the final `div`'s rounding
    * direction never fires.
    */
  private def fd(a: Column, m: Long): Column =
    call_function("div", a - pmod(a, lit(m)), lit(m))

  /** Per-document feature vectors over `(__id, __t)` rows: hashed-
    * bigram bucket counts normalized to ppm of the doc's own total,
    * with the bias pseudo-feature (-1, 1e6) prepended — as `__fx`
    * struct arrays, one row per doc that has >= 1 bigram. The SINGLE
    * source of the feature space: [[train]] and [[scoreDf]] both call
    * this, so the held-out eval can never score in a drifted space
    * (r13 review finding).
    */
  private def perDocFeatures(base: DataFrame, buckets: Int): DataFrame = {
    val cnt = base
      .select(col("__id"), explode(Dedup.wordNGramsAll(col("__t"), 2)).as("__g"))
      .select(col("__id"), (graft.functions.Hashing.h32(col("__g")) % buckets).as("__b"))
      .groupBy(col("__id"), col("__b"))
      .agg(count(lit(1)).as("__c"))
    cnt
      .groupBy(col("__id"))
      .agg(sum(col("__c")).as("__N"), collect_list(struct(col("__b"), col("__c"))).as("__bc"))
      .select(
        col("__id"),
        concat(
          array(struct(lit(-1L).as("b"), lit(1000000L).as("x"))),
          transform(
            col("__bc"),
            e => struct(
              e.getField("__b").as("b"),
              call_function("div", e.getField("__c") * lit(1000000L), col("__N")).as("x"))))
          .as("__fx"))
  }

  /** The marker-verdict distillation target: 1 iff
    * [[TextAnalysis.predictLang]] would say "en" (no CJK, not
    * German-dominant, en ≥ es and en ≥ fr) — the exact q26 CASE arm.
    */
  private def enVerdict(text: Column): Column = {
    import TextAnalysis.{cjkCount, markerHits, markers}
    val de = markerHits(text, markers("de"))
    val en = markerHits(text, markers("en"))
    val es = markerHits(text, markers("es"))
    val fr = markerHits(text, markers("fr"))
    when(
      cjkCount(text) === 0L &&
        !(de >= en && de >= es && de >= fr) &&
        en >= es && en >= fr,
      1L).otherwise(0L)
  }

  /** Train `epochs` integer GD epochs over the corpus; returns the
    * final weight table as (bucket, wMicro) with bucket −1 = bias,
    * in bucket order — exactly `tools/make_classifier.py --int`.
    *
    * Two bit-identical execution arms (the [[BpeTrainer.train]]
    * pattern): the DISTRIBUTED epoch loop (per epoch one broadcast
    * weight join + two co-partitioned joins + a ≤ buckets+1-row
    * gradient collect) and a DRIVER-SIDE arm
    * ([[trainLocalArm]]) that collects the persisted feature frame
    * once — behind the observed-cardinality [[LocalFeatCeil]] guard —
    * and runs the identical integer math over primitive arrays.
    * `local = None` auto-selects local iff the materialized feature
    * count clears the ceiling (the corpus-grain featurization pass is
    * distributed either way; only the epoch LOOP moves); `Some(x)` or
    * `GRAFT_CLS_LOCAL=on|off` forces an arm — an explicit request is
    * never silently rerouted (the r13 arm-precedence review finding).
    */
  def train(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      buckets: Int,
      epochs: Int,
      lrMicro: Long = 800000L,
      local: Option[Boolean] = None): Seq[(Int, Long)] = {
    require(buckets >= 2 && buckets <= (1 << 20), s"buckets in [2, 2^20]; got $buckets")
    require(epochs >= 1 && epochs <= 10000, s"epochs in [1, 10000]; got $epochs")
    require(lrMicro >= 1, s"lrMicro >= 1; got $lrMicro")
    val spark = corpus.sparkSession
    import spark.implicits._

    // ---- the ONE corpus-grain pass: features + label per doc -------
    val base = corpus
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), col(textCol).as("__t"))
    // Per-doc ppm features in one doc-grain aggregate (no window, no
    // self-join) — the shared perDocFeatures space.
    val perDoc = perDocFeatures(base, buckets)
    val labels = base.select(col("__id"), enVerdict(col("__t")).as("__y"))

    // Docs with zero bigrams have no feature rows and are excluded
    // from training (nothing to learn from) — the inner join drops
    // them, matching the python trainer's dict construction.
    val joined = perDoc.join(labels, Seq("__id"))

    val feats0 = joined
      .select(col("__id"), explode(col("__fx")).as("f"))
      .select(col("__id"), col("f.b").as("__b"), col("f.x").as("__x"))
      .persist()
    val docs0 = joined.select(col("__id"), col("__y")).persist()
    var featsL: DataFrame = null
    var docsL: DataFrame = null
    try {
      val nFeat = feats0.count() // materialize before sizing the loop session
      val stats = docs0.agg(count(lit(1)), sum(col("__y"))).collect()(0)
      val n = stats.getLong(0)
      val nPos = if (stats.isNullAt(1)) 0L else stats.getLong(1)
      val nNeg = n - nPos
      require(n > 0, "ClassifierTrainer: no trainable documents (every doc < 2 tokens)")
      require(
        nPos > 0 && nNeg > 0,
        s"ClassifierTrainer: degenerate label split (pos=$nPos neg=$nNeg) — " +
          "the distillation target must have both classes")
      val cwp = (n * 1000000L) / (2L * nPos) // non-negative: / == floorDiv
      val cwn = (n * 1000000L) / (2L * nNeg)

      val useLocal =
        graft.Config.armOverride(local, "GRAFT_CLS_LOCAL").getOrElse(nFeat <= LocalFeatCeil)
      if (useLocal)
        return trainLocalArm(feats0, docs0, buckets, epochs, lrMicro, n, cwp, cwn, nFeat)

      // Epoch rounds run on a session sized from the materialized
      // feature count (Graph.loopSessionFor): feature rows
      // ≪ corpus rows, and a 32-wide exchange per 1025-row gradient
      // is pure scheduler overhead. The frames are re-cached INSIDE
      // the loop session pre-partitioned on the doc key, so every
      // epoch's two doc-key joins and the per-doc aggregate reuse the
      // cached partitioning — the only exchange an epoch pays is the
      // tiny per-bucket one. (No LoopScope: the result is driver-side
      // weights, so the `finally` below releases every frame on every
      // path.)
      val loopSpark = Graph.loopSessionFor(spark, nFeat).getOrElse(spark)
      featsL = loopSpark.createDataFrame(feats0.rdd, feats0.schema)
        .repartition(col("__id")).persist()
      docsL = loopSpark.createDataFrame(docs0.rdd, docs0.schema)
        .repartition(col("__id")).persist()
      featsL.count(): Unit
      docsL.count(): Unit

      val w = new Array[Long](buckets + 1) // index b+1; b = -1 is the bias
      val wSchema = StructType(Seq(
        StructField("__b", LongType, nullable = false),
        StructField("__w", LongType, nullable = false)))
      var epoch = 0
      while (epoch < epochs) {
        val wRows = (-1 until buckets).map(b =>
          org.apache.spark.sql.Row(b.toLong, w(b + 1)))
        val wdf = loopSpark.createDataFrame(
          loopSpark.sparkContext.parallelize(wRows, 1), wSchema)
        val scored = featsL
          .join(broadcast(wdf), Seq("__b"))
          .groupBy(col("__id"))
          .agg(sum(col("__w") * col("__x")).as("__dot"))
          .join(docsL, Seq("__id"))
          .select(
            col("__id"),
            fd(
              fd(
                least(greatest(lit(2000000000000L) + col("__dot"), lit(0L)), lit(4000000000000L)) -
                  lit(4000000000000L) * col("__y"),
                1000000L) * when(col("__y") === 1L, lit(cwp)).otherwise(lit(cwn)),
              1000000L).as("__e2"))
        val grad = featsL
          .join(scored, Seq("__id"))
          .groupBy(col("__b"))
          .agg(sum((col("__e2") * col("__x")).cast(DecimalType(38, 0))).as("__g"))
          .collect()
        val denom = BigInt(n) * BigInt(4000000000000L)
        grad.foreach { r =>
          val b = r.getLong(0).toInt
          val g = BigInt(r.getDecimal(1).toBigInteger)
          val num = BigInt(lrMicro) * g
          // BigInt floorDiv: mod is non-negative for positive modulus,
          // so (num - num.mod(denom)) is an exact multiple.
          val delta = (num - num.mod(denom)) / denom
          w(b + 1) = w(b + 1) - delta.toLong
        }
        epoch += 1
      }
      (-1 until buckets).map(b => (b, w(b + 1)))
    } finally {
      if (featsL != null) featsL.unpersist(): Unit
      if (docsL != null) docsL.unpersist(): Unit
      feats0.unpersist(): Unit
      docs0.unpersist(): Unit
    }
  }

  /** The driver-side epoch loop: the SAME integer GD over primitive
    * arrays. Every quantity replicates the distributed arm's operator
    * semantics exactly —
    *  - per-doc dot: Long sum with `Math.addExact` (the distributed
    *    arm's ANSI `sum(long)` equally throws on overflow — ANSI is
    *    Spark 4's DEFAULT and GraftSession leaves it on; verified
    *    empirically: `SELECT Long.Max + 1` throws ArithmeticException
    *    on this build — so the two arms fail identically outside the
    *    documented |w| bound);
    *  - e1/e2: `Math.floorDiv`, the engine `fd`'s exact twin;
    *  - per-bucket gradient: signed 128-bit (hi, lo) accumulation —
    *    the decimal(38,0) sum's exact-integer equivalent (per-term
    *    products fit Long by the documented bounds; only the
    *    corpus-sized SUM needs width);
    *  - weight update: the identical BigInt floor-division.
    * Guarded: refuses to collect past [[LocalFeatCeil]]
    * (auto-selection can never reach this throw; an explicit
    * `local = Some(true)` on an over-ceiling corpus fails loudly
    * rather than OOMing the driver).
    */
  private[graft] def trainLocalArm(
      feats0: DataFrame,
      docs0: DataFrame,
      buckets: Int,
      epochs: Int,
      lrMicro: Long,
      n: Long,
      cwp: Long,
      cwn: Long,
      nFeat: Long): Seq[(Int, Long)] = {
    require(
      nFeat <= LocalFeatCeil,
      s"ClassifierTrainer local arm: observed feature count $nFeat exceeds the " +
        s"driver-collect ceiling $LocalFeatCeil — use the distributed arm " +
        "(local = Some(false) or GRAFT_CLS_LOCAL=off)")
    val docRows = docs0.select(col("__id"), col("__y")).collect()
    val nDocs = docRows.length
    val idIdx = new java.util.HashMap[Long, Int](nDocs * 2)
    val y = new Array[Long](nDocs)
    var i = 0
    while (i < nDocs) {
      idIdx.put(docRows(i).getLong(0), i)
      y(i) = docRows(i).getLong(1)
      i += 1
    }
    val fRows = feats0.select(col("__id"), col("__b"), col("__x")).collect()
    val nF = fRows.length
    val fDoc = new Array[Int](nF)
    val fB = new Array[Int](nF) // bucket + 1 (bias at 0)
    val fX = new Array[Long](nF)
    var j = 0
    while (j < nF) {
      fDoc(j) = idIdx.get(fRows(j).getLong(0))
      fB(j) = fRows(j).getLong(1).toInt + 1
      fX(j) = fRows(j).getLong(2)
      j += 1
    }
    val w = new Array[Long](buckets + 1)
    val dots = new Array[Long](nDocs)
    val e2 = new Array[Long](nDocs)
    val gHi = new Array[Long](buckets + 1)
    val gLo = new Array[Long](buckets + 1)
    val denom = BigInt(n) * BigInt(4000000000000L)
    val loMask = (BigInt(1) << 64) - 1
    var epoch = 0
    while (epoch < epochs) {
      java.util.Arrays.fill(dots, 0L)
      j = 0
      while (j < nF) {
        dots(fDoc(j)) = Math.addExact(dots(fDoc(j)), Math.multiplyExact(w(fB(j)), fX(j)))
        j += 1
      }
      i = 0
      while (i < nDocs) {
        val p4 = Math.min(Math.max(Math.addExact(2000000000000L, dots(i)), 0L), 4000000000000L)
        val e1 = Math.floorDiv(p4 - 4000000000000L * y(i), 1000000L)
        e2(i) = Math.floorDiv(Math.multiplyExact(e1, if (y(i) == 1L) cwp else cwn), 1000000L)
        i += 1
      }
      java.util.Arrays.fill(gHi, 0L)
      java.util.Arrays.fill(gLo, 0L)
      j = 0
      while (j < nF) {
        val v = Math.multiplyExact(e2(fDoc(j)), fX(j))
        val bi = fB(j)
        val lo = gLo(bi)
        val nl = lo + v
        // signed-128 add: sign-extend v, plus the unsigned carry out
        // of the low word
        gHi(bi) += (v >> 63) + (((lo & v) | ((lo | v) & ~nl)) >>> 63)
        gLo(bi) = nl
        j += 1
      }
      var bi = 0
      while (bi <= buckets) {
        val g = (BigInt(gHi(bi)) << 64) + (BigInt(gLo(bi)) & loMask)
        if (g != 0) {
          val num = BigInt(lrMicro) * g
          val delta = (num - num.mod(denom)) / denom
          w(bi) = w(bi) - delta.toLong
        }
        bi += 1
      }
      epoch += 1
    }
    (-1 until buckets).map(b => (b, w(b + 1)))
  }

  /** [[train]] as a (bucket, w_micro) DataFrame — the q177 gate
    * surface. ≤ buckets+1 rows by construction: bounded bookkeeping.
    */
  def trainDf(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      buckets: Int,
      epochs: Int,
      lrMicro: Long = 800000L,
      local: Option[Boolean] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    train(corpus, textCol, idCol, buckets, epochs, lrMicro, local)
      .map { case (b, wm) => (b.toLong, wm) }
      .toDF("bucket", "w_micro")
  }

  /** Score a corpus with a TRAINED weight table (the held-out-eval
    * side of the train/eval split — q185): per doc the integer dot
    * product (micro² scale), the distillation label `y`, and the
    * caller derives the hard-sigmoid prediction as `dot >= 0`
    * (⟺ p ≥ 0.5). Featurization mirrors [[train]]'s exactly (hashed
    * bigrams, ppm normalization, bias −1). Docs with ZERO bigrams
    * carry no feature rows — [[train]] excludes them, but inference
    * must still answer, so they score bias-only via the COALESCE.
    * The weight table is bounded (≤ buckets+1 rows) — a CORRECT
    * bounded broadcast, per the r12 word-map distinction.
    */
  def scoreDf(
      corpus: DataFrame,
      textCol: String,
      idCol: String,
      buckets: Int,
      weights: Seq[(Int, Long)]): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20), s"buckets in [2, 2^20]; got $buckets")
    require(weights.nonEmpty, "scoreDf: empty weight table")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus
      .filter(col(textCol).isNotNull)
      .select(col(idCol).as("__id"), col(textCol).as("__t"))
    val feats = perDocFeatures(base, buckets)
      .select(col("__id"), explode(col("__fx")).as("f"))
      .select(col("__id"), col("f.b").as("__b"), col("f.x").as("__x"))
    val wdf = weights.map { case (b, w) => (b.toLong, w) }.toDF("__b", "__w")
    val dots = feats
      .join(broadcast(wdf), Seq("__b"))
      .groupBy(col("__id"))
      .agg(sum(col("__w") * col("__x")).as("__dot"))
    val biasOnly = weights.find(_._1 == -1).map(_._2).getOrElse(0L) * 1000000L
    base
      .select(col("__id"), enVerdict(col("__t")).as("__y"))
      .join(dots, Seq("__id"), "left")
      .select(
        col("__id").as("doc_id"),
        col("__y").as("y"),
        coalesce(col("__dot"), lit(biasOnly)).as("dot"))
  }

  /** The checked-in `make_classifier.py --int` artifact — the
    * cross-implementation reference [[train]] must reproduce
    * bit-for-bit on the sf0.01 corpus (ClassifierTrainerSpec), and a
    * trained-weights source for inference composition. Lines
    * "<bucket>\t<microWeight>", bucket −1 first (the bias).
    */
  lazy val trainedIntFixture: Seq[(Int, Long)] = {
    val in = getClass.getResourceAsStream("/graft/quality_classifier_int.txt")
    require(in != null, "graft/quality_classifier_int.txt missing from classpath")
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines().map { l =>
        val Array(b, v) = l.split('\t')
        (b.toInt, v.toLong)
      }.toVector
    } finally in.close()
  }
}
