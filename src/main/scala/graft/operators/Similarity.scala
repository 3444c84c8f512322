package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.Hashing._

/** Similarity search over embedding columns (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and SRP-LSH (signed
  * random projections) bucketing as the approximate scale path.
  *
  * Numeric contract: dot products and norms accumulate in
  * DECIMAL(28,10) (each float→double product rounded once to decimal),
  * so results are exact, order-independent, and bit-identical to the
  * DuckDB oracle — and identical across partitionings, which is what
  * makes a distributed similarity run reproducible. The final cosine is
  * a double ratio of those exact values (IEEE-deterministic).
  */
object Similarity {

  private val decT = DecimalType(28, 10)
  private def dec(c: Column): Column = c.cast(decT)

  /** Exact squared L2 norm of a float-array column — the native
    * codegen'd [[graft.functions.DotProductDecimal]] of the array with
    * itself (bit-identical to the original interpreted decimal fold;
    * see that expression's parity contract).
    */
  def sqNorm(emb: Column): Column = dot(emb, emb)

  /** Exact dot product of two float-array columns via the native
    * [[graft.functions.DotProductDecimal]] expression (registered by
    * [[graft.GraftSession]] / GraftExtensions): per-product rounding
    * and exact accumulation identical to the interpreted
    * `aggregate(zip_with(...))` decimal fold it replaces, but ~10×
    * faster — higher-order functions evaluate interpreted with
    * per-element Decimal boxing, while this is one static call fused
    * into whole-stage codegen. No explode, no shuffle.
    */
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot_dec", a, b)

  /** Cosine from a precomputed exact dot and squared norms. */
  def cosine(dotV: Column, sqA: Column, sqB: Column): Column =
    dotV / (sqrt(sqA) * sqrt(sqB))

  /** Adds an exact `sq_norm` column. Compute once, reuse across joins —
    * at scale the norms table is the small broadcast side.
    */
  def withSqNorm(df: DataFrame, embCol: String): DataFrame =
    df.withColumn("sq_norm", sqNorm(col(embCol)))

  /** Brute-force cosine top-k: every query row scored against every
    * corpus row. Exact but O(|Q|·|C|) — the baseline ANN variants are
    * measured against. Queries are expected to be the small broadcast
    * side; the corpus streams. Ranking ties break on neighbor id so the
    * result is total-ordered.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int): DataFrame = {
    val q = withSqNorm(queries, embCol)
      .select(col(idCol).as("query_id"), col(embCol).as("q_emb"), col("sq_norm").as("q_sq"))
    // The corpus side carries |Q| dot products per row — spread it if
    // it arrived in fewer splits than there are cores.
    val c = withSqNorm(Relational.spreadFewSplits(corpus, idCol), embCol)
      .select(col(idCol).as("neighbor_id"), col(embCol).as("c_emb"), col("sq_norm").as("c_sq"))
    val scored = broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosine(dot(col("q_emb"), col("c_emb")), col("q_sq"), col("c_sq")).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Fast twin of [[bruteForceTopK]] on the codegen'd native
    * [[graft.functions.DotProductFloat]] expression (`graft_dot`, which
    * [[graft.functions.GraftExtensions]] installs in every
    * [[graft.GraftSession]]). Sequential double
    * accumulation — deterministic but not decimal-exact, so it is the
    * throughput path, not the oracle path.
    */
  def bruteForceTopKFast(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      k: Int): DataFrame = {
    def sq(c: Column): Column = call_function("graft_dot", c, c)
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"), sq(col(embCol)).as("q_sq"))
    val c = Relational.spreadFewSplits(corpus, idCol)
      .select(col(idCol).as("neighbor_id"), col(embCol).as("c_emb"), sq(col(embCol)).as("c_sq"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        (call_function("graft_dot", col("q_emb"), col("c_emb")) / (sqrt(col("q_sq")) * sqrt(col("c_sq"))))
          .as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** INT8 per-vector max-abs quantization — the memory-bound ANN scale
    * path (a 100 TB float corpus becomes 25 TB of int8 with ~1% recall
    * loss): `q_i = floor(x_i · 127/max|x| + 0.5)`, so every component
    * lands in [−127, 127]. `floor(v + 0.5)` instead of `round` because
    * the two engines disagree on round-half semantics while floor
    * arithmetic is plain IEEE — bit-identical everywhere. Zero vectors
    * quantize to all-zero (the 127/0 division never evaluates).
    *
    * Adds `outCol` (array<int>). The max-abs is staged as a column
    * (referenced per element) so it computes once per row, not once
    * per component.
    */
  def quantizeInt8(df: DataFrame, embCol: String, outCol: String): DataFrame = {
    val m = col("__q8_max")
    df.withColumn("__q8_max", array_max(transform(col(embCol), x => abs(x.cast("double")))))
      .withColumn(
        outCol,
        when(m === 0.0, transform(col(embCol), _ => lit(0)))
          .otherwise(
            transform(
              col(embCol),
              x => floor(x.cast("double") * (lit(127.0) / m) + lit(0.5)).cast("int"))))
      .drop("__q8_max")
  }

  /** Exact INTEGER dot of two int8-quantized vectors — pure long
    * arithmetic, order-independent, bit-identical across engines.
    */
  def dotInt(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x * y).cast("long")),
      lit(0L),
      (acc, x) => acc + x)

  /** All pairs with cosine ≥ threshold (embedding near-duplicate
    * detection). Direct pair join — the EXACT baseline, O(n²) by
    * construction, so it refuses unbounded input: a count-gate throws
    * above `maxRows` (one cheap count job — the price of making the
    * quadratic path impossible to point at a full corpus by accident).
    * The SRP-LSH bucketed path below is the unbounded-scale variant.
    *
    * PRECONDITION (near-unit-norm vectors): the fast double-cosine
    * prefilter's fixed 1e-6 slack is a strict superset of the exact
    * decimal gate only while the decimal-vs-double cosine gap
    * (~dim·5e-11 / (|a|·|b|)) stays far inside the slack — true for
    * norms ≳ 0.01 at dim ≤ 1024 (the embeddings-table regime; typical
    * gap ~1e-12). Feeding vectors with norms orders of magnitude
    * smaller would inflate the gap past the slack and the prefilter
    * could drop pairs the exact filter keeps — rescale such inputs
    * (cosine is scale-invariant) before calling.
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      embCol: String,
      threshold: Double,
      maxRows: Long = 10000): DataFrame = {
    val nRows = df.count()
    require(
      nRows <= maxRows,
      s"nearDupPairs is O(n²); input has $nRows rows > maxRows=$maxRows — use srpAnnTopK/LSH for unbounded corpora")
    val n = withSqNorm(Relational.spreadFewSplits(df, idCol), embCol)
      .select(col(idCol), col(embCol), col("sq_norm"))
    val a = n.select(col(idCol).as("vec_a"), col(embCol).as("emb_a"), col("sq_norm").as("sq_a"))
    val b = n.select(col(idCol).as("vec_b"), col(embCol).as("emb_b"), col("sq_norm").as("sq_b"))
    // Two-phase gate: the O(n²) pair stream first passes the FAST
    // double-accumulated cosine ([[graft.functions.DotProductFloat]],
    // a primitive codegen loop — no per-element Decimal allocation)
    // with 1e-6 slack, and only the surviving sliver pays the exact
    // decimal fold that defines the operator (and the oracle). Sound
    // because the double cosine of unit-scale vectors is within
    // ~1e-12 of the exact value, 6 orders of magnitude inside the
    // slack — the prefilter is a strict superset of the exact gate.
    // Measured: the decimal fold on all 12.5M sf0.1 pairs was ~20 s;
    // double-prefiltered it tracks the (tiny) candidate count.
    val fastCos = call_function("graft_dot", col("emb_a"), col("emb_b")) /
      (sqrt(col("sq_a").cast("double")) * sqrt(col("sq_b").cast("double")))
    a.join(b, col("vec_a") < col("vec_b"))
      .filter(fastCos >= threshold - 1e-6)
      .select(
        col("vec_a"),
        col("vec_b"),
        cosine(dot(col("emb_a"), col("emb_b")), col("sq_a"), col("sq_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SRP-LSH signature: `bits` signed-random-projection bits per
    * vector. Hyperplane (j, i) weight is ±1 by the parity of
    * h60("srp_j_i") — deterministic, reproducible in SQL, no stored
    * projection matrix. The weight matrix is tiny (bits × dim), so it
    * is computed once at plan-build time and embedded as literals; per
    * row the signature is `bits` zip_with folds — no explode, no
    * shuffle, fully codegen'd. Bit j is 1 iff Σᵢ wⱼᵢ·eᵢ > 0, with the
    * sum accumulated in decimal so the sign never flips between
    * engines or partitionings. Vectors in the same bucket are ANN
    * candidates: 2^bits buckets partition the corpus, turning ANN
    * search into an equi-join — the shape that scales out.
    */
  def srpSignature(
      df: DataFrame,
      idCol: String,
      embCol: String,
      bits: Int,
      dim: Int,
      family: String = "srp"): DataFrame = {
    val bucket = (0 until bits)
      .map { j =>
        val w = typedLit((0 until dim).map { p =>
          if (h60Local(s"${family}_${j}_$p") % 2 == 0) 1.0 else -1.0
        })
        val s = aggregate(
          zip_with(col(embCol), w, (x, wv) => dec(x.cast("double") * wv)),
          lit(0).cast(decT),
          (acc, x) => dec(acc + x))
        when(s > 0, lit(1L << j)).otherwise(lit(0L))
      }
      .reduce(_ + _)
    df.select(col(idCol), bucket.as("bucket"))
  }

  /** Bucketed ANN: top-k by exact cosine among same-bucket candidates.
    * Recall is tunable via `bits` (fewer bits → bigger buckets → higher
    * recall, more compute) and `probeBitFlips`:
    *
    *  - 0 (default): each query probes only its own bucket; empty or
    *    sparse buckets may return fewer than k rows.
    *  - 1: MULTI-PROBE — each query additionally probes every bucket
    *    one bit-flip away (the buckets a near-miss hyperplane vote
    *    lands in), i.e. `bits + 1` probes per query. Recall degrades
    *    gracefully instead of falling off a bucket-boundary cliff, at
    *    `bits + 1`× the candidate volume.
    *
    * The probe fan-out EXPLODES ONLY THE QUERY SIDE (the small,
    * broadcast side); the corpus keeps exactly one bucket per vector,
    * so the join stays a bucket-partitioned equi-join and each
    * (query, neighbor) candidate appears at most once — no dedup pass.
    */
  def srpAnnTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      bits: Int,
      dim: Int,
      k: Int,
      probeBitFlips: Int = 0): DataFrame = {
    require(
      probeBitFlips == 0 || probeBitFlips == 1,
      "probeBitFlips must be 0 (exact-bucket) or 1 (1-bit-flip multi-probe)")
    val buckets = srpSignature(corpus, idCol, embCol, bits, dim)
    val n = withSqNorm(corpus, embCol).join(buckets, idCol)
    val q0 = n
      .join(queries.select(col(idCol)), idCol)
      .select(
        col(idCol).as("query_id"),
        col(embCol).as("q_emb"),
        col("sq_norm").as("q_sq"),
        col("bucket"))
    val q =
      if (probeBitFlips == 0) q0
      else
        q0.withColumn(
          "bucket",
          explode(array(col("bucket") +:
            (0 until bits).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)))
    val c = n.select(
      col(idCol).as("neighbor_id"),
      col(embCol).as("c_emb"),
      col("sq_norm").as("c_sq"),
      col("bucket"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(q)
      .join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosine(dot(col("q_emb"), col("c_emb")), col("q_sq"), col("c_sq")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** INT8 bucketed ANN — the compose of the two scale paths: SRP-LSH
    * candidate generation (same bucket, or with `probeBitFlips = 1`
    * every bucket one bit-flip away — same fan-out contract as
    * [[srpAnnTopK]]: queries explode, the corpus keeps one bucket per
    * vector PER TABLE) with ranking by the exact INTEGER dot of the
    * int8-quantized vectors. 4× smaller vectors AND a candidate set
    * bounded by the bucket equi-joins — no full corpus rescan.
    * `tables` independent hyperplane families are the recall lever
    * (recall = 1−(1−P₁)^L for per-table inclusion P₁): each table is
    * its own bucketed equi-join and the union is deduped per
    * (query, neighbor) pair before ranking — the standard
    * multi-table LSH construction, which buys recall with bounded
    * extra candidate volume where finer single-table buckets would
    * collapse it.
    * Signatures come from the float embedding (quantization noise
    * never moves a vector across a bucket boundary); the float column
    * is then dropped before the join, so only int8 payloads ship.
    *
    * Candidates are RANKED by int8 cosine (`idot / √(Σqa²·Σqb²)`),
    * not the raw integer dot: max-abs quantization scales each vector
    * by its own `127/max|x|`, so the raw dot multiplies every
    * neighbor by a per-neighbor factor and misorders them whenever
    * corpus norms vary; the normalized form cancels the scales
    * (measured on the fixture: raw-dot ranking costs ~15 recall
    * points). The raw `idot` rides along in the output. Recall vs the
    * exact float ranking is pinned in AnnRecallSpec.
    */
  def srpAnnTopKInt8(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      bits: Int,
      dim: Int,
      k: Int,
      probeBitFlips: Int = 0,
      tables: Int = 1): DataFrame = {
    require(
      probeBitFlips == 0 || probeBitFlips == 1,
      "probeBitFlips must be 0 (exact-bucket) or 1 (1-bit-flip multi-probe)")
    require(tables >= 1 && tables <= 16, "tables must be in [1, 16]")
    val q8 = quantizeInt8(corpus, embCol, "__q8")
      .withColumn("__q8_sq", dotInt(col("__q8"), col("__q8")))
      .select(col(idCol), col("__q8"), col("__q8_sq"))
    // One candidate frame per hash table; each is the same bucketed
    // equi-join, over an INDEPENDENT hyperplane family.
    val perTable = (0 until tables).map { t =>
      val fam = if (t == 0) "srp" else s"srp_t$t"
      val n = q8.join(srpSignature(corpus, idCol, embCol, bits, dim, fam), idCol)
      val q0 = n
        .join(queries.select(col(idCol)), idCol)
        .select(
          col(idCol).as("query_id"),
          col("__q8").as("qa"),
          col("__q8_sq").as("qa_sq"),
          col("bucket"))
      val q =
        if (probeBitFlips == 0) q0
        else
          q0.withColumn(
            "bucket",
            explode(array(col("bucket") +:
              (0 until bits).map(j => col("bucket").bitwiseXOR(lit(1L << j))): _*)))
      val c = n.select(
        col(idCol).as("neighbor_id"),
        col("__q8").as("qb"),
        col("__q8_sq").as("qb_sq"),
        col("bucket"))
      broadcast(q)
        .join(c, Seq("bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(
          col("query_id"),
          col("neighbor_id"),
          dotInt(col("qa"), col("qb")).as("idot"),
          (dotInt(col("qa"), col("qb")).cast("double") /
            sqrt(col("qa_sq").cast("double") * col("qb_sq").cast("double"))).as("icos"))
    }
    // Union the tables' candidates and dedup (a pair found by several
    // tables scores identically in each — max is a no-op); the dedup
    // shuffle is keyed on the pair, bounded by candidate volume.
    val cands = perTable
      .reduce(_ unionByName _)
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("idot")).as("idot"), max(col("icos")).as("icos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("icos").desc, col("neighbor_id"))
    cands
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "idot", "icos")
  }

  /** IVF (inverted-file) ANN — the OTHER production scale path next to
    * SRP-LSH: partition the corpus into cells by nearest centroid, then
    * search only the `nProbe` cells nearest each query.
    *
    *  - Cell assignment is a broadcast of the tiny centroid set against
    *    the streaming corpus (one pass, nCentroids× expansion, then a
    *    shuffle-agg `max(struct(cos, -cell))` argmax — deterministic,
    *    ties to the smaller cell id, no window over the corpus).
    *  - Each corpus vector lives in EXACTLY one cell, so the probe join
    *    is an equi-join on cell and a (query, neighbor) candidate
    *    appears at most once — no dedup pass.
    *  - Exact decimal cosine everywhere (assignment, probing, scoring):
    *    bit-identical to the DuckDB oracle and across partitionings.
    *
    * Centroids are caller-provided (e.g. a deterministic sample or a
    * k-means fit done upstream); `centroidIdCol` must not collide with
    * the corpus id space semantics — it is only a cell label.
    */
  def ivfAnnTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      embCol: String,
      centroids: DataFrame,
      centroidIdCol: String,
      nProbe: Int,
      k: Int): DataFrame = {
    val cen = withSqNorm(centroids, embCol)
      .select(col(centroidIdCol).as("cell"), col(embCol).as("c_emb"), col("sq_norm").as("c_sq"))
    def cellScore(emb: Column, sq: Column): Column =
      cosine(dot(emb, col("c_emb")), sq, col("c_sq"))
    // Corpus-to-centroid assignment does |centroids| dots per corpus
    // row — spread a few-splits corpus across the cores first.
    val n = withSqNorm(Relational.spreadFewSplits(corpus, idCol), embCol)
      .select(col(idCol), col(embCol), col("sq_norm"))
    // argmax over centroids: max of (cos, -cell) picks highest cosine,
    // then the smaller cell id on ties
    val cells = n
      .crossJoin(broadcast(cen))
      .groupBy(col(idCol))
      .agg(max(struct(cellScore(col(embCol), col("sq_norm")).as("cos"), (-col("cell")).as("neg"))).as("best"))
      .select(col(idCol), (-col("best.neg")).as("cell"))
    val c = n
      .join(cells, Seq(idCol.toString))
      .select(
        col(idCol).as("neighbor_id"),
        col(embCol).as("c_emb2"),
        col("sq_norm").as("c_sq2"),
        col("cell"))
    val pw = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cell"))
    val probes = withSqNorm(queries, embCol)
      .select(col(idCol).as("query_id"), col(embCol).as("q_emb"), col("sq_norm").as("q_sq"))
      .crossJoin(broadcast(cen))
      .select(col("query_id"), col("q_emb"), col("q_sq"), col("cell"), cellScore(col("q_emb"), col("q_sq")).as("cos"))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nProbe)
      .select("query_id", "q_emb", "q_sq", "cell")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes)
      .join(c, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosine(dot(col("q_emb"), col("c_emb2")), col("q_sq"), col("c_sq2")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Johnson–Lindenstrauss ±1 random projection — dimensionality
    * reduction for embedding corpora (Achlioptas 2003: ±1 entries
    * preserve pairwise distances like Gaussian projections; the move
    * that turns 100 TB of dim-D float vectors into dim-k sketches
    * before clustering/ANN). Deterministic and engine-replicable: the
    * projection matrix is ±1 by the parity of `h60("jl_j_i")` — the
    * same md5-derived literal-weight trick as [[srpSignature]], which
    * keeps the SIGN bit only; JL keeps the magnitudes.
    *
    * Each output component is one native [[graft.functions
    * .DotProductDecimal]] call against the literal weight row
    * (float×double inputs — per-product rounded once to
    * DECIMAL(28,10), exactly summed), so the projected coordinates
    * are bit-identical across engines and partitionings, fused into
    * whole-stage codegen, no explode, no shuffle.
    *
    * Unscaled on purpose (no 1/√k): downstream consumers compare
    * distances RELATIVELY, and the integer-free scale factor would be
    * irrational. `E‖y‖² = k·‖x‖²` — audit ratio in the spec.
    */
  def jlProject(
      df: DataFrame,
      idCol: String,
      embCol: String,
      outDim: Int,
      dim: Int,
      family: String = "jl"): DataFrame = {
    require(outDim >= 1 && dim >= 1, s"need positive dims (got $outDim of $dim)")
    val ys = (0 until outDim).map { j =>
      val w = typedLit((0 until dim).map { p =>
        if (h60Local(s"${family}_${j}_$p") % 2 == 0) 1.0 else -1.0
      })
      dot(col(embCol), w).as(s"y$j")
    }
    df.select(col(idCol) +: ys: _*)
  }

  /** Deterministic Lloyd k-means assignment — the clustering stage
    * behind cluster-balanced sampling and SemDeDup-style semantic
    * curation (and the natural producer of [[ivfAnnTopK]]'s centroid
    * set). FP k-means is seed- and order-sensitive; this variant is
    * bit-reproducible end to end:
    *
    *  - seeds: the caller's predicate picks the round-0 centroids from
    *    the data itself (no RNG);
    *  - centroids are kept RATIONAL — (n, Σx_j) with the component
    *    sums accumulated in DECIMAL(28,10) (order-independent), never
    *    divided into a float mean;
    *  - distance to centroid c is Σ(x_j − s_j/n)² evaluated as
    *    Σ(n·x_j − s_j)² / n²: the inner term is one double subtract/
    *    multiply rounded once to DECIMAL(28,10) (the engine-parity
    *    recipe every cosine operator here uses), the sum is exact, and
    *    the final /n² is a single IEEE division — identical in the SQL
    *    oracle and across partitionings;
    *  - argmin via `min(struct(dist, cid))`: map-side-combining
    *    aggregate (no Window over the corpus), ties to the smaller
    *    centroid id.
    *
    * Scale shape per round: centroids are k·dim values — ALWAYS the
    * broadcast side; assignment is a map-side k-fold expansion folded
    * back to one row per point by the combining argmin, so the only
    * corpus-grain shuffles are that argmin and the posexplode
    * centroid-update aggregate (both keyed, both partial-agg). Empty
    * clusters drop out (no re-seeding), matching the oracle.
    *
    * @param seedFilter picks round-0 centroid rows; centroid id = that
    *                   row's `idCol`
    * @return one row per input point: (idCol, cluster) after `rounds`
    *         assignment passes (centroid updates happen BETWEEN
    *         passes, so rounds = 2 is assign → update → assign)
    */
  def kmeansAssign(
      df: DataFrame,
      idCol: String,
      embCol: String,
      seedFilter: Column,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1 (got $rounds)")
    val points = Relational.spreadFewSplits(df, idCol).select(col(idCol), col(embCol))
    require(!points.filter(seedFilter).isEmpty, "kmeansAssign: seedFilter selects no centroid rows")
    // (cid, n, comps: array<decimal>) — round 0 is each seed row itself
    // as a cluster of one, so ONE distance formula serves every round.
    val cents0 = points
      .filter(seedFilter)
      .select(
        col(idCol).as("cid"),
        lit(1L).as("n"),
        transform(col(embCol), x => dec(x.cast("double"))).as("comps"))
    def assign(cents: DataFrame): DataFrame = {
      // Difference vector n·x − s staged as a materialized column
      // (referenced twice below, so CollapseProject keeps it computed
      // once); the Σ dec(t·t) fold is the native graft_dot_dec of the
      // vector with itself — same per-element decimal rounding, ~10×
      // cheaper than the interpreted HOF aggregate.
      points
        .crossJoin(broadcast(cents))
        .withColumn(
          "__u",
          zip_with(
            col(embCol),
            col("comps"),
            (x, s) => col("n").cast("double") * x.cast("double") - s.cast("double")))
        .groupBy(col(idCol))
        .agg(min(struct(
          (dot(col("__u"), col("__u")) / (col("n") * col("n")).cast("double")).as("d"),
          col("cid"))).as("best"))
        .select(col(idCol), col("best.cid").as("cluster"))
    }
    def update(assigned: DataFrame): DataFrame =
      points
        .join(assigned, Seq(idCol))
        .select(col("cluster").as("cid"), posexplode(col(embCol)).as(Seq("pos", "__x")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(dec(col("__x").cast("double"))).as("__s"), count(lit(1)).as("__np"))
        .groupBy(col("cid"))
        .agg(
          max(col("__np")).as("n"),
          array_sort(collect_list(struct(col("pos"), col("__s")))).as("__raw"))
        .select(col("cid"), col("n"), transform(col("__raw"), p => p.getField("__s")).as("comps"))
    var cents = cents0
    var out = assign(cents)
    for (_ <- 2 to rounds) {
      cents = update(out)
      out = assign(cents)
    }
    out
  }

  /** Dominant eigendirection of the corpus Gram matrix Σ v·vᵀ by
    * INTEGER-rescaled power iteration — the spectral direction behind
    * embedding whitening, anisotropy diagnosis ("all-but-the-top"),
    * and outlier screening; the iterative stage the q142 Gram build
    * feeds. Float power iteration is ungateable (each round's
    * normalization divides doubles whose rounding engines disagree
    * on), so this uses the [[graft.operators.Graph.hits]] recipe: the
    * Gram is quantized ONCE to integer micro-units
    * (`round(g·scale)`, half-up on an exact decimal — deterministic
    * everywhere), and each round rescales by the max |component|
    * via non-negative integral division routed sign-safely
    * (`sign · (|w|·scale div max|w|)`; operands are non-negative, so
    * Spark's truncating `div` ≡ the oracle's floor `//`). Every round
    * is exact integer algebra — bit-identical across engines,
    * partitionings, and reruns.
    *
    * Scale shape: the expensive stage is the one-pass Gram build
    * (stacked generates over each row — NO vec_id self-join; the only
    * corpus-grain shuffle is the (p,q)-keyed agg, dim²/2 keys,
    * map-side combined). The iteration then runs on dim-sized frames:
    * the mirrored integer Gram (dim² rows) is persisted once and each
    * round is one equi-join against the dim-row vector frame + a
    * map-side-combined sum and a 1-row max — driver traffic is one
    * scalar per round. ANSI mode makes the documented magnitude
    * contract self-enforcing: dim·max|G·scale|·scale must fit a long,
    * or the round's multiply throws loudly rather than wrapping.
    *
    * Returns (p, dir): component index 0..dim−1 and the direction in
    * `scale` micro-units (max |component| = scale by construction).
    */
  def powerIterationDirection(
      emb: DataFrame,
      embCol: String,
      iterations: Int = 2,
      scale: Long = 1000000L): DataFrame =
    powerIterationDirectionReleasable(emb, embCol, iterations, scale)._1

  /** [[powerIterationDirection]] plus the cache release handle. */
  def powerIterationDirectionReleasable(
      emb: DataFrame,
      embCol: String,
      iterations: Int = 2,
      scale: Long = 1000000L): (DataFrame, () => Unit) = {
    require(iterations >= 1 && iterations <= 8,
      s"powerIterationDirection: iterations in [1,8]; got $iterations")
    require(scale >= 1L, s"powerIterationDirection: scale must be positive; got $scale")
    LoopScope.run(emb.sparkSession) { scope =>
      val gramUpper = emb
        .select(col(embCol).as("__e"))
        .select(col("__e"), posexplode(col("__e")).as(Seq("p", "va")))
        .select(col("p"), col("va"), posexplode(col("__e")).as(Seq("q", "vb")))
        .filter(col("p") <= col("q"))
        .groupBy(col("p"), col("q"))
        .agg(sum(dec(col("va").cast("double") * col("vb").cast("double"))).as("g"))
        .select(
          col("p").cast("long").as("p"),
          col("q").cast("long").as("q"),
          round(col("g") * lit(scale)).cast("long").as("gw"))
      val full = scope.cache(
        gramUpper
          .unionByName(
            gramUpper.filter(col("p") =!= col("q"))
              .select(col("q").as("p"), col("p").as("q"), col("gw"))))
      val fullRows = full.count()
      require(fullRows > 0L, "powerIterationDirection: empty embedding input")
      // Gram-derived loop sizing (Graph.loopSessionFor): the matrix is D²
      // entries — tiny next to the corpus the session width is tuned
      // for — so the multiply rounds run at the derived width; the
      // Gram BUILD (the corpus-facing posexplode² pass) already ran at
      // session width into the cache the rebound leaf reads through.
      val fullLoop = scope.rebind(full, fullRows)
      var v = fullLoop.select(col("p").as("q")).distinct().withColumn("v", lit(scale))
      for (_ <- 1 to iterations) {
        val w = scope.cache(
          fullLoop
            .join(v, Seq("q"))
            .groupBy(col("p"))
            .agg(sum(col("gw") * col("v")).as("w")))
        // 1-row broadcast max as a driver scalar (the hits recipe) —
        // this action also materializes w's cache for its two readers.
        val mxRow = w.agg(max(abs(col("w")))).first()
        val mx = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0)
        require(mx > 0L,
          s"powerIterationDirection: degenerate Gram (max |component| = $mx after a round)")
        v = w.select(
          col("p").as("q"),
          when(col("w") < 0, -expr(s"(CAST(-w AS DECIMAL(38,0)) * $scale) div $mx"))
            .otherwise(expr(s"(CAST(w AS DECIMAL(38,0)) * $scale) div $mx"))
            .cast("long")
            .as("v"))
      }
      v.select(col("q").as("p"), col("v").as("dir"))
    }
  }
}
