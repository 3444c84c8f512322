package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing._

/** Deduplication operators for large-scale document corpora — exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and fingerprint dedup.
  *
  * The reference has no dedup surface (SURVEY.md §2.11); these are the
  * green-field LLM-data-pipeline operators the engine adds, built the
  * Spark-first way:
  *
  *  - signatures are per-row `Column` expressions (whole-stage codegen,
  *    no UDFs) over array columns;
  *  - candidate generation is a shuffle on (band, bandValue) — the LSH
  *    trick that replaces the O(n²) all-pairs comparison with a
  *    hash-partitioned equi-join, which is exactly what survives 100 TB:
  *    each band bucket is tiny, so the join never materializes the
  *    quadratic pair space;
  *  - only candidate pairs (a vanishing fraction) pay the exact-Jaccard
  *    verification cost.
  *
  * All hashing goes through [[graft.functions.Hashing]] so the DuckDB
  * oracle reproduces signatures bit-for-bit.
  */
object Dedup {

  /** ASCII-only case fold (A–Z → a–z), the case normalization every
    * cross-engine-hashed content path uses INSTEAD of `lower()`:
    * Spark's `lower` applies the full Unicode mapping (U+0130 'İ'
    * EXPANDS to i + combining dot) while DuckDB's applies the simple
    * mapping ('i') — so any md5/h32 of lowered text silently diverges
    * on such code points (caught by the adversarial-fixture parity
    * run; q145 hit the same trap in round 9 and took this exact fold).
    * `translate`'s 1:1 code-point map is bit-identical across engines
    * on ANY input; non-ASCII letters deliberately pass through
    * unfolded — determinism over linguistic completeness. SQL twin:
    * `translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abc…z')`.
    */
  def asciiFold(text: Column): Column =
    translate(text, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz")

  /** All character `w`-grams of the ASCII-case-folded text,
    * order-preserved with multiplicity. Formulated as `w` aligned
    * slices of the char array zipped together so every per-row
    * invariant ([[asciiFold]], `split`) sits in ARGUMENT position —
    * evaluated once per row. Higher-order-function lambdas re-evaluate
    * their body per element, so the naive `transform(sequence(…), i =>
    * fold(text).substr(i, w))` re-folds the whole document per gram —
    * O(len²) per row (measured 12.8 s on a 0.6 s query shape; see
    * q78).
    *
    * Note: Spark's `split(s, "")` appends one trailing `""` element;
    * gram windows stop at index `len`, so it is never touched.
    */
  private def charGramsAll(text: Column, w: Int): Column = {
    val chars = split(asciiFold(text), "")
    val m = length(text) - (w - 1)
    (0 until w)
      .map(o => slice(chars, lit(o + 1), m))
      .reduce((a, b) => zip_with(a, b, (x, y) => concat(x, y)))
  }

  /** Distinct character `w`-shingles of the ASCII-case-folded text. The
    * shingle space is large (≈ alphabet^w), so unrelated documents
    * share few shingles — the precondition for LSH banding to have low
    * false-positive rates.
    *
    * Texts shorter than `w` yield an EMPTY array (Spark's `sequence`
    * turns descending when end < start, which would otherwise emit
    * phantom sub-width shingles). Downstream, an empty shingle set
    * means a null MinHash signature and Jaccard 0/0 = null — such rows
    * never survive a similarity threshold, which is the policy: too
    * little content to judge similarity.
    */
  def charShingles(text: Column, w: Int): Column = {
    val n = length(text) - (w - 1)
    array_distinct(
      when(n >= 1, charGramsAll(text, w))
        .otherwise(typedLit(Seq.empty[String])))
  }

  /** Distinct h32 hashes of the text's character `w`-shingles — the
    * pre-hashed shingle-set every MinHash/verify pipeline carries
    * (int64 arrays ship ~5× fewer shuffle bytes than raw 5-char
    * strings, and set Jaccard is invariant under the hash; the DuckDB
    * oracles apply the identical md5-derived hash). One native
    * [[graft.functions.GramHashes]] pass over the text's bytes —
    * set-identical to `array_distinct(transform(charShingles(text, w),
    * h32))` (both compute {h32(g) : g ∈ grams}; hashing before or
    * after the distinct cannot change the value set), which is
    * retained as [[hofShingleHashes]] and equivalence-gated in
    * GramHashesSpec. All consumers (array_min signature folds,
    * intersect/union cardinalities) are order- and
    * multiplicity-invariant.
    */
  def shingleHashes(text: Column, w: Int): Column =
    array_distinct(charGramHashes(text, w))

  /** Composed-operator reference for [[shingleHashes]] (spec-only). */
  def hofShingleHashes(text: Column, w: Int): Column =
    array_distinct(transform(charShingles(text, w), t => h32(t)))

  /** All word `n`-grams with order and multiplicity — `n` aligned
    * slices of the token array zipped (same once-per-row invariant
    * discipline as [[charGramsAll]]; an index lambda would re-split
    * the text per gram).
    */
  private def wordGramsAll(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    val m = size(toks) - (n - 1)
    (0 until n)
      .map(o => slice(toks, lit(o + 1), m))
      .reduce((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y)))
  }

  /** Word `n`-grams (sequence-sensitive, distinct): shingle i is the
    * space-join of tokens i..i+n-1. Texts with fewer than `n` tokens
    * yield an empty array (same descending-`sequence` guard as
    * [[charShingles]]).
    */
  def wordNGrams(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    val m = size(toks) - (n - 1)
    array_distinct(
      when(m >= 1, wordGramsAll(text, n))
        .otherwise(typedLit(Seq.empty[String])))
  }

  /** Word `n`-grams WITH multiplicity and order (the counting twin of
    * [[wordNGrams]]) — the unit of corpus-frequency statistics
    * (vocabulary induction, boilerplate mining), where a repeated
    * bigram must count every occurrence.
    */
  def wordNGramsAll(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    val m = size(toks) - (n - 1)
    when(m >= 1, wordGramsAll(text, n))
      .otherwise(typedLit(Seq.empty[String]))
  }

  /** Position-ordered h32 hashes of every character `k`-gram of the
    * lowercased text — the rolling-hash stream under winnowing and
    * content-defined segmentation. Element `i` (1-based) is the hash
    * of the gram starting at character `i`; texts shorter than `k`
    * yield an empty array (descending-`sequence` guard as above).
    * Callers staging this in a multi-consumer plan should materialize
    * it as a column referenced ≥ 2× (see [[winnowFingerprints]]'s
    * inlining note).
    */
  def charGramHashes(text: Column, k: Int): Column =
    // coalesce mirrors the composed form's null handling: its CaseWhen
    // guard sends NULL text to the otherwise-branch EMPTY array, while
    // the native expression null-propagates (SQL convention).
    coalesce(
      call_function("graft_gram_hashes", text, lit(k)),
      typedLit(Seq.empty[Long]))

  /** The composed-operator formulation of [[charGramHashes]] — retained
    * as the independent reference the spec equivalence-checks the
    * native [[graft.functions.GramHashes]] kernel against (HOF
    * `transform` evaluates interpreted and ejects the stage from
    * codegen, which is why the native path exists).
    */
  def hofCharGramHashes(text: Column, k: Int): Column = {
    val n = length(text) - (k - 1)
    when(n >= 1, transform(charGramsAll(text, k), g => h32(g)))
      .otherwise(typedLit(Seq.empty[Long]))
  }

  /** Winnowing fingerprints (the MOSS local document fingerprint): hash
    * every character `k`-gram, then keep the MINIMUM hash of each
    * sliding window of `w` consecutive k-gram hashes; adds `outCol`
    * with the sorted distinct minima. Any shared substring of length
    * ≥ k+w−1 between two documents is guaranteed to contribute at
    * least one common fingerprint — the substring-robust dedup signal
    * that order-insensitive [[fingerprint]] cannot give. Per-row array
    * expressions over the shared md5-derived [[Hashing.h32]], so the
    * DuckDB oracle reproduces fingerprints bit-for-bit. Documents
    * shorter than k+w−1 characters yield an empty fingerprint set
    * (same descending-`sequence` guard as [[charShingles]]).
    *
    * The window minima are computed by the native
    * [[graft.functions.WindowMins]] kernel (O(n) monotonic deque).
    * Historical hazard note, still binding on any composed rewrite: an
    * index-lambda formulation (`transform(sequence(…), j =>
    * array_min(slice(hs, j, w)))`) is NOT safe even with the hash
    * array staged as its own column — in multi-consumer plans (q80's
    * explode→join) the optimizer inlines the alias back into the
    * lambda and the per-window body re-evaluates the whole O(len) md5
    * array, O(len²) per row (measured: one task burned 28 CPU-minutes
    * at sf0.1). The retained composed reference [[hofWindowMins]] uses
    * aligned slices in argument position for exactly that reason.
    */
  def winnowFingerprints(df: DataFrame, textCol: String, k: Int, w: Int, outCol: String): DataFrame =
    // Both stages native: the md5 gram stream (graft_gram_hashes) and
    // the sliding window minima (graft_win_mins — O(n) deque vs the
    // O(n·w) slice/zip_with chain, which also ran interpreted). The
    // composed twins are hofCharGramHashes and hofWindowMins,
    // equivalence-gated in their specs.
    df.withColumn("__wf_hs", charGramHashes(col(textCol), k))
      .withColumn(
        outCol,
        array_sort(array_distinct(
          call_function("graft_win_mins", col("__wf_hs"), lit(w)))))
      .drop("__wf_hs")

  /** Composed-operator reference for the window-minima stage of
    * [[winnowFingerprints]] (spec-only): `w` aligned slices reduced
    * with `zip_with(least)`, empty-guarded like the original.
    */
  def hofWindowMins(hs: Column, w: Int): Column = {
    val nWins = size(hs) - (w - 1)
    when(
      nWins >= 1,
      (0 until w)
        .map(o => slice(hs, lit(o + 1), nWins))
        .reduce((a, b) => zip_with(a, b, (x, y) => least(x, y))))
      .otherwise(typedLit(Seq.empty[Long]))
  }

  /** Winnowing candidate pairs: documents sharing at least one RARE
    * fingerprint (document frequency ≤ `maxDocFreq`), with the shared
    * count. The pair generation is an equi-join on fingerprint value —
    * the LSH shape again — and the doc-frequency filter is the
    * standard winnowing "drop overly-common fingerprints" step (MOSS
    * does the same): it bounds every join bucket at `maxDocFreq` docs,
    * so pair mass per fingerprint is ≤ maxDocFreq², independent of
    * corpus size. Without it, boilerplate fingerprints shared by the
    * whole corpus would make the join quadratic.
    *
    * The exploded (doc, fingerprint) frame feeds THREE consumers (the
    * doc-frequency aggregate and both join sides), so it is
    * persist()ed — without it each consumer re-runs the whole
    * winnowing pass (measured 3× ≈ 90 s vs ≈ 10 s at sf0.1). The
    * cached frame is two narrow columns; Spark LRU-evicts it under
    * pressure.
    *
    * @return (doc_a, doc_b, n_shared) for doc_a < doc_b
    */
  def winnowCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      maxDocFreq: Long): DataFrame = {
    // Persist the ARRAY-form fingerprint frame and explode AFTER the
    // cache boundary. Exploding before persisting looks equivalent but
    // is catastrophically slower to build: InferFiltersFromGenerate
    // adds `size(fps) > 0 AND isnotnull(fps)` under the Generate, and
    // predicate pushdown then substitutes the FULL fingerprint
    // expression into that filter condition (twice), below the
    // projections — the whole winnow pass re-evaluated per row,
    // interpreted, in the cache-build plan (measured: 28 s vs 0.5 s at
    // sf0.1). With the cache boundary first, the inferred filter lands
    // on the cached array column — a cheap size() probe.
    // Spread the md5-heavy signature pass across the cluster even when
    // the input arrives in few splits (one small parquet file = ONE
    // task). The shuffle moves only (id, text).
    val spread = Relational.spreadFewSplits(df.select(col(idCol), col(textCol)), idCol)
    val fpArrays = winnowFingerprints(spread, textCol, k, w, "__wf_fps")
      .select(col(idCol), col("__wf_fps"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fps = fpArrays.select(col(idCol), explode(col("__wf_fps")).as("fp"))
    val rare = fps
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select("fp")
    val rf = fps.join(rare, "fp")
    rf.select(col(idCol).as("doc_a"), col("fp"))
      .join(rf.select(col(idCol).as("doc_b"), col("fp")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Exact dedup bookkeeping: group by full content hash, keep the
    * minimum id as the canonical row ("keep first"), count copies.
    * One shuffle on the 128-bit hash — uniform by construction, so no
    * skew at any scale.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** [[minHashSignature]] over PRE-hashed shingles: `hashesCol` already
    * holds the h32 values, so the signature is k cheap affine folds with
    * no md5 at all. The pre-hashed form is what a verify-join pipeline
    * wants to carry: set Jaccard is invariant under a hash that is
    * injective on the observed shingle set, and an int64 array ships
    * ~5× fewer shuffle bytes than the raw character shingles (round 6
    * measured the raw-shingle verify join as the suite's heaviest
    * shuffle — q99's 26→90 s rep growth was writeback debt from it).
    */
  def minHashSignatureFromHashes(
      df: DataFrame,
      idCol: String,
      hashesCol: String,
      k: Int): DataFrame =
    // One native pass computes all k running minima in registers
    // ([[graft.functions.MinHashFold]]); the composed k-fold form is
    // retained as [[hofMinHashSignatureFromHashes]] and
    // equivalence-gated in its spec.
    df.select(
      col(idCol),
      col(hashesCol),
      call_function("graft_minhash", col(hashesCol), lit(k)).as("__mh"))
      .select(
        col(idCol) +:
          col(hashesCol) +:
          (0 until k).map(j => col("__mh").getItem(j).as(s"mh$j")): _*)

  /** Composed-operator reference for [[minHashSignatureFromHashes]]
    * (spec-only): k independent interpreted `array_min(transform)`
    * folds.
    */
  def hofMinHashSignatureFromHashes(
      df: DataFrame,
      idCol: String,
      hashesCol: String,
      k: Int): DataFrame =
    df.select(
      col(idCol) +:
        col(hashesCol) +:
        (0 until k).map(j =>
          array_min(transform(col(hashesCol), h => affine(h, j))).as(s"mh$j")): _*)

  /** MinHash signature: adds columns mh0..mh{k-1}, where
    * `mh_j = min over shingles s of (a_j·h32(s) + b_j) mod P`. Each
    * shingle is md5-hashed ONCE; the k family members are cheap affine
    * transforms of that base hash (k× fewer md5 evaluations — the
    * dominant cost at scale). Pure per-row array math — no shuffle, no
    * UDF. `df` must already carry the shingle array under
    * `shinglesCol` (kept in the output for downstream exact-Jaccard
    * verification). The base-hash projection is a separate select so
    * Catalyst's CollapseProject (which never duplicates non-cheap
    * aliases) keeps the md5 pass single.
    */
  def minHashSignature(df: DataFrame, idCol: String, shinglesCol: String, k: Int): DataFrame =
    df.select(
      col(idCol),
      col(shinglesCol),
      transform(col(shinglesCol), t => h32(t)).as("__hs"))
      .select(
        col(idCol) +:
          col(shinglesCol) +:
          (0 until k).map(j =>
            array_min(transform(col("__hs"), h => affine(h, j))).as(s"mh$j")): _*)

  /** LSH banding: split the k-row signature into `nBands` bands of
    * k/nBands rows, hash each band, and emit candidate pairs that agree
    * on at least one band. The join key is (band, bandHash) — documents
    * only meet inside a bucket, so the pair space never materializes.
    * Probability a pair with Jaccard j becomes a candidate:
    * 1 - (1 - j^(k/nBands))^nBands.
    */
  /** The (id, band, bandHash) frame under LSH banding — exposed so
    * self-join ([[lshCandidates]]) and cross-corpus
    * ([[incrementalCandidates]]) candidate generation share one
    * definition.
    */
  def lshBands(sig: DataFrame, idCol: String, k: Int, nBands: Int): DataFrame = {
    val rpb = k / nBands
    require(rpb * nBands == k, s"bands ($nBands) must divide signature length ($k)")
    val bandStructs = (0 until nBands).map { b =>
      struct(
        lit(b).as("band"),
        md5(concat_ws("_", (b * rpb until (b + 1) * rpb).map(j => col(s"mh$j")): _*)).as("bv"))
    }
    sig
      .select(col(idCol), explode(array(bandStructs: _*)).as("bd"))
      .select(col(idCol), col("bd.band").as("band"), col("bd.bv").as("bv"))
  }

  /** Per-bucket fan-out ceiling for the LSH candidate joins. A bucket
    * of B docs contributes B² join rows (B·B_other cross-corpus), so
    * 10⁴ bounds any single (band, bandValue) bucket at ~5·10⁷ pairs —
    * the [[Bipartite.DefaultMaxKeyRows]] cost story. The single most
    * common degenerate input at crawl scale is an EXACT-DUPLICATE
    * mega-cluster: its members agree on every band, so without this
    * gate the self-join is quadratic in the cluster size (a 10⁶-doc
    * cluster emits ~5·10¹¹ candidates). Exact dups should be removed
    * by [[exactDedup]] BEFORE near-dup candidate generation — the gate
    * makes that ordering a loud contract instead of a stage-timeline
    * discovery.
    */
  val DefaultMaxBucketDocs: Long = 10000L

  /** In-job bucket-size gate over a banded (…, band, bv) frame — the
    * [[Bipartite]] `raise_error`-projection discipline: one map-side-
    * combined count per bucket, folded into the join plan (no extra
    * action), that either THROWS naming the offending bucket or, with
    * `drop = true`, silently removes oversize buckets (the winnowing
    * "drop overly-common fingerprints" semantics — documented recall
    * loss: members of a dropped bucket can still meet in their other
    * bands, but an exact-dup cluster agrees on ALL bands and exits the
    * candidate set entirely). The `__g` column must be referenced
    * downstream or column pruning would delete the raise_error.
    */
  private def gatedBuckets(
      bands: DataFrame,
      maxBucketDocs: Long,
      drop: Boolean,
      op: String,
      bandCol: String = "band",
      valCol: String = "bv",
      kind: String = "LSH bucket"): DataFrame =
    bands
      .groupBy(col(bandCol), col(valCol))
      .agg(count(lit(1)).as("__bc"))
      .select(
        col(bandCol),
        col(valCol),
        when(
          col("__bc") > maxBucketDocs,
          if (drop) lit(0)
          else
            raise_error(concat(
              lit(s"$op: $kind ($bandCol="),
              col(bandCol).cast("string"),
              lit(s", $valCol="),
              col(valCol).cast("string"),
              lit(") holds "),
              col("__bc").cast("string"),
              lit(s" docs > maxBucketDocs=$maxBucketDocs — the band join is quadratic in " +
                "bucket size; run exactDedup first (exact-dup clusters agree on every band) " +
                "or pass dropOversizeBuckets = true to trade recall for boundedness"))))
          .otherwise(lit(1))
          .as("__g"))
      .filter(col("__g") === 1)
      .select(col(bandCol), col(valCol))

  def lshCandidates(
      sig: DataFrame,
      idCol: String,
      k: Int,
      nBands: Int,
      maxBucketDocs: Long = DefaultMaxBucketDocs,
      dropOversizeBuckets: Boolean = false): DataFrame =
    lshCandidatesReleasable(sig, idCol, k, nBands, maxBucketDocs, dropOversizeBuckets)._1

  /** [[lshCandidates]] plus a RELEASE HANDLE for the persisted banded
    * frame backing the returned pairs (the [[Bipartite]] /
    * [[connectedComponentsReleasable]] idiom). The banded frame stays
    * cached while the result is consumed — dropping it eagerly would
    * re-run the md5-heavy signature lineage once per consumer — so a
    * long-lived session composing this into a larger pipeline should
    * call the handle once the pairs are materialized (it is safe to
    * call after a gate `raise_error` abort too), or sweep with
    * [[graft.GraftSession.releaseAllCaches]].
    */
  def lshCandidatesReleasable(
      sig: DataFrame,
      idCol: String,
      k: Int,
      nBands: Int,
      maxBucketDocs: Long = DefaultMaxBucketDocs,
      dropOversizeBuckets: Boolean = false): (DataFrame, () => Unit) = {
    require(maxBucketDocs >= 1, s"lshCandidates: maxBucketDocs >= 1; got $maxBucketDocs")
    // Three consumers of the banded frame (both join sides + the
    // bucket gate): persist it so the md5-heavy signature lineage runs
    // once, not three times (the winnowCandidatePairs precedent).
    val exploded = lshBands(sig, idCol, k, nBands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = exploded
      .select(col(idCol).as("id_a"), col("band"), col("bv"))
      .join(gatedBuckets(exploded, maxBucketDocs, dropOversizeBuckets, "lshCandidates"),
        Seq("band", "bv"))
      .join(exploded.select(col(idCol).as("id_b"), col("band"), col("bv")), Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    (out, () => { exploded.unpersist(blocking = false): Unit })
  }

  /** INCREMENTAL dedup candidates — the daily-ingest shape: candidate
    * pairs between a NEW batch and the EXISTING (already-deduped)
    * corpus only, never corpus×corpus. The equi-join on (band,
    * bandHash) touches only the buckets the batch lands in, so a small
    * delta against a 100 TB store costs O(|batch|·bucket), not
    * O(|corpus|²) — with a pre-bucketed/bucketed-table corpus side the
    * corpus is not even re-shuffled.
    *
    * @return (new_id, old_id) distinct candidate pairs
    */
  def incrementalCandidates(
      batchSig: DataFrame,
      corpusSig: DataFrame,
      idCol: String,
      k: Int,
      nBands: Int,
      maxBucketDocs: Long = DefaultMaxBucketDocs,
      dropOversizeBuckets: Boolean = false): DataFrame =
    incrementalCandidatesReleasable(
      batchSig, corpusSig, idCol, k, nBands, maxBucketDocs, dropOversizeBuckets)._1

  /** [[incrementalCandidates]] plus a release handle covering BOTH
    * persisted banded frames (batch and corpus) — see
    * [[lshCandidatesReleasable]] for the lifecycle contract.
    */
  def incrementalCandidatesReleasable(
      batchSig: DataFrame,
      corpusSig: DataFrame,
      idCol: String,
      k: Int,
      nBands: Int,
      maxBucketDocs: Long = DefaultMaxBucketDocs,
      dropOversizeBuckets: Boolean = false): (DataFrame, () => Unit) = {
    require(maxBucketDocs >= 1, s"incrementalCandidates: maxBucketDocs >= 1; got $maxBucketDocs")
    // Cross-corpus bucket mass is |bucket_batch| × |bucket_corpus|, so
    // BOTH sides carry the gate: each side's buckets are bounded at
    // maxBucketDocs, bounding any one bucket's pair mass at
    // maxBucketDocs² (the corpus side is where a crawl's exact-dup
    // mega-cluster lives; the batch side guards a degenerate delta).
    // The batch frame feeds two consumers (its gate + the join) and
    // the corpus frame likewise — persist both banded frames so the
    // md5-heavy signature lineage runs once per side.
    val batchBands = lshBands(batchSig, idCol, k, nBands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusBands = lshBands(corpusSig, idCol, k, nBands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = batchBands
      .select(col(idCol).as("new_id"), col("band"), col("bv"))
      .join(gatedBuckets(batchBands, maxBucketDocs, dropOversizeBuckets,
        "incrementalCandidates(batch)"), Seq("band", "bv"))
      .join(gatedBuckets(corpusBands, maxBucketDocs, dropOversizeBuckets,
        "incrementalCandidates(corpus)"), Seq("band", "bv"))
      .join(
        corpusBands.select(col(idCol).as("old_id"), col("band"), col("bv")),
        Seq("band", "bv"))
      .select("new_id", "old_id")
      .distinct()
    (out, () => {
      batchBands.unpersist(blocking = false)
      corpusBands.unpersist(blocking = false): Unit
    })
  }

  /** Exact Jaccard similarity of two (already-distinct) array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** SimHash: `bits`-bit locality-sensitive fingerprint. Every token
    * occurrence votes ±1 per bit position according to its 48-bit hash;
    * the fingerprint bit is 1 iff the vote sum is positive. Near-
    * identical documents land within a few bits of Hamming distance.
    *
    * Shape: explode tokens → explode bit positions → two hash
    * aggregations. The shuffles are on (id, bit) then (id) — both
    * uniform. At 100 TB the first explode is the dominant cost and is
    * purely map-side until the partial agg combines per (id, bit).
    */
  def simHash(df: DataFrame, idCol: String, textCol: String, bits: Int): DataFrame = {
    require(bits <= 48, "simhash uses 48-bit token hashes")
    df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .select(col(idCol), h48(col("tok")).as("hv"))
      .select(col(idCol), col("hv"), explode(sequence(lit(0), lit(bits - 1))).as("b"))
      .groupBy(col(idCol), col("b"))
      .agg(sum(when(expr("shiftright(hv, b) & 1") === 1, 1L).otherwise(-1L)).as("s"))
      .groupBy(col(idCol))
      .agg(
        sum(when(col("s") > 0, expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(0L))
          .as("simhash"))
  }

  /** All pairs within `maxHamming` of each other by SimHash, via CHUNK
    * BANDING — the scale path. The `bits`-bit fingerprint is split into
    * `maxHamming + 1` equal chunks; by pigeonhole, two fingerprints
    * within Hamming distance `maxHamming` must agree EXACTLY on at
    * least one chunk, so candidate generation is an equi-join on
    * (chunk index, chunk value) — hash-partitioned, never the O(n²)
    * pair space — followed by the exact `bit_count` Hamming filter.
    * Result set is IDENTICAL to the all-pairs scan (the banding is
    * lossless for ≤ maxHamming), at the cost of a `maxHamming+1`-way
    * row replication instead of an n² join.
    *
    * Carries the same in-job bucket gate as [[lshCandidates]]: an
    * EXACT-duplicate cluster shares one simhash, so it agrees on every
    * pigeonhole chunk and makes the (c, cv) self-join quadratic in the
    * cluster size (10⁶ identical docs ≈ 5·10¹¹ pairs). The gate
    * throws naming the offending (chunk, value) bucket, or with
    * `dropOversizeBuckets = true` retires oversize buckets (an
    * exact-dup cluster agrees on ALL chunks, so it exits the candidate
    * set entirely — run [[exactDedup]] first). Low-entropy fingerprint
    * regions fatten buckets too (e.g. dHash's structurally-zero bits
    * on equal-dims images), which is exactly when the gate matters.
    *
    * The chunked frame is consumed three times (both join sides + the
    * gate); `sh` itself is tiny (id, long) — persist it upstream when
    * its lineage is expensive (every in-repo caller does), and the
    * chunk explode is then a cheap shift/mask re-scan of the cache.
    */
  /** The pigeonhole chunk explode shared by every banded-Hamming
    * operator: (idCol, simhash, c, cv) with `maxHamming + 1` equal
    * chunks — ONE implementation so the batch, incremental, and
    * prepared-corpus paths can never diverge on the banding.
    */
  private def simHashChunks(sh: DataFrame, idCol: String, maxHamming: Int, bits: Int): DataFrame = {
    val nChunks = maxHamming + 1
    val width = bits / nChunks
    require(width * nChunks == bits, s"bits ($bits) must be divisible by maxHamming+1 ($nChunks)")
    val mask = (1L << width) - 1
    sh.select(col(idCol), col("simhash"), explode(sequence(lit(0), lit(nChunks - 1))).as("c"))
      .select(
        col(idCol),
        col("simhash"),
        col("c"),
        expr(s"shiftright(simhash, CAST(c * $width AS INT)) & $mask").as("cv"))
  }

  def simHashPairs(
      sh: DataFrame,
      idCol: String,
      maxHamming: Int,
      bits: Int = 48,
      maxBucketDocs: Long = DefaultMaxBucketDocs,
      dropOversizeBuckets: Boolean = false): DataFrame = {
    require(maxBucketDocs >= 1, s"simHashPairs: maxBucketDocs >= 1; got $maxBucketDocs")
    val chunked = simHashChunks(sh, idCol, maxHamming, bits)
    val a = chunked.select(col(idCol).as("id_a"), col("simhash").as("sh_a"), col("c"), col("cv"))
    val b = chunked.select(col(idCol).as("id_b"), col("simhash").as("sh_b"), col("c"), col("cv"))
    a.join(gatedBuckets(chunked, maxBucketDocs, dropOversizeBuckets, "simHashPairs",
        bandCol = "c", valCol = "cv", kind = "pigeonhole chunk"), Seq("c", "cv"))
      .join(b, Seq("c", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), expr("bit_count(sh_a ^ sh_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** INCREMENTAL Hamming near-dup candidates — [[incrementalCandidates]]'
    * daily-ingest shape for the SimHash/perceptual-hash family: pairs
    * between a NEW batch's fingerprints and the EXISTING corpus only,
    * never corpus×corpus. Same lossless pigeonhole banding as
    * [[simHashPairs]] (within `maxHamming`, the two fingerprints agree
    * exactly on ≥ 1 chunk), met by an equi-join on (chunk, value) that
    * touches only the buckets the batch lands in — O(|batch|·bucket)
    * against a 100 TB store, and with a bucketed/pre-partitioned corpus
    * side no corpus re-shuffle at all. BOTH sides carry the bucket
    * gate (the corpus side is where a crawl's exact-dup mega-cluster
    * lives; the batch side guards a degenerate delta). The corpus side
    * is chunked + gated + PERSISTED internally (released by the
    * [[graft.GraftSession.releaseAllCaches]] sweep); a caller that
    * screens MANY batches against one store should instead call
    * [[prepareSimHashCorpus]] once and [[simHashIncrementalPrepared]]
    * per batch — that is what keeps a streaming ingest from paying a
    * corpus-wide bucket aggregation per micro-batch. Persist the batch
    * `sh` upstream when its lineage is expensive (its chunk explode is
    * consumed twice: gate + join).
    *
    * @return (new_id, old_id, hamming) — distinct, hamming ≤ maxHamming
    */
  def simHashIncremental(
      batchSh: DataFrame,
      corpusSh: DataFrame,
      idCol: String,
      maxHamming: Int,
      bits: Int = 48,
      maxBucketDocs: Long = DefaultMaxBucketDocs,
      dropOversizeBuckets: Boolean = false): DataFrame =
    simHashIncrementalPrepared(
      batchSh,
      prepareSimHashCorpus(corpusSh, idCol, maxHamming, bits, maxBucketDocs, dropOversizeBuckets)._1,
      idCol, maxHamming, bits, maxBucketDocs, dropOversizeBuckets)

  /** Chunk-band, GATE, and PERSIST a corpus fingerprint frame ONCE for
    * repeated incremental screens — the repeated-consumer shape a
    * streaming ingest has (one micro-batch after another against the
    * same store): without this, every batch re-derives the corpus-wide
    * bucket-count aggregation, k batches = k redundant corpus passes.
    * Returns the prepared frame (feed it to
    * [[simHashIncrementalPrepared]]) plus the release handle for its
    * cache.
    */
  def prepareSimHashCorpus(
      corpusSh: DataFrame,
      idCol: String,
      maxHamming: Int,
      bits: Int = 48,
      maxBucketDocs: Long = DefaultMaxBucketDocs,
      dropOversizeBuckets: Boolean = false): (DataFrame, () => Unit) = {
    require(maxBucketDocs >= 1, s"prepareSimHashCorpus: maxBucketDocs >= 1; got $maxBucketDocs")
    val c = simHashChunks(corpusSh, idCol, maxHamming, bits)
    val prepared = c
      .join(gatedBuckets(c, maxBucketDocs, dropOversizeBuckets, "simHashIncremental(corpus)",
        bandCol = "c", valCol = "cv", kind = "pigeonhole chunk"), Seq("c", "cv"))
      .select(col(idCol), col("simhash"), col("c"), col("cv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (prepared, () => { prepared.unpersist(blocking = false): Unit })
  }

  /** [[simHashIncremental]] against a corpus side already chunked +
    * gated by [[prepareSimHashCorpus]] — only the BATCH side is banded
    * and gated per call.
    */
  def simHashIncrementalPrepared(
      batchSh: DataFrame,
      preparedCorpus: DataFrame,
      idCol: String,
      maxHamming: Int,
      bits: Int = 48,
      maxBucketDocs: Long = DefaultMaxBucketDocs,
      dropOversizeBuckets: Boolean = false): DataFrame = {
    require(maxBucketDocs >= 1, s"simHashIncrementalPrepared: maxBucketDocs >= 1; got $maxBucketDocs")
    val b = simHashChunks(batchSh, idCol, maxHamming, bits)
    b.select(col(idCol).as("new_id"), col("simhash").as("sh_new"), col("c"), col("cv"))
      .join(gatedBuckets(b, maxBucketDocs, dropOversizeBuckets, "simHashIncremental(batch)",
        bandCol = "c", valCol = "cv", kind = "pigeonhole chunk"), Seq("c", "cv"))
      .join(
        preparedCorpus.select(col(idCol).as("old_id"), col("simhash").as("sh_old"), col("c"), col("cv")),
        Seq("c", "cv"))
      .select(col("new_id"), col("old_id"),
        expr("bit_count(sh_new ^ sh_old)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact all-pairs Hamming scan — the O(n²) baseline [[simHashPairs]]
    * is verified against. Refuses unbounded input: the count-gate keeps
    * the exact path from ever being pointed at a full corpus by
    * accident (use [[simHashPairs]] there).
    */
  def simHashPairsExact(sh: DataFrame, idCol: String, maxHamming: Int, maxRows: Long = 10000): DataFrame = {
    val n = sh.count()
    require(
      n <= maxRows,
      s"simHashPairsExact is O(n²); input has $n rows > maxRows=$maxRows — use simHashPairs (banded)")
    val a = sh.select(col(idCol).as("id_a"), col("simhash").as("sh_a"))
    val b = sh.select(col(idCol).as("id_b"), col("simhash").as("sh_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), expr("bit_count(sh_a ^ sh_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Order-insensitive document fingerprint: md5 of the sorted distinct
    * token set. Documents that are permutations / repetitions of the
    * same vocabulary collide — the cheap first pass of near-dedup.
    */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(split(text, " "))), " "))

  /** Connected components over an undirected edge list — the cluster
    * step that turns near-dup PAIRS (LSH candidates that survived
    * verification) into duplicate GROUPS, so a corpus can keep one
    * canonical document per group. Component id = min node id in the
    * component.
    *
    * Algorithm: iterative min-label propagation WITH pointer jumping.
    * Labels are seeded at `min(self, neighbors)` (one aggregation —
    * already the fixpoint for star components, the overwhelmingly
    * common near-dup shape), then each round every node takes the
    * minimum label among itself, its neighbors, and its LABEL's label
    * (the pointer jump — labels are always same-component node ids, so
    * chasing them is sound and halves the remaining propagation
    * distance per round). Fixpoint is reached in O(log diameter)
    * rounds; neighbor-only propagation needs O(diameter), which a
    * chain-shaped duplicate cluster grows with corpus size. Each
    * round is two shuffle-joins plus one aggregation — no driver-side
    * graph, no collect — and each round's label frame is materialized
    * as a persisted row RDD rewrapped in a fresh frame, so the Catalyst
    * plan (and analysis cost) stays constant across rounds while the
    * RDD lineage is KEPT — an executor loss recomputes lost blocks
    * instead of failing the run (the durability gap of
    * `localCheckpoint`, which truncates lineage without replication).
    * The previous round's blocks are unpersisted as soon as the next
    * round is materialized, so executor storage holds at most two label
    * sets at any time.
    * Convergence is detected from the SUM of labels (monotonically
    * non-increasing; unchanged ⇔ fixpoint) — one cheap scan of the
    * materialized frame instead of a join against the previous round.
    * At 100 TB the edge set is a vanishing fraction of the corpus and
    * components are tiny, so this converges in a handful of rounds.
    * If the fixpoint is NOT reached within `maxIter` rounds (a
    * component of diameter > maxIter), the function THROWS rather than
    * silently returning partially-propagated labels.
    *
    * @param edges two-column DataFrame of undirected edges (any names)
    * @return (node: long, component: long)
    */
  /** Bounded-collect ceiling for the driver-local union-find arm of
    * [[connectedComponents]] (counted on the MIRRORED distinct edge
    * rows, i.e. 2× the undirected pair count): 2M rows ≈ tens of MB
    * of longs — trivially driver-resident, while a genuinely huge
    * pair set stays on the distributed label rounds. Same bounded-
    * collect family as [[graft.operators.BpeTrainer.LocalVocabCeil]].
    */
  final val LocalEdgeCeil: Long = 2L * 1024 * 1024

  /** Union-find (path-halving + union by rank) over collected mirrored
    * edge rows, labeling each node with the MIN node id of its
    * component — the unique fixpoint the iterative arm converges to,
    * so the two arms are equal by construction (ConnCompSpec's
    * arm-equality tests). The
    * result frame is RDD-backed and partitioned by the loop-partition
    * rule so downstream joins see the same shape class as the
    * distributed arm's materialized labels.
    */
  private def componentsLocal(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val idx = new scala.collection.mutable.LongMap[Int](rows.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long](rows.length)
    def reg(v: Long): Int =
      idx.getOrElse(v, { val i = ids.length; idx.update(v, i); ids += v; i })
    rows.foreach { r =>
      // A null endpoint (nullable source column cast to long) would
      // otherwise surface as an unboxing NPE out of getLong — fail
      // with the contract instead (r16 ADVICE).
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "connectedComponents: null edge endpoint — edge src/dst must be non-null integral ids")
      reg(r.getLong(0)); reg(r.getLong(1)): Unit
    }
    val n = ids.length
    val parent = Array.tabulate(n)(identity)
    val rank = new Array[Byte](n)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      val a = find(idx(r.getLong(0)))
      val b = find(idx(r.getLong(1)))
      if (a != b) {
        if (rank(a) < rank(b)) parent(a) = b
        else if (rank(a) > rank(b)) parent(b) = a
        else { parent(b) = a; rank(a) = (rank(a) + 1).toByte }
      }
    }
    val minLab = Array.fill(n)(Long.MaxValue)
    var i = 0
    while (i < n) { val r = find(i); if (ids(i) < minLab(r)) minLab(r) = ids(i); i += 1 }
    val out = new Array[org.apache.spark.sql.Row](n)
    i = 0
    while (i < n) { out(i) = org.apache.spark.sql.Row(ids(i), minLab(find(i))); i += 1 }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType, nullable = false)))
    // Partitioned like the loop frames (≈500k rows/partition, ≥1):
    // node-count-sized, so a downstream corpus join broadcasts it or
    // shuffles a handful of partitions, never 32 near-empty ones.
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, (n.toLong + 499999L) / 500000L)).toInt
    spark.createDataFrame(
      spark.sparkContext.parallelize(scala.collection.immutable.ArraySeq.unsafeWrapArray(out), parts),
      schema)
  }

  def connectedComponents(
      edges: DataFrame,
      maxIter: Int = 20,
      local: Option[Boolean] = None): DataFrame =
    connectedComponentsReleasable(edges, maxIter, local)._1

  /** [[connectedComponents]] plus a RELEASE HANDLE for the persisted
    * label blocks backing the returned frame. The labels stay cached
    * (correct for the common consume-immediately case — dropping them
    * eagerly would force a full recompute of the whole iteration), so
    * a long-lived session should call the handle once the result is
    * materialized, or sweep with [[graft.GraftSession.releaseAllCaches]].
    */
  def connectedComponentsReleasable(
      edges: DataFrame,
      maxIter: Int = 20,
      local: Option[Boolean] = None): (DataFrame, () => Unit) = {
    val spark = edges.sparkSession
    val Array(srcName, dstName) = edges.columns
    val e = edges.select(col(srcName).cast("long").as("src"), col(dstName).cast("long").as("dst"))
    LoopScope.run(spark) { scope =>
      // Undirected: propagate both ways (self-loops fall out of least()).
      val ud = scope.cache(e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))).distinct())
      // Fully materialize the persisted edge cache BEFORE anything else
      // reads it. An `isEmpty` here (take(1)) caches only the partitions
      // its one-partition job computes, so the seed aggregation below
      // would RE-RUN the entire upstream edge pipeline for the rest —
      // and the edges handed to this operator are typically the most
      // expensive frame in the job (LSH candidates + exact-Jaccard
      // verify). Measured at 5 k docs: the one-round CC loop took 2–7 s
      // while the call spent 60+ s re-evaluating the pairs pipeline
      // behind the partial cache. `count()` costs one full evaluation —
      // work the seed needs anyway — and makes every later read a cache
      // hit.
      val udRows = ud.count()
      // Empty edge set (no candidate pairs survived upstream thresholds —
      // a legitimate production input): no nodes, empty result. Without
      // the short-circuit the label-sum aggregate below returns SQL NULL
      // and the convergence compare would NPE.
      //
      // Otherwise, the driver-local union-find arm (r16 optimization):
      // near-dup edge sets are a vanishing fraction of the corpus by
      // design (every in-repo producer gates its candidate generation),
      // so the common case is a mirrored edge list of thousands-to-
      // millions of rows feeding 4-7 distributed label rounds of pure
      // per-round job latency (measured ~0.4 s/round at sf0.1 — the
      // dominant cost of q195/q196/q104). Below the observed-size
      // ceiling the component labeling runs as union-find over the
      // collected edge rows instead: the min-label fixpoint is UNIQUE
      // (component id = min node id in the component), so the result is
      // identical to the iterative arm's by construction — ConnCompSpec
      // pins equality on path/star/random graphs, and every CC-consuming
      // oracle gate re-proves it per query. Same guarded-collect idiom as
      // BpeTrainer.LocalVocabCeil / ClassifierTrainer.LocalFeatCeil:
      // the gate keys on the MATERIALIZED count the loop needed anyway,
      // a 100 TB edge set stays on the distributed rounds, and
      // GRAFT_CC_LOCAL=off forces them for A/B attribution.
      // Arm precedence: explicit parameter > GRAFT_CC_LOCAL env > auto
      // by observed size (the BpeTrainer.train precedence).
      if (udRows == 0L) {
        scope.drop(ud)
        ud.select(col("src").as("node"), col("src").as("component"))
      } else if (graft.Config.armOverride(local, "GRAFT_CC_LOCAL").getOrElse(udRows <= LocalEdgeCeil)) {
        require(
          udRows <= LocalEdgeCeil,
          s"connectedComponents local arm: $udRows mirrored edge rows exceed the " +
            s"driver-collect ceiling $LocalEdgeCeil — pass local = Some(false) or unset " +
            "GRAFT_CC_LOCAL to use the distributed label-propagation rounds")
        val labels = componentsLocal(spark, ud.collect())
        scope.drop(ud)
        labels
      } else {
        // NO loop-session rebinding here (unlike the PageRank/HITS/
        // relaxation family): the CC loop measured
        // SLOWER under the edge-derived 1-partition clone (q51 3.79 vs
        // 2.57 s, q97 3.43 vs 1.89 s at sf0.1) — its per-round
        // convergence action over self-joining whole-node label frames
        // (viaNeighbor + viaJump + union + labelSum) loses more to
        // single-partition serialization than it saves in stage wakeups.
        // Decimal sum: label sums can exceed Long at planetary node counts,
        // and Spark 4 ANSI mode would throw on long-sum overflow.
        def labelSum(df: DataFrame): java.math.BigDecimal =
          df.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0)
        // Each label frame is a leaf whose persisted rows the labelSum
        // scan right after computes, so the next round's plan starts
        // from a leaf, not the whole iteration history.
        var labels = scope.leaf(
          ud.groupBy(col("src").as("node"))
            .agg(min(least(col("src"), col("dst"))).as("component")))
        var prevSum = labelSum(labels)
        var converged = false
        var iter = 0
        // One propagation round per leaf+sum action: staging two
        // rounds per action recomputed the inner round's frame for each
        // of the outer round's ~4 consumers — q51 6.28 s vs 2.64 s, q97
        // 6.01 s vs 2.33 s at sf0.1/32cpu.
        // One propagation round: neighbor min + POINTER JUMP (offer every
        // node its LABEL's label). Neighbor propagation alone moves the
        // min one hop per round — O(diameter) rounds, one Spark job per
        // hop, and a chain-shaped duplicate cluster (A≈B≈C≈… with no A≈C
        // edge, the shape drifting boilerplate produces) makes diameter
        // grow with corpus size. Labels are always ids of same-component
        // nodes, so label-of-label is a valid (smaller-or-equal) candidate
        // too, and chasing it halves the remaining distance per round —
        // O(log diameter) rounds (ConnCompSpec: a 200-edge path converges
        // inside the default 20-round budget, where neighbor-only
        // propagation needed one round per hop). The fixpoint test still
        // certifies full convergence: an unchanged sum means the neighbor
        // step alone found no improvement — the original component-min
        // fixpoint.
        def propagate(ls: DataFrame): DataFrame = {
          val viaNeighbor = ud
            .join(ls.withColumnRenamed("node", "dst"), Seq("dst"))
            .select(col("src").as("node"), col("component"))
          val viaJump = ls
            .join(
              ls.select(col("node").as("component"), col("component").as("jump")),
              Seq("component"))
            .select(col("node"), col("jump").as("component"))
          ls.unionByName(viaNeighbor)
            .unionByName(viaJump)
            .groupBy("node")
            .agg(min(col("component")).as("component"))
        }
        while (!converged && iter < maxIter) {
          val next = scope.leaf(propagate(labels))
          val nextSum = labelSum(next)
          scope.drop(labels)
          labels = next
          converged = nextSum.compareTo(prevSum) == 0
          prevSum = nextSum
          iter += 1
        }
        scope.drop(ud)
        if (!converged)
          throw new IllegalStateException(
            s"connectedComponents did not converge within $maxIter rounds — " +
              "raise maxIter (with pointer jumping, rounds needed ≈ log2 of the largest component's diameter)")
        labels
      }
    }
  }

  /** Canonical KEEP-LIST from near-duplicate pairs — the step that
    * turns pairwise dedup output into the per-document action a
    * pipeline actually executes (keep, or drop as a duplicate of a
    * canonical). [[connectedComponents]] over the undirected pair list
    * clusters transitive duplicates; each cluster keeps its min-id
    * member (the component label itself, by min-label construction),
    * and every corpus id absent from the pairs keeps itself as a
    * singleton.
    *
    * Scale shape: CC is O(diameter) bucketed join+agg rounds over the
    * EDGES (a vanishing fraction of the corpus); the labeling is one
    * left join of the corpus against the (small) component map — Spark
    * broadcasts it when it fits — plus one count aggregation on the
    * canonical id for cluster sizes. No all-pairs step, no driver-side
    * data.
    *
    * @param corpus frame holding one row per document
    * @param idCol  integral unique id column in `corpus`
    * @param pairs  two-column frame of near-dup pairs over those ids
    *               (any column names; each undirected pair once)
    * @return (idCol, canonical_id, cluster_size, keep) — one row per
    *         corpus row; `keep` ⇔ the row IS its cluster's canonical
    */
  def keepList(corpus: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val labeled = canonicalLabels(corpus, idCol, pairs)
    val sizes = labeled
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labeled
      .join(sizes, Seq("canonical_id"))
      .select(
        col(idCol),
        col("canonical_id"),
        col("cluster_size"),
        (col(idCol) === col("canonical_id")).as("keep"))
  }

  /** Leakage-safe train/validation split: assign every document to a
    * split by hashing its near-dup CLUSTER id, not its own id — a
    * per-document split leaks evaluation data whenever a validation
    * document has a near-duplicate in train (the reason dedup-aware
    * pipelines split by cluster). Singletons (no near-dup edge) hash
    * their own id, so the expected split fractions still hold.
    *
    * Deterministic: the split is a pure function of the canonical id
    * (md5-derived [[graft.functions.Hashing.h32]] mod 1000 vs
    * `valPermille`) — no RNG, stable across reruns and cluster sizes.
    * Scale shape: [[connectedComponents]] plus one left join — the
    * labels frame is the tiny side (only documents that appear in a
    * pair) and broadcasts.
    *
    * @return (idCol, canonical_id, split∈{train,val})
    */
  def leakageSafeSplit(
      corpus: DataFrame,
      idCol: String,
      pairs: DataFrame,
      valPermille: Int): DataFrame = {
    require(
      valPermille >= 0 && valPermille <= 1000,
      s"valPermille must be in [0, 1000] (got $valPermille)")
    canonicalLabels(corpus, idCol, pairs)
      .withColumn(
        "split",
        when(
          graft.functions.Hashing.h32(col("canonical_id").cast("string")) % 1000 < valPermille,
          lit("val")).otherwise(lit("train")))
      .select(col(idCol), col("canonical_id"), col("split"))
  }

  /** Cross-document SPAN dedup stats — dedup at sub-document
    * granularity (the C4/RefinedWeb substring-dedup shape): slide a
    * `window`-token span every `stride` tokens over each document,
    * hash each span ([[graft.functions.Hashing.h60]]), and report per
    * document how many of its spans are (a) non-first occurrences of
    * their span value corpus-wide (`n_dup` — the spans substring-dedup
    * would cut) and (b) boilerplate (`n_boiler` — span value appears
    * in ≥ `boilerplateDocs` DISTINCT documents). "First occurrence" is
    * the lexicographic-min (id, offset) — deterministic and
    * partitioning-invariant, no RNG, no timestamps.
    *
    * Only FULL windows are emitted (`floor((ntok - window)/stride)+1`
    * spans; documents shorter than `window` tokens have zero spans and
    * report clean with `dup_frac` 0.0) — ragged tails would make the
    * span set depend on document length parity in both engines.
    *
    * Scale shape: the expensive pass (tokenize + per-span md5 over the
    * whole corpus) runs ONCE and is immediately reduced by (hash, id)
    * — occurrence count plus earliest offset — so everything
    * downstream operates on the much smaller per-(value, document)
    * frame: one aggregation on the span hash derives first-occurrence
    * owner and distinct-document count, one equi-join back on the
    * hash, one aggregation on the document id. Keys are near-unique —
    * no skew; at 100 TB the only hot hashes are genuinely global
    * boilerplate spans, and those carry ONE row per (value, document)
    * here, not one per occurrence.
    *
    * `idCol` must be unique per document (same contract as
    * [[keepList]]) — duplicate ids would merge their span stats.
    *
    * @return (idCol, n_spans, n_dup, n_boiler, dup_frac)
    */
  def spanDedupStats(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      stride: Int,
      boilerplateDocs: Int): DataFrame = {
    require(stride >= 1 && window >= stride, s"need window >= stride >= 1 (got $window, $stride)")
    require(boilerplateDocs >= 2, s"need boilerplateDocs >= 2 (got $boilerplateDocs)")
    val toks = split(col(textCol), " ")
    // Spark's `/` is double division even on ints; the cast truncates
    // toward zero = floor here (numerator is non-negative under the
    // size >= window guard).
    val nSpans =
      when(size(toks) >= window, ((size(toks) - window) / stride).cast("int") + 1)
        .otherwise(lit(0))
    val sp = corpus
      .select(
        col(idCol).cast("long").as("__id"),
        toks.as("__toks"),
        explode(when(nSpans >= 1, sequence(lit(0), nSpans - 1)).otherwise(typedLit(Seq.empty[Int])))
          .as("__i"))
      .select(
        col("__id"),
        col("__i").cast("long").as("__i"),
        graft.functions.Hashing
          .h60(concat_ws(" ", slice(col("__toks"), col("__i") * stride + 1, lit(window))))
          .as("__h"))
    // Collapse occurrences to one row per (span value, document) right
    // after the md5 pass — the only shuffle the full span set crosses.
    val perValueDoc = sp
      .groupBy(col("__h"), col("__id"))
      .agg(count(lit(1)).as("__occ"), min(col("__i")).as("__mini"))
    val stats = perValueDoc
      .groupBy(col("__h"))
      .agg(
        // Lexicographic-min (id, earliest offset in that id) IS the
        // global first occurrence; one row per (value, doc) makes the
        // plain count the distinct-document count.
        min(struct(col("__id"), col("__mini"))).as("__first"),
        count(lit(1)).as("__nd"))
    val perDoc = perValueDoc
      .join(stats, Seq("__h"))
      .groupBy(col("__id"))
      .agg(
        sum(col("__occ")).as("n_spans"),
        // The first-occurrence owner has exactly one non-dup occurrence
        // (at __mini); every other occurrence anywhere is a dup.
        sum(
          when(col("__first").getField("__id") === col("__id"), col("__occ") - 1L)
            .otherwise(col("__occ"))).as("n_dup"),
        sum(when(col("__nd") >= boilerplateDocs, col("__occ")).otherwise(0L)).as("n_boiler"))
    corpus
      .select(col(idCol).cast("long").as(idCol))
      .join(perDoc.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn(
        "dup_frac",
        when(col("n_spans") > 0, col("n_dup").cast("double") / col("n_spans").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Blocked edit-distance similarity pairs — the ENTITY-RESOLUTION
    * candidate family (Fellegi–Sunter record linkage): distinct entity
    * strings that agree on a cheap blocking key and sit within
    * `maxDist` Levenshtein operations of each other. Complements the
    * other candidate generators — MinHash/SimHash (set/bit
    * similarity), winnowing (shared substrings), sorted-neighborhood
    * (rank adjacency, q145) — with EDIT similarity, the measure that
    * catches typos, dropped characters, and OCR noise none of the
    * token-set families see.
    *
    * Scale shape: the entity universe is deduped FIRST (one distinct
    * over the string column — entity mentions collapse before any
    * pairing, so a 100 TB corpus contributes only its distinct-name
    * set), then pairs come from an equi-join on the blocking key —
    * cross-block pairs never materialize, the standard ER blocking
    * move. Each block is quadratic in ITS OWN size only, and a
    * max-block-size gate throws on degenerate blocking (one giant
    * block = the accidental O(n²) this operator exists to prevent)
    * rather than hanging. The Levenshtein predicate is Spark's
    * codegen'd built-in, evaluated once per surviving pair.
    *
    * `blockOf` derives the blocking key from the (trimmed-as-given)
    * entity string — e.g. last token, first-k chars, phonetic bucket.
    * Returns (name_a, name_b, dist) with name_a < name_b, dist ≤
    * `maxDist`.
    */
  def editDistancePairs(
      entities: DataFrame,
      strCol: String,
      blockOf: Column => Column,
      maxDist: Int,
      maxBlockRows: Long = 100000L,
      distanceOn: Column => Column = (c: Column) => c): DataFrame = {
    require(maxDist >= 1 && maxDist <= 16,
      s"editDistancePairs: maxDist in [1,16]; got $maxDist")
    // The block-size gate action doubles as the cache pin: without the
    // persist, the distinct-name universe recomputes three times (gate
    // + both self-join sides) — the fan-out-recompute class the repo
    // pins against everywhere else. Released with the session's
    // releaseAllCaches on success; the gate's throw path (degenerate
    // blocking is an EXPECTED failure mode) releases it in LoopScope.run.
    LoopScope.run(entities.sparkSession) { scope =>
      val names = scope.cache(
        entities
          .select(col(strCol).cast("string").as("name"))
          .filter(col("name").isNotNull)
          .distinct()
          .withColumn("block", blockOf(col("name"))))
      val biggestRow = names.groupBy(col("block")).count().agg(max(col("count"))).first()
      val biggest = if (biggestRow.isNullAt(0)) 0L else biggestRow.getLong(0)
      require(biggest <= maxBlockRows,
        s"editDistancePairs: largest block has $biggest entities > maxBlockRows=$maxBlockRows — " +
          "blocking key too coarse (per-block pairing is quadratic in block size)")
      val a = names.select(col("block"), col("name").as("name_a"))
      val b = names.select(col("block"), col("name").as("name_b"))
      // `distanceOn` projects each side INSIDE the distance predicate
      // only — the entity universe stays raw, so two names differing
      // in different non-ASCII characters remain DISTINCT entities
      // even when a cross-engine alphabet fold (q158's ASCII sentinel)
      // maps them to the same folded form; such pairs surface at
      // dist 0 instead of silently merging (r10 VERDICT ask #5).
      a.join(b, Seq("block"))
        .filter(col("name_a") < col("name_b"))
        .withColumn(
          "dist",
          levenshtein(distanceOn(col("name_a")), distanceOn(col("name_b"))).cast("long"))
        .filter(col("dist") <= maxDist)
        .select(col("name_a"), col("name_b"), col("dist"))
    }._1
  }

  /** EXACT set-similarity join by prefix filtering (the AllPairs /
    * PPJoin family — Bayardo et al. 2007, Xiao et al. 2008): every
    * pair with token-set Jaccard ≥ tNum/tDen, with NO false negatives —
    * the exact counterpart of the approximate MinHash/SimHash families.
    *
    * The prefix lemma: order the token universe rarest-first (global
    * (df, token) order — rare-first minimizes candidates; ANY total
    * order is correct) and keep each document's first
    * `k = n − ⌈t·n⌉ + 1` tokens. If J(x,y) ≥ t the prefixes must share
    * a token, so the equi-join on prefix tokens is a complete candidate
    * generator whose volume tracks rare-token co-occurrence, not n².
    * Exact integer verification: J ≥ tNum/tDen ⟺
    * `tDen·|x∩y| ≥ tNum·(|x|+|y|−|x∩y|)` — no floating point.
    *
    * Scale shape: token ranks come from [[graft.operators.Relational.globalRowNumber]]
    * (windowless — a `ROW_NUMBER() OVER (ORDER BY df)` would
    * single-reduce a 100 TB vocabulary), the rank-sorted token arrays
    * build with one grouped sort, and the array frame is persisted
    * BEFORE the prefix explode (the InferFiltersFromGenerate trap).
    * Only candidate pairs pay the `array_intersect` verification.
    *
    * The verified OUTPUT is independent of the chosen global order —
    * order affects candidate volume only — which is what lets a
    * different engine (the DuckDB oracle's window formulation) arrive
    * at the identical pair set.
    *
    * `df` must carry `idCol` and an array column `tokensCol` of
    * DISTINCT tokens per row. Returns (id_a, id_b, inter, union_n)
    * with id_a < id_b, one row per qualifying pair.
    */
  def prefixFilterSimilarityJoin(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      tNum: Int,
      tDen: Int,
      rankPartitions: Int = 0): DataFrame = {
    val (arrs, cands) = prefixFilterBuild(df, idCol, tokensCol, tNum, tDen, rankPartitions)
    prefixFilterVerify(arrs, cands, tNum, tDen)
  }

  /** Candidate volume diagnostics for [[prefixFilterSimilarityJoin]]
    * — the at-scale evidence that the prefix filter actually PRUNES on
    * a given corpus (on a degenerate ~30-word vocabulary it can't:
    * every token is common, candidates ≈ all pairs — measured 12.5 M
    * on the sf0.1 fixture — which is why the q165 gate is sliced).
    * Returns one driver-side row (nDocs, allPairs, candidates,
    * verified). Candidate COUNT depends on the df-rank tie order, so
    * this is a probe, not an oracle surface; the verified count is
    * order-independent.
    */
  def prefixFilterSelectivity(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      tNum: Int,
      tDen: Int,
      rankPartitions: Int = 0): (Long, Long, Long, Long) = {
    val (arrs, cands) = prefixFilterBuild(df, idCol, tokensCol, tNum, tDen, rankPartitions)
    val n = arrs.count()
    val nCands = cands.count()
    val nVerified = prefixFilterVerify(arrs, cands, tNum, tDen).count()
    (n, n * (n - 1) / 2, nCands, nVerified)
  }

  /** Shared build: ranked-token arrays (persisted) + distinct
    * candidate id pairs from the prefix equi-join and AllPairs size
    * filter.
    */
  private def prefixFilterBuild(
      df: DataFrame,
      idCol: String,
      tokensCol: String,
      tNum: Int,
      tDen: Int,
      rankPartitions: Int): (DataFrame, DataFrame) = {
    require(tNum >= 1 && tDen >= 1 && tNum <= tDen, s"need 0 < tNum/tDen <= 1 (got $tNum/$tDen)")
    // The vocabulary-ranking sort is range-partitioned; at 100 TB the
    // token-df frame is billions of rows, so the partition count must
    // scale with the session, not a constant. 0 (the default) means
    // "inherit spark.sql.shuffle.partitions".
    val rankParts =
      if (rankPartitions > 0) rankPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // The corpus-wide token explode feeds TWO consumers (the
    // document-frequency pass and the rank-join array build) — persist
    // it so the corpus explodes once. InferFiltersFromGenerate note:
    // the inferred size(tokensCol)>0 conjunct under the explode
    // substitutes tokensCol's full expression per row, so a COMPUTED
    // token projection (q165 passes array_distinct(split(...))) is
    // re-evaluated once per row in the cache build — linear and
    // acceptable here, NOT the O(len²) winnow-class hazard; callers
    // passing genuinely expensive token expressions should stage them
    // as a materialized column first. The dfreq aggregation under
    // globalRowNumber's leaf materialization fills every cache
    // partition before the array build reads it.
    LoopScope.run(df.sparkSession) { scope =>
      val toks = scope.cache(df.select(col(idCol).as("__id"), explode(col(tokensCol)).as("token")))
      val dfreq = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val ranked = Relational
        .globalRowNumber(dfreq, "df", numPartitions = rankParts, outCol = "rank")
        .select(col("token"), col("rank"))
      val arrs = scope.cache(
        toks
          .join(ranked, Seq("token"))
          .groupBy(col("__id"))
          .agg(sort_array(collect_list(struct(col("rank"), col("token")))).as("ts"))
          .select(
            col("__id"),
            transform(col("ts"), x => x.getField("token")).as("toks"),
            size(col("ts")).cast("long").as("n"))
          .withColumn("k", col("n") - expr(s"($tNum * n + ${tDen - 1}) div $tDen") + 1L))
      arrs.count() // pin ONE evaluation before prefix + both verify sides read it
      // toks has no consumers past this point — release it here rather
      // than holding the operator's largest intermediate (the exploded
      // corpus) until the session sweep, where it would compete with
      // arrs and sibling caches for executor memory.
      scope.drop(toks)
      val prefix = arrs.select(
        col("__id"),
        col("n"),
        explode(slice(col("toks"), lit(1), col("k"))).as("token"))
      // Candidate join carries the AllPairs SIZE FILTER alongside the
      // prefix-token equality: J ≥ t forces inter ≥ t·max(|x|,|y|) and
      // inter ≤ min(|x|,|y|), so min·tDen ≥ max·tNum — pairs whose set
      // sizes differ more than the threshold allows never reach
      // verification. Correctness-preserving (a pruned pair provably
      // fails the gate); on near-uniform-vocabulary corpora this is the
      // filter still standing when rare-token selectivity degenerates.
      val cands = prefix
        .select(col("__id").as("id_a"), col("n").as("n_a"), col("token"))
        .join(
          prefix.select(col("__id").as("id_b"), col("n").as("n_b"), col("token")),
          Seq("token"))
        .filter(
          col("id_a") < col("id_b") &&
            col("n_a") * tDen >= col("n_b") * tNum &&
            col("n_b") * tDen >= col("n_a") * tNum)
        .select(col("id_a"), col("id_b"))
        .distinct()
      (arrs, cands)
    }._1
  }

  /** Exact integer verification of the candidate pairs against the
    * ranked-token arrays.
    */
  private def prefixFilterVerify(
      arrs: DataFrame,
      cands: DataFrame,
      tNum: Int,
      tDen: Int): DataFrame =
    cands
      .join(arrs.select(col("__id").as("id_a"), col("toks").as("toks_a"), col("n").as("n_a")), Seq("id_a"))
      .join(arrs.select(col("__id").as("id_b"), col("toks").as("toks_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))).cast("long"))
      .withColumn("union_n", col("n_a") + col("n_b") - col("inter"))
      .filter(col("inter") * tDen >= col("union_n") * tNum)
      .select(col("id_a"), col("id_b"), col("inter"), col("union_n"))

  /** One row per corpus id with its near-dup cluster's canonical id:
    * [[connectedComponents]] labels over `pairs` left-joined onto the
    * corpus; ids absent from the pairs are canonical to themselves.
    * The labels frame is the small side (only documents appearing in a
    * pair) and broadcasts when it fits. Shared by [[keepList]] and
    * [[leakageSafeSplit]] so the labeling semantics cannot diverge.
    */
  private def canonicalLabels(corpus: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    corpus
      .select(col(idCol).cast("long").as(idCol))
      .join(comps.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .withColumn("canonical_id", coalesce(col("component"), col(idCol)))
      .drop("component")
  }
}
