package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID
  * (marker-word + CJK heuristic), quality scoring, token counting, and
  * normalization. All pure per-row `Column` expressions — codegen'd,
  * shuffle-free, and embarrassingly parallel at any scale.
  *
  * Regexes are restricted to the POSIX-ish subset that Java regex
  * (Spark) and RE2 (DuckDB oracle) evaluate identically.
  */
object TextAnalysis {

  /** Marker vocabularies per language. Tiny on purpose: real language
    * ID would load larger profiles; the operator shape (count marker
    * hits per candidate language, argmax) is the same.
    */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"))

  /** Number of whitespace tokens that belong to `vocab` — one native
    * [[graft.functions.VocabHits]] byte walk per row (no token array,
    * stays in whole-stage codegen).
    */
  def markerHits(text: Column, vocab: Seq[String]): Column =
    call_function("graft_vocab_hits", text +: vocab.map(lit): _*)

  /** Composed-operator reference for [[markerHits]] (spec-only): the
    * interpreted split→filter→isin formulation the native kernel is
    * equivalence-gated against.
    */
  def hofMarkerHits(text: Column, vocab: Seq[String]): Column =
    size(filter(split(text, " "), t => t.isin(vocab.map(_.asInstanceOf[Any]): _*)))
      .cast("long")

  /** Count of CJK codepoints — the zh signal. */
  def cjkCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[\\x{4e00}-\\x{9fff}]"), lit(0))).cast("long")

  /** Predicted language: zh if any CJK, else the marker-argmax with a
    * fixed de > en > es > fr tie preference (deterministic CASE chain —
    * identical in the SQL oracle).
    */
  def predictLang(cjk: Column, de: Column, en: Column, es: Column, fr: Column): Column =
    when(cjk > 0, lit("zh"))
      .when(de >= en && de >= es && de >= fr, lit("de"))
      .when(en >= es && en >= fr, lit("en"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))

  /** Whitespace token count (split on single space — empty tokens from
    * runs of spaces count, matching DuckDB's string_split).
    */
  def wsTokenCount(text: Column): Column = size(split(text, " ")).cast("long")

  /** BPE-ish token count: alpha runs, digit runs, and single non-space
    * symbols each count as one token — the usual cheap proxy for
    * subword-tokenizer budgets.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))).cast("long")

  /** Lowercase-alpha character count. */
  def alphaCount(text: Column): Column =
    length(regexp_replace(text, "[^a-z]", "")).cast("long")

  /** Composite quality score in [0,1]:
    * 0.4·alpha_ratio + 0.3·min(1, tokens/100) + 0.3·(1 − stop_ratio).
    * Arithmetic is written identically in the oracle SQL, so the double
    * result is bit-equal.
    */
  def qualityScore(alphaRatio: Column, nTokens: Column, stopRatio: Column): Column =
    lit(0.4) * alphaRatio +
      lit(0.3) * least(lit(1.0), nTokens.cast("double") / lit(100.0)) +
      lit(0.3) * (lit(1.0) - stopRatio)

  /** Whitespace normalization: lowercase + collapse runs of whitespace
    * (the canonical form fingerprints and exact dedup hash over).
    * Uses the full Unicode `lower()` — fine for Spark-internal
    * canonicalization; a hash of this form compared against ANOTHER
    * engine must use [[graft.operators.Dedup.asciiFold]] instead
    * (U+0130's lowercase differs across engines).
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Overlapping sliding-window document chunking — the LLM-pipeline
    * pre-tokenization pass (context-window packing): chunk `g` covers
    * characters `[g*stride+1, g*stride+window]` (1-based, inclusive),
    * for `g in 0..floor((len-1)/stride)`, so consecutive chunks overlap
    * by `window - stride` characters and every character lands in ≥1
    * chunk. Pure generate-and-project (`sequence` + `explode`) — no
    * shuffle, embarrassingly parallel, and the per-row output size is
    * bounded by `len/stride`, so the operator streams at any scale.
    *
    * EMPTY documents yield ZERO chunk rows (there is nothing to pack;
    * this also matches DuckDB's `range(0, 0)`). Without the guard,
    * Spark's descending `sequence(0, -1)` would emit two bogus chunks
    * (ids 0 and −1) per empty document.
    *
    * Returns (all input columns, chunk_id, chunk) — one row per chunk.
    */
  def chunk(df: org.apache.spark.sql.DataFrame, textCol: String, window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(stride > 0 && window >= stride, "need window >= stride > 0")
    val nChunks = floor((length(col(textCol)) - 1).cast("double") / lit(stride.toDouble)).cast("long")
    df.withColumn(
        "chunk_id",
        explode(when(nChunks >= 0, sequence(lit(0L), nChunks)).otherwise(typedLit(Seq.empty[Long]))))
      .withColumn("chunk", col(textCol).substr((col("chunk_id") * stride + 1).cast("int"), lit(window)))
  }

  /** CONTENT-DEFINED segmentation stats (the rolling-hash chunking of
    * dedup-friendly storage: FastCDC/rsync's boundary rule): a segment
    * boundary falls wherever the h32 of the character `k`-gram starting
    * at that position ≡ 0 (mod `mod`), so boundaries depend only on
    * LOCAL content — insert one word at the head of a 100 TB shard and
    * every downstream segment hash survives, where [[chunk]]'s fixed
    * windows would all shift. Adds `n_seg` (boundary count + 1) and
    * `max_seg` (longest segment, in characters). Pure per-row array
    * expressions — no shuffle, no UDF; expected segment length ≈ `mod`
    * chars + gram width.
    *
    * Texts shorter than `k` have no grams, hence one segment spanning
    * the whole (possibly empty) text: `n_seg=1, max_seg=len`.
    */
  def cdcSegmentStats(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      k: Int,
      mod: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1 && mod >= 1, s"need gram width k >= 1 and modulus >= 1 (got k=$k, mod=$mod)")
    // Both stages native (graft_gram_hashes → graft_cdc_lens); the
    // lens array is the only staged column, referenced 2× (n_seg,
    // max_seg) — a non-cheap alias CollapseProject won't duplicate.
    // The coalesce mirrors the composed chain's NULL-text path: hash
    // array [] but length(text) NULL made the boundary concat produce
    // [0, null] and the diff chain [null] — n_seg=1, max_seg=null —
    // where the kernel null-propagates (see hofCdcSegLens, the
    // equivalence-gated composed reference). The md5-heavy pass is
    // spread beyond a single input split first (identity on any real
    // multi-split table).
    val spread = Relational.spreadFewSplits(df, df.columns.head)
    val out = spread
      .withColumn(
        "__cdc_lens",
        coalesce(
          call_function(
            "graft_cdc_lens",
            Dedup.charGramHashes(col(textCol), k),
            lit(mod),
            length(col(textCol)).cast("long")),
          array(lit(null).cast("long"))))
      .withColumn("n_seg", size(col("__cdc_lens")).cast("long"))
      .withColumn("max_seg", array_max(col("__cdc_lens")))
    out.drop("__cdc_lens")
  }

  /** Composed-operator reference for the boundary/diff stage of
    * [[cdcSegmentStats]] (spec-only): index-marking zip_with →
    * null filter → boundary concat → aligned-slice diffs, exactly the
    * pre-kernel formulation (including the NULL-length → [null]
    * corner the operator's coalesce replicates).
    */
  def hofCdcSegLens(hs: Column, mod: Int, len: Column): Column = {
    val bnd = when(
      size(hs) >= 1,
      filter(
        zip_with(
          hs,
          sequence(lit(1L), size(hs).cast("long")),
          (h, i) => when(h % mod === 0, i)),
        x => x.isNotNull))
      .otherwise(typedLit(Seq.empty[Long]))
    val allB = concat(array(lit(0L)), bnd, array(len))
    zip_with(
      slice(allB, lit(2), size(allB) - 1),
      slice(allB, lit(1), size(allB) - 1),
      (hi, lo) => hi - lo)
  }

  /** Sequence packing: assign documents to fixed-`seqLen` training
    * sequences by greedy in-order fill — the padding-minimization step
    * between tokenization and batching in an LLM data pipeline.
    *
    * Distributed shape: documents are sharded by `id % nShards` (bins
    * NEVER span shards — exactly how production packers shard), each
    * shard is packed by one linear greedy scan in document-id order: a
    * document goes into the current bin if it fits, else opens the
    * next. The scan is genuinely sequential state — the legitimate
    * `mapPartitions` case — but each shard is independent, so
    * parallelism is up to `nShards` and the only shuffle is the one
    * hash exchange on the shard key (hashed into `4 * nShards`
    * partitions: with exactly `nShards` partitions, hash collisions
    * would leave ~1/e of them empty and serialize 2-3 shards onto
    * others; at 4x, whole-shard-per-partition still holds and the
    * expected max load per partition is ~1 shard). At corpus scale,
    * set `nShards` to a small multiple of total cores.
    *
    * Token counts above `seqLen` are capped at `seqLen` (an oversize
    * document occupies a full bin on its own — the deterministic stand-
    * in for the tokenizer-side truncate/split policy). Deterministic
    * and partitioning-invariant: the shard assignment is a pure id
    * function and the per-shard order is total.
    *
    * @return (idCol, shard, n_tok, bin) — bin numbering restarts at 0
    *         per shard; (shard, bin) is the global sequence id
    */
  def packSequences(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Int,
      nShards: Int): org.apache.spark.sql.DataFrame =
    packSequencesByCount(
      df.withColumn("__ws_tok", wsTokenCount(col(textCol))),
      idCol, "__ws_tok", seqLen, nShards)

  /** [[packSequences]] over a PRECOMPUTED per-document token-count
    * column — the entry for EXACT tokenizer counts (q169 feeds
    * [[graft.functions.BpeTokens]] budgets through it; packSequences
    * delegates with the whitespace proxy). Same shard/greedy/cap
    * semantics; counts above `seqLen` cap at `seqLen`.
    */
  def packSequencesByCount(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      tokCountCol: String,
      seqLen: Int,
      nShards: Int): org.apache.spark.sql.DataFrame = {
    require(seqLen >= 1, s"need seqLen >= 1 (got $seqLen)")
    require(nShards >= 1, s"need nShards >= 1 (got $nShards)")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      col(idCol).cast("long").as("__id"),
      (col(idCol).cast("long") % nShards).cast("int").as("__shard"),
      least(col(tokCountCol).cast("long"), lit(seqLen.toLong)).as("__n"))
      .repartition(4 * nShards, col("__shard"))
      .sortWithinPartitions(col("__shard"), col("__id"))
      .as[(Long, Int, Long)]
      .mapPartitions { it =>
        // A partition holds whole shards (hash on shard key); reset the
        // greedy state at every shard boundary.
        var curShard = Int.MinValue
        var bin = 0L
        var fill = 0L
        it.map { case (id, shard, n) =>
          if (shard != curShard) { curShard = shard; bin = 0L; fill = 0L }
          if (fill + n <= seqLen) fill += n
          else { bin += 1; fill = n }
          (id, shard, n, bin)
        }
      }
      .toDF(idCol, "shard", "n_tok", "bin")
  }

  /** Benchmark-contamination screen: for every corpus document, the
    * fraction of its DISTINCT word `n`-grams that appear anywhere in
    * the eval set's n-gram universe — the standard train/test
    * decontamination method (flag or drop training documents whose
    * n-gram overlap with a benchmark exceeds a threshold).
    *
    * Scale shape: the eval universe (a benchmark suite — thousands of
    * documents) is tiny next to a training corpus, so it is distincted
    * once and BROADCAST; the corpus grams are computed in ONE pass
    * (tokenize + shingle + distinct per document), exploded, marked by
    * a map-side broadcast left join against the eval universe, and
    * reduced by one aggregation on the document id — no corpus-sized
    * shuffle of text, no self-join, no skew (n-gram keys are
    * near-unique). Documents shorter than `n` words have zero n-grams
    * (`explode_outer` keeps their row) and are reported clean with
    * `hit_rate` 0.0 (no division by zero under ANSI).
    *
    * `idCol` must be unique per corpus document (same contract as
    * [[Dedup.keepList]]) — duplicate ids would merge their gram
    * counts into one blended row.
    *
    * @return (idCol, n_grams, n_hit, hit_rate, contaminated)
    */
  def contaminationScreen(
      corpus: org.apache.spark.sql.DataFrame,
      evalSet: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"need gram width n >= 1 (got $n)")
    require(threshold >= 0.0 && threshold <= 1.0, s"threshold must be in [0, 1] (got $threshold)")
    val evalGrams = evalSet
      .select(explode(Dedup.wordNGrams(col(textCol), n)).as("__gram"))
      .distinct()
      .withColumn("__hit", lit(1))
    corpus
      // wordNGrams is per-document distinct, so the exploded row count
      // IS n_grams; explode_outer keeps zero-gram documents (null gram,
      // counted by neither aggregate).
      .select(col(idCol), explode_outer(Dedup.wordNGrams(col(textCol), n)).as("__gram"))
      .join(broadcast(evalGrams), Seq("__gram"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__gram")).as("n_grams"), count(col("__hit")).as("n_hit"))
      .withColumn(
        "hit_rate",
        when(col("n_grams") > 0, col("n_hit").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("contaminated", col("hit_rate") >= threshold)
  }

  /** Collocation mining: bigrams scored by LIFT — the exact-arithmetic
    * form of PMI (`PMI = log2(lift)`, monotone, so ranking by lift IS
    * ranking by PMI without a per-engine `log` in the gate):
    * `lift(a,b) = p(ab) / (p(a)·p(b)) = c_ab·N1² / (N2·c_a·c_b)`,
    * with unigram/bigram counts over the WHOLE corpus (multiplicity
    * kept — [[Dedup.wordNGramsAll]]). High-lift bigrams are the
    * multi-word units vocabulary induction promotes to single tokens.
    *
    * Scale shape: TWO corpus passes total (tokens, bigrams), each
    * reduced immediately by its key (classic partial-agg word count —
    * no skew beyond genuinely hot words, which partial aggregation
    * absorbs map-side). Both count tables PERSIST, because each has
    * multiple consumers — the unigram table feeds THREE (the `N1`
    * total and both component joins), the bigram table two (the `N2`
    * total and the scored rows) — and an unpersisted subplan would
    * re-run its corpus explode per consumer (five corpus passes
    * instead of two). The materialization is a constant visible at
    * fixture scale (README's q109 slope row) and the win at corpus
    * scale, where the explodes dominate the vocabulary-sized tables.
    * Release via [[collocationLiftReleasable]]'s targeted handle
    * (drops exactly these two tables) or the harness-wide
    * [[graft.GraftSession.releaseAllCaches]]. The unigram side joins
    * onto bigrams by each component (two equi-joins against the
    * vocabulary-sized table — Spark broadcasts it when it fits);
    * totals ride along as a broadcast single-row cross join.
    *
    * Numerators/denominators go through DECIMAL(38,0): exact while
    * `c_ab·N1² < 10^38` (≈ `N1·√c_ab < 10^19` — comfortable through
    * trillion-token corpora; a 10^14-token corpus with a 10^11-count
    * bigram overflows and fails FAST under ANSI in both engines
    * rather than silently rounding — at that scale compute the ratio
    * of per-key doubles instead).
    *
    * @param minCount drop bigrams with `c_ab` below this (rare-pair
    *                 lift is noise — the standard collocation floor)
    * @return (bigram, c_ab, c_a, c_b, lift), one row per distinct
    *         bigram with count ≥ minCount
    */
  def collocationLift(
      corpus: org.apache.spark.sql.DataFrame,
      textCol: String,
      minCount: Long): org.apache.spark.sql.DataFrame =
    collocationLiftReleasable(corpus, textCol, minCount)._1

  /** [[collocationLift]] with a targeted release handle — the
    * persist-inside-operator convention shared with
    * [[graft.operators.Dedup.connectedComponentsReleasable]] and
    * `Sources.jsonLinesWithErrors`: `release()` unpersists exactly the
    * two count tables this call registered, leaving any caches the
    * CALLER holds untouched (session-wide `releaseAllCaches` would
    * evict those too).
    */
  def collocationLiftReleasable(
      corpus: org.apache.spark.sql.DataFrame,
      textCol: String,
      minCount: Long): (org.apache.spark.sql.DataFrame, () => Unit) = {
    require(minCount >= 1, s"need minCount >= 1 (got $minCount)")
    val uni = corpus
      .select(explode(split(col(textCol), " ")).as("__w"))
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bi = corpus
      .select(explode(Dedup.wordNGramsAll(col(textCol), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("c_ab"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = uni
      .agg(sum(col("__c")).cast("long").as("__n1"))
      .crossJoin(bi.agg(sum(col("c_ab")).cast("long").as("__n2")))
    val dec = "decimal(38,0)"
    val scored = bi
      .filter(col("c_ab") >= minCount)
      .withColumn("__a", split(col("bigram"), " ").getItem(0))
      .withColumn("__b", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("__w").as("__a"), col("__c").as("c_a")), Seq("__a"))
      .join(uni.select(col("__w").as("__b"), col("__c").as("c_b")), Seq("__b"))
      .crossJoin(broadcast(totals))
      .withColumn(
        "lift",
        (col("c_ab").cast(dec) * col("__n1").cast(dec) * col("__n1").cast(dec)).cast("double") /
          (col("__n2").cast(dec) * col("c_a").cast(dec) * col("c_b").cast(dec)).cast("double"))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"), col("lift"))
    (scored, () => { uni.unpersist(): Unit; bi.unpersist(): Unit })
  }

  /** Importance-based data selection, the hashed-n-gram keep rule of
    * DSIR (Xie et al., "Data selection for language models via
    * importance resampling", NeurIPS 2023): score every document by
    * how much its hashed-bigram profile looks like a TARGET subset of
    * the corpus, and keep documents scoring above the corpus average.
    *
    * Mechanics: every bigram occurrence hashes into one of `buckets`
    * feature buckets ([[graft.functions.Hashing.h32]] mod buckets —
    * the DSIR hashed feature space). One corpus pass builds the
    * per-bucket occurrence counts under the target subset (`c_tgt`)
    * and the whole corpus (`c_all`); a document's score is then the
    * ratio of two sums over ITS bigram occurrences, `hits = Σ c_tgt`
    * vs `norm = Σ c_all` — the average target-share of the buckets the
    * document lives in. `keep ⇔ hits/norm ≥ T/C` (the corpus-wide
    * target share), evaluated as the integer cross-product
    * `hits·C ≥ norm·T` in DECIMAL(38,0): no division, no floats, so
    * the verdict is bit-identical in the SQL oracle and across
    * partitionings. (DSIR proper ranks by `Σ log(p_tgt/p_corpus)`;
    * the sum-of-counts ratio keeps the same "weight features by how
    * target-like they are" shape while staying integer-exact — the
    * log-space variant is a one-line swap where exactness can be
    * traded away.)
    *
    * Scale shape: the bucket table is at most `buckets` rows —
    * PERSISTED because it has two consumers (the totals row and the
    * per-document join; without it each consumer re-runs the corpus
    * explode), then BROADCAST into the per-document join. Two corpus
    * passes total, both reduced map-side; the only shuffle keyed on
    * `idCol`. Documents with no bigram (< 2 tokens) carry no evidence
    * and are dropped, matching SQL `unnest` semantics on empty lists.
    *
    * @param targetCol boolean column marking the target distribution
    *                  (e.g. `col("lang") === "en"`, a quality flag, …)
    * @return (idCol, hits, norm, keep) — one row per document with ≥ 1
    *         bigram
    */
  def importanceKeepRule(
      corpus: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      targetCol: Column,
      buckets: Int): org.apache.spark.sql.DataFrame =
    importanceKeepRuleReleasable(corpus, textCol, idCol, targetCol, buckets)._1

  /** [[importanceKeepRule]] with the targeted release handle (same
    * convention as [[collocationLiftReleasable]]): `release()` drops
    * exactly the bucket-count table this call persisted.
    */
  def importanceKeepRuleReleasable(
      corpus: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      targetCol: Column,
      buckets: Int): (org.apache.spark.sql.DataFrame, () => Unit) = {
    require(buckets >= 2, s"need buckets >= 2 (got $buckets)")
    val grams = corpus
      .select(col(idCol), targetCol.as("__tgt"), explode(Dedup.wordNGramsAll(col(textCol), 2)).as("__g"))
      .select(col(idCol), col("__tgt"), (graft.functions.Hashing.h32(col("__g")) % buckets).as("__bucket"))
    val bc = grams
      .groupBy(col("__bucket"))
      .agg(
        count(lit(1)).as("__c_all"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("__c_tgt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = bc.agg(
      sum(col("__c_all")).cast("long").as("__c_total"),
      sum(col("__c_tgt")).cast("long").as("__t_total"))
    val dec = "decimal(19,0)"
    val out = grams
      .join(broadcast(bc), Seq("__bucket"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__c_tgt")).cast("long").as("hits"),
        sum(col("__c_all")).cast("long").as("norm"))
      .crossJoin(broadcast(totals))
      .withColumn(
        "keep",
        col("hits").cast(dec) * col("__c_total").cast(dec) >=
          col("norm").cast(dec) * col("__t_total").cast(dec))
      .select(col(idCol), col("hits"), col("norm"), col("keep"))
    (out, () => bc.unpersist(): Unit)
  }

  /** Cross-source corpus-overlap matrix from bottom-k (KMV) sketches:
    * for every pair of sources, how many of the corpus' k smallest
    * distinct shingle hashes both sources contain — the fixed-size-
    * sketch estimate of content overlap between corpus slices (crawl
    * snapshots, domains, dumps), the triage step that decides which
    * slice PAIRS are worth a full cross-slice dedup run.
    *
    * Per source, [[graft.functions.KMinList]] keeps the k smallest
    * distinct [[graft.functions.Hashing.h60]] hashes of the word
    * `n`-gram shingles — ONE corpus pass, no distinct shuffle (the
    * bounded buffer absorbs duplicates map-side), k longs per source
    * on the wire. The sketch table (≤ sources·k rows) PERSISTS —
    * it is self-joined on the hash value, and each side would
    * otherwise re-run the corpus pass — then the pairwise counts are
    * a hash equi-join of two tiny tables. Raw intersection counts,
    * not a Jaccard ratio: counts are integer-exact across engines,
    * and the standard estimators (Beyer et al. 2007) derive from them
    * when a ratio is wanted.
    *
    * @return (src_a, src_b, overlap_k) for pairs with ≥ 1 shared
    *         bottom-k hash, `src_a < src_b`
    */
  def sourceOverlapKmv(
      corpus: org.apache.spark.sql.DataFrame,
      textCol: String,
      groupCol: String,
      n: Int,
      k: Int): org.apache.spark.sql.DataFrame =
    sourceOverlapKmvReleasable(corpus, textCol, groupCol, n, k)._1

  /** [[sourceOverlapKmv]] with the targeted release handle —
    * `release()` drops exactly the per-source sketch table.
    */
  def sourceOverlapKmvReleasable(
      corpus: org.apache.spark.sql.DataFrame,
      textCol: String,
      groupCol: String,
      n: Int,
      k: Int): (org.apache.spark.sql.DataFrame, () => Unit) = {
    require(n >= 1, s"need n >= 1 (got $n)")
    require(k >= 1, s"need k >= 1 (got $k)")
    val kml = udaf(new graft.functions.KMinList(k))
    val sketches = corpus
      .select(col(groupCol).as("__src"), explode(Dedup.wordNGramsAll(col(textCol), n)).as("__sh"))
      .select(col("__src"), graft.functions.Hashing.h60(col("__sh")).as("__h"))
      .groupBy(col("__src"))
      .agg(kml(col("__h")).as("__sketch"))
      .select(col("__src"), explode(col("__sketch")).as("__h"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = sketches
      .select(col("__src").as("src_a"), col("__h"))
      .join(sketches.select(col("__src").as("src_b"), col("__h")), Seq("__h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("overlap_k"))
    (out, () => sketches.unpersist(): Unit)
  }

  /** Retrieval-based data selection: BM25 relevance of every document
    * to a fixed query-term set — the "select pretraining data by
    * similarity to a trusted seed query" move (the lexical twin of
    * DSIR's hashed-n-gram importance rule, [[importanceKeepRule]]).
    *
    * INTEGER-EXACT variant of Robertson/Okapi BM25 with k1 = 6/5 and
    * b = 3/4: with N docs, S total tokens (so avgdl = S/N), per-doc
    * length dl and per-term tf/df, the textbook per-term score
    *
    *   idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/(S/N)))
    *
    * with the rational idf (N − df + ½)/(df + ½) = (2N−2df+1)/(2df+1)
    * reduces to the single integer fraction
    *
    *   (2N−2df+1) · 44·S·tf  /  (2df+1) · (20·S·tf + 6·S + 18·dl·N)
    *
    * which this operator floors at `scale` fixed-point precision:
    * per-term contribution `(scale·num) div den`, summed over the
    * query terms as BIGINT. No logs, no floats — the ranking is
    * bit-identical in the SQL oracle and across partitionings. (The
    * usual log-idf is monotone in the rational idf per term; the
    * fixed-point sum is the exactness-preserving aggregate.)
    *
    * Scale shape: ONE map-side corpus pass computes (dl, tf per term)
    * — the tf counts are per-row array folds over the |Q| literal
    * terms, no explode, no per-(doc,term) shuffle; ONE 1-row aggregate
    * collects (N, S, df per term) and broadcasts back; the score is a
    * pure projection. Nothing shuffles at corpus grain, so the plan is
    * two linear scans at any scale. |Q| is bounded (`require ≤ 64`) —
    * this is the "score against a seed query" operator, not a full
    * inverted index.
    *
    * @return (idCol, bm25) — every corpus row, score 0 when no query
    *         term occurs
    */
  def bm25Scores(
      corpus: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      terms: Seq[String],
      scale: Long = 1000000L): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(terms.distinct.size == terms.size, s"duplicate query terms: $terms")
    require(terms.size <= 64, s"bm25Scores is the seed-query scorer (|Q| <= 64); got ${terms.size}")
    val decStr = "decimal(38,0)"
    def d(c: Column): Column = c.cast(decStr)
    val base = corpus
      .withColumn("__toks", split(col(textCol), " "))
      .select(
        col(idCol) +:
          size(col("__toks")).cast("long").as("__dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(col("__toks"), x => x === lit(t))).cast("long").as(s"__tf$i")
          }: _*)
    val aggs =
      count(lit(1)).cast("long").as("__n") +:
        sum(col("__dl")).cast("long").as("__s") +:
        terms.indices.map(i => count_if(col(s"__tf$i") > 0).cast("long").as(s"__df$i"))
    val totals = base.agg(aggs.head, aggs.tail: _*)
    val n = col("__n")
    val sTot = col("__s")
    val withNumDen = terms.indices.foldLeft(base.crossJoin(broadcast(totals))) { (df, i) =>
      val tf = col(s"__tf$i")
      val df_ = col(s"__df$i")
      df.withColumn(
          s"__num$i",
          d(lit(scale)) * d(lit(2L) * n - lit(2L) * df_ + lit(1L)) * d(lit(44L)) * d(sTot) * d(tf))
        .withColumn(
          s"__den$i",
          d(lit(2L) * df_ + lit(1L)) *
            (d(lit(20L)) * d(sTot) * d(tf) + d(lit(6L)) * d(sTot) + d(lit(18L)) * d(col("__dl")) * d(n)))
    }
    val sumExpr = terms.indices.map(i => s"(__num$i div __den$i)").mkString(" + ")
    withNumDen.selectExpr(idCol, s"CAST($sumExpr AS BIGINT) AS bm25")
  }

  /** Exact phrase search over the corpus — the targeted-inspection /
    * decontamination probe ("which documents contain this exact
    * n-word phrase, how often"). Two stages, both scan-local:
    *
    *  1. conjunctive prefilter: `array_contains` per distinct phrase
    *     term — a cheap per-row scan that drops every document
    *     missing ANY term before position work happens (at corpus
    *     scale this is the posting-intersection step, done as a
    *     map-side predicate instead of an inverted-index join);
    *  2. positional verify: count alignment positions i where
    *     `toks[i+j] = phrase[j]` for all j — one `filter` over the
    *     1..len−k+1 index range per surviving row. No explode, no
    *     self-join on positions, no shuffle anywhere.
    *
    * Returns every conjunctive candidate with its exact phrase count
    * (candidates where the terms never align report 0 — the
    * conjunctive-vs-phrase distinction is part of the result).
    */
  def phraseMatch(
      corpus: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      phrase: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(phrase.size >= 2, s"phraseMatch wants a multi-word phrase (got $phrase)")
    require(phrase.forall(_.nonEmpty), s"empty phrase term in $phrase")
    val k = phrase.size
    val toks = col("__toks")
    // `when` guard: sequence() is DESCENDING when stop < start (the
    // q75 policy) — possible despite the prefilter when the phrase
    // repeats a word (distinct contains-checks < k tokens).
    val range = when(size(toks) >= k, sequence(lit(1), size(toks) - (k - 1)))
      .otherwise(array().cast("array<int>"))
    val aligned = (i: Column) =>
      phrase.zipWithIndex
        .map { case (t, j) => element_at(toks, i + j) === lit(t) }
        .reduce(_ && _)
    corpus
      .withColumn("__toks", split(col(textCol), " "))
      .filter(phrase.distinct.map(t => array_contains(toks, lit(t))).reduce(_ && _))
      .select(col(idCol), size(filter(range, aligned)).cast("long").as("n_phrase"))
  }

  /** Longest run of consecutive identical tokens — the degenerate-text
    * / looping-generation detector (model-generated spam and broken
    * scrapes repeat a token or phrase; C4-style pipelines drop docs
    * whose max run crosses a threshold). Complements q68's
    * unique-token ratio (global repetition) with ADJACENCY: "a b a b"
    * is fine here, "b b b" is not.
    *
    * One left fold over the token array per row — struct state
    * (prev, cur, best), O(len), no explode, no shuffle, no window: the
    * SQL gaps-and-islands formulation needs a per-token ROW_NUMBER
    * over the exploded corpus (that is the ORACLE's plan); at corpus
    * scale the fold is the one you want.
    */
  def maxTokenRun(text: Column): Column = {
    val toks = split(text, " ")
    aggregate(
      toks,
      struct(lit("").as("prev"), lit(0L).as("cur"), lit(0L).as("best")),
      (acc, x) => {
        val cur = when(x === acc.getField("prev"), acc.getField("cur") + 1L).otherwise(1L)
        struct(
          x.as("prev"),
          cur.as("cur"),
          greatest(acc.getField("best"), cur).as("best"))
      },
      acc => acc.getField("best"))
  }

  /** Highest multiplicity of any element in `arr` (0 for empty), via
    * the native codegen [[graft.functions.ArrayMaxMultiplicity]]
    * (`graft_max_mult`, registered by every [[graft.GraftSession]]):
    * sort brings equal elements adjacent, the longest equal-run IS the
    * max multiplicity. O(L log L) per row inside WholeStageCodegen —
    * the `aggregate(sort_array(...))` fold it replaced evaluated
    * interpreted AND ejected the whole projection from codegen (see
    * [[hofMaxMultiplicity]], kept as the fold reference the spec
    * cross-checks). Multiplicity, not identity: no tie-break exists,
    * so the value is deterministic cross-engine.
    */
  def maxMultiplicity(arr: Column): Column = call_function("graft_max_mult", arr)

  /** The HOF-fold formulation of [[maxMultiplicity]] — retained as the
    * independent reference implementation the spec equivalence-checks
    * the native expression against (and a worked example of the
    * argument-position fold discipline).
    */
  def hofMaxMultiplicity(arr: Column): Column =
    aggregate(
      sort_array(arr),
      struct(lit("").as("prev"), lit(0L).as("cur"), lit(0L).as("best")),
      (acc, x) => {
        val cur = when(x === acc.getField("prev"), acc.getField("cur") + 1L).otherwise(1L)
        struct(
          x.as("prev"),
          cur.as("cur"),
          greatest(acc.getField("best"), cur).as("best"))
      },
      acc => acc.getField("best"))

  /** Adjacent word-trigram array of a word array: three aligned slices
    * zipped pairwise — `words` appears only in argument position, so it
    * evaluates once however many slices read it; empty for < 3 words
    * (`greatest(n-2, 0)`-length slices).
    */
  def wordTrigrams(words: Column): Column = {
    val n3 = greatest(size(words) - 2, lit(0))
    val a = slice(words, lit(1), n3)
    val b = slice(words, lit(2), n3)
    val c = slice(words, lit(3), n3)
    zip_with(zip_with(a, b, (x, y) => concat(x, lit(" "), y)), c, (x, y) => concat(x, lit(" "), y))
  }

  /** Gopher-style per-document repetition signals (Rae et al. 2021's
    * quality heuristics: heavily self-repeating documents are
    * boilerplate/spam): appends raw counts — whitespace-word total and
    * distinct, max word multiplicity, trigram total and distinct — from
    * which the standard fractions (duplicate-word, top-word,
    * duplicate-trigram) derive as exact integer ppm. Pure per-row
    * array algebra: no explode, no shuffle, O(L log L) per document —
    * scan-speed at 100 TB. The word/trigram arrays are materialized
    * columns referenced twice or more, so CollapseProject can't inline
    * a copy per consumer.
    */
  def repetitionMetrics(
      df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn("__w", split(col(textCol), " "))
      .withColumn("__t", wordTrigrams(col("__w")))
      .withColumn("n_words", size(col("__w")).cast("long"))
      .withColumn("n_distinct_words", size(array_distinct(col("__w"))).cast("long"))
      .withColumn("top_word_mult", maxMultiplicity(col("__w")))
      .withColumn("n_trigrams", size(col("__t")).cast("long"))
      .withColumn("n_distinct_trigrams", size(array_distinct(col("__t"))).cast("long"))
      .drop("__w", "__t")

  /** The checked-in learned quality-filter weights (integer
    * micro-units), trained by `tools/make_classifier.py`: logistic
    * regression over hashed word-bigram bucket counts (q111's DSIR
    * feature space, `h32(bigram) % buckets`), distilling the q26
    * marker-heuristic verdict "predicted language is en" — the
    * FineWeb-Edu / DCLM pattern of distilling an expensive labeler
    * into a cheap hashed linear filter (90.6 % train agreement on the
    * fixture corpus). Returns (biasMicro, weightsMicro by bucket).
    */
  lazy val qualityClassifier: (Long, Array[Long]) = {
    val in = getClass.getResourceAsStream("/graft/quality_classifier.txt")
    require(in != null, "graft/quality_classifier.txt missing from classpath")
    try {
      val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      val bias = {
        val Array(tag, v) = lines.head.split('\t')
        require(tag == "bias", s"classifier fixture must start with a bias line, got $tag")
        v.toLong
      }
      val w = new Array[Long](lines.length - 1)
      lines.tail.foreach { l =>
        val Array(b, v) = l.split('\t')
        w(b.toInt) = v.toLong
      }
      (bias, w)
    } finally in.close()
  }

  /** Learned-classifier quality filtering (the DCLM / fastText-style
    * inference stage): per document, the exact-integer score of a
    * linear model over hashed word-bigram bucket features, and the
    * keep verdict `score > 0`.
    *
    * The trained model is `sigmoid(bias + Σ_b w_b · c_b / N)` with
    * `c_b` the doc's count of bucket `b` and `N = Σ c_b`; the verdict
    * `p > ½` cross-multiplies to the division-free integer test
    * `Σ(occurrence weights) + bias·N > 0` — with micro-unit integer
    * weights both engines reproduce the decision bit-for-bit (no
    * float sigmoid, no division). Documents with no bigram (< 2
    * tokens) score 0 and are NOT kept — too little content to judge,
    * the [[graft.operators.Dedup.charShingles]] policy.
    *
    * Scale shape: one corpus pass explodes bigrams, the weight table
    * (`buckets` rows) joins broadcast, and the per-doc sum is one
    * map-side-combined aggregate — nothing shuffles beyond doc grain;
    * the doc universe left-joins back so short docs keep a verdict.
    *
    * @param weightsMicro per-bucket weights (index = bucket); pass
    *        [[qualityClassifier]]._2 for the checked-in model
    * @param biasMicro intercept in the same micro-units
    */
  def classifierKeepRule(
      corpus: org.apache.spark.sql.DataFrame,
      textCol: String,
      idCol: String,
      weightsMicro: Array[Long],
      biasMicro: Long): org.apache.spark.sql.DataFrame = {
    require(weightsMicro.nonEmpty, "classifierKeepRule: empty weight table")
    val buckets = weightsMicro.length
    val spark = corpus.sparkSession
    import spark.implicits._
    val wts = weightsMicro.zipWithIndex
      .map { case (w, b) => (b.toLong, w) }
      .toSeq
      .toDF("__bucket", "__w")
    val universe = corpus.select(col(idCol))
    val per = corpus
      .select(col(idCol), explode(Dedup.wordNGramsAll(col(textCol), 2)).as("__g"))
      .select(col(idCol), (graft.functions.Hashing.h32(col("__g")) % buckets).as("__bucket"))
      .join(broadcast(wts), Seq("__bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("__w")).as("__raw"), count(lit(1)).as("__n"))
    universe
      .join(per, Seq(idCol), "left")
      .select(
        col(idCol),
        (coalesce(col("__raw"), lit(0L)) + lit(biasMicro) * coalesce(col("__n"), lit(0L)))
          .as("score_micro"),
        coalesce(col("__n"), lit(0L)).as("n_bigrams"))
      .withColumn("keep", col("score_micro") > 0L)
  }

  // ---- UTF-8 validity / mojibake screen (q179) ----------------------

  /** The "continuation byte read as text" character class: U+0080–BF
    * (latin-1 decoding of a UTF-8 continuation byte) plus the 27
    * printable characters Windows-1252 maps into 0x80–0x9F (€ ‚ ƒ „ …
    * † ‡ ˆ ‰ Š ‹ Œ Ž ‘ ’ " " • – — ˜ ™ š › œ ž Ÿ) — so both latin-1
    * and CP-1252 mojibake match. `\x{...}` escapes parse identically
    * in Java regex and RE2.
    */
  private val mojiContCls: String =
    "[\\x{0080}-\\x{00BF}" + Seq(
      0x20AC, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021, 0x02C6,
      0x2030, 0x0160, 0x2039, 0x0152, 0x017D, 0x2018, 0x2019, 0x201C,
      0x201D, 0x2022, 0x2013, 0x2014, 0x02DC, 0x2122, 0x0161, 0x203A,
      0x0153, 0x017E, 0x0178).map(c => f"\\x{$c%04X}").mkString + "]"

  /** Double-encoding signatures: a character that IS a UTF-8 lead
    * byte value (as latin-1/CP-1252 text) followed by the right
    * number of continuation-class characters — the shape ftfy and
    * every web-corpus mojibake screen keys on ("é" arriving as "Ã©",
    * "'" as "â€™"). Valid VARCHAR can't carry truncated/overlong
    * UTF-8 (both engines require well-formed strings — DuckDB rejects
    * the parquet otherwise), so what a decoder leaves behind —
    * U+FFFD replacements and these double-encode signatures — IS the
    * detectable residue.
    */
  final val Moji2Pat: String = s"[\\x{00C2}-\\x{00DF}]$mojiContCls"
  final val Moji3Pat: String = s"[\\x{00E0}-\\x{00EF}]$mojiContCls$mojiContCls"
  final val Moji4Pat: String = s"[\\x{00F0}-\\x{00F4}]$mojiContCls$mojiContCls$mojiContCls"

  /** Character class matching the latin-1/CP-1252 IMAGES of bytes in
    * [lo, hi] ⊆ [0x80, 0xBF]: the direct chars U+00lo–U+00hi (latin-1
    * mis-decode) plus, for the 0x80–0x9F overlap, the printable
    * Windows-1252 images (€ ‚ ƒ …). Built from the same table the
    * repair kernel inverts, so the regex and the walk can never
    * disagree.
    */
  private def imgCls(lo: Int, hi: Int): String = {
    require(lo >= 0x80 && hi <= 0xBF && lo <= hi)
    val cp1252 = (lo to math.min(hi, 0x9F))
      .map(b => graft.functions.FixMojibake.Cp1252Images.charAt(b - 0x80))
      .filter(_ != '\u0001')
      .map(c => f"\\x{${c.toInt}%04X}")
      .mkString
    f"[\\x{$lo%04X}-\\x{$hi%04X}$cp1252]"
  }

  /** Whole-document repair ELIGIBILITY: the text is ASCII plus
    * COMPLETE, WELL-FORMED double-encode sequences only — the
    * standard UTF-8 grammar (RFC 3629: overlongs, surrogates, and
    * > U+10FFFF excluded via the E0/ED/F0/F4 first-continuation
    * restrictions) transposed through the latin-1/CP-1252 image map.
    * Under this shape the inverse byte walk reconstructs VALID UTF-8
    * by construction, so both engines' repairs are total (the
    * oracle's `decode(unhex(...))` cannot throw) and they repair the
    * IDENTICAL document set. Legit accented text ("café",
    * "Ã la carte") has a lead-range char followed by ASCII →
    * ineligible → unchanged; a mixed doc (mojibake next to real
    * CJK/emoji) is also unchanged — the documented whole-doc scope
    * (ftfy repairs per-segment; a per-segment variant needs
    * computed-replacement regex neither engine has). Linear-time even
    * under Java's backtracking engine: the alternation's first-char
    * classes are disjoint, so each position admits at most one branch.
    */
  final val MojibakeEligiblePat: String = {
    val contAny = imgCls(0x80, 0xBF)
    val contE0 = imgCls(0xA0, 0xBF)
    val contED = imgCls(0x80, 0x9F)
    val contF0 = imgCls(0x90, 0xBF)
    val contF4 = imgCls(0x80, 0x8F)
    "^(?:[\\x{0000}-\\x{007F}]" +
      s"|[\\x{00C2}-\\x{00DF}]$contAny" +
      s"|\\x{00E0}$contE0$contAny" +
      s"|[\\x{00E1}-\\x{00EC}]$contAny$contAny" +
      s"|\\x{00ED}$contED$contAny" +
      s"|[\\x{00EE}-\\x{00EF}]$contAny$contAny" +
      s"|\\x{00F0}$contF0$contAny$contAny" +
      s"|[\\x{00F1}-\\x{00F3}]$contAny$contAny$contAny" +
      s"|\\x{00F4}$contF4$contAny$contAny)*$$"
  }

  /** Repaired text + changed flag: eligible docs run the
    * [[graft.functions.FixMojibake]] inverse walk; everything else
    * passes through. `repaired`/`fixed` column pair.
    */
  def mojibakeRepair(text: Column): Seq[Column] = {
    val eligible = text.rlike(MojibakeEligiblePat)
    val repaired =
      when(eligible, call_function("graft_fix_mojibake", text)).otherwise(text)
    Seq(
      repaired.as("repaired"),
      (eligible && repaired =!= text).as("fixed"))
  }

  /** Per-row encoding diagnostics: total chars, U+FFFD replacement
    * count (what a strict decoder emitted for invalid input), 2/3/4-
    * byte double-encode signature counts (non-overlapping leftmost
    * scan — identical in Java and RE2), and the suspect verdict.
    * Pure per-row expressions — no shuffle, linear per scan.
    */
  def encodingDiagnostics(text: Column): Seq[Column] = {
    def hits(pat: String): Column =
      size(regexp_extract_all(text, lit(pat), lit(0))).cast("long")
    val repl = (length(text) - length(replace(text, lit("\uFFFD"), lit("")))).cast("long")
    val m2 = hits(Moji2Pat)
    val m3 = hits(Moji3Pat)
    val m4 = hits(Moji4Pat)
    Seq(
      length(text).cast("long").as("n_chars"),
      repl.as("repl_chars"),
      m2.as("moji2"),
      m3.as("moji3"),
      m4.as("moji4"),
      (repl + m2 + m3 + m4 > 0L).as("suspect"))
  }
}
