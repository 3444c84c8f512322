package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Relational, Similarity}
import graft.queries.CoreQueries.Q

/** Round-9 surface — operator families the catalog lacked:
  *
  *  - q158 blocked edit-distance entity pairs (Fellegi–Sunter record
  *    linkage candidates): EDIT similarity, the measure that catches
  *    typos and dropped characters, which none of the token-set
  *    families (MinHash q20, SimHash q21, winnowing q79,
  *    sorted-neighborhood q145) can see;
  *  - q159 dominant Gram eigendirection by integer-rescaled power
  *    iteration: the spectral stage (whitening / anisotropy /
  *    "all-but-the-top" outlier direction) that q142's Gram matrix
  *    feeds;
  *  - q160/q162 data-layout primitives: z-order (multi-dimension
  *    file-skipping) and rendezvous-hash placement (minimal-disruption
  *    re-sharding);
  *  - q161 denylist redaction audit — the corpus-cleaning masking
  *    stage.
  */
object Round9Queries {

  /** q158 — fuzzy entity resolution over the part-name universe
    * ([[Dedup.editDistancePairs]]): entity mentions collapse to
    * distinct names with mention counts, blocking key = last token
    * (the product noun — "red plate"/"hot plate" share a block,
    * cross-noun pairs never materialize), pairs within Levenshtein 3.
    * The mention counts ride along so a downstream merge decision
    * sees how many fact rows each candidate would fold together.
    *
    * Scale: the pairing runs on the DISTINCT-name universe, not the
    * mention table — a 100 TB fact corpus contributes only its name
    * set, and the block equi-join keeps per-block work quadratic in
    * block size only (max-block gate in-operator).
    */
  val q158FuzzyEntities: Q = (s, d) => {
    // Three consumers (the operator's universe build + both
    // enrichment joins) — persist the tiny name aggregate so the part
    // scan runs once; pinned by the operator's block-gate action,
    // released by the session sweep.
    //
    // The entity universe groups by the RAW name (r10 VERDICT ask #5
    // — names differing only in different non-ASCII characters stay
    // DISTINCT entities with unmerged mention counts). The ASCII-
    // sentinel fold — the two engines implement Levenshtein over
    // different alphabets, Spark counting CODE POINTS where DuckDB
    // counts BYTES (measured: levenshtein('\u00e7old','cold') = 1 vs 2) —
    // now applies only INSIDE the distance predicate via the
    // operator's `distanceOn` hook, identically in the oracle SQL.
    // Replacing every non-ASCII code point with the single-byte
    // sentinel 0x7F makes byte \u2261 code-point distance on both sides;
    // the reported dist is the FOLDED distance, so raw-distinct names
    // with the same folded form surface as dist-0 pairs instead of
    // silently merging. The OPERATOR default keeps true code-point
    // distances (Round9OpsSpec's hand cases); the fold is this gate
    // query's cross-engine contract, and it under-counts only when
    // two DIFFERENT non-ASCII code points substitute for each other.
    val names = Tables.part(s, d)
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n"))
      .persist()
    val asciiSentinel =
      (c: org.apache.spark.sql.Column) => regexp_replace(c, "[^\\x00-\\x7F]", "\u007F")
    val pairs = Dedup.editDistancePairs(
      names, "name", n => regexp_extract(n, "[^ ]+$", 0), maxDist = 3,
      distanceOn = asciiSentinel)
    pairs
      .join(names.select(col("name").as("name_a"), col("n").as("rows_a")), Seq("name_a"))
      .join(names.select(col("name").as("name_b"), col("n").as("rows_b")), Seq("name_b"))
      .select(col("name_a"), col("name_b"), col("dist"), col("rows_a"), col("rows_b"))
      .orderBy(col("dist"), col("name_a"), col("name_b"))
  }

  /** Oracle: RAW-name universe and block, with the ASCII-sentinel
    * fold (DuckDB's `levenshtein` is BYTE-based where Spark's is
    * code-point-based — the fold makes the alphabets coincide)
    * applied only INSIDE the distance predicate, mirroring the
    * engine's `distanceOn` hook; dist cast to BIGINT to match the
    * engine's long (DuckDB returns INTEGER).
    */
  val q158Sql: String =
    """WITH e AS (SELECT p_name AS name, COUNT(*) AS n FROM part GROUP BY 1),
      |b AS (SELECT name, n, regexp_extract(name, '[^ ]+$') AS block,
      |             regexp_replace(name, '[^\x00-\x7f]', chr(127), 'g') AS fold FROM e)
      |SELECT a.name AS name_a, c.name AS name_b,
      |       CAST(levenshtein(a.fold, c.fold) AS BIGINT) AS dist,
      |       a.n AS rows_a, c.n AS rows_b
      |FROM b a JOIN b c ON a.block = c.block AND a.name < c.name
      |WHERE levenshtein(a.fold, c.fold) <= 3
      |ORDER BY dist, name_a NULLS FIRST, name_b NULLS FIRST""".stripMargin

  /** q159 — dominant eigendirection of the embedding Gram matrix
    * ([[Similarity.powerIterationDirection]], 2 rounds): the
    * direction embedding-space curation whitens against. Integer
    * micro-unit algebra end to end (quantized Gram, max-|component|
    * rescale through non-negative integral division) — bit-identical
    * across engines and partitionings, where float power iteration
    * could never be oracle-gated. 64 rows at the corpus dim.
    */
  val q159PowerIteration: Q = (s, d) =>
    Similarity
      .powerIterationDirection(Tables.embeddings(s, d), "embedding", iterations = 2)
      .orderBy(col("p"))

  /** Oracle: q142's decimal Gram CTE (1-based `generate_subscripts`
    * shifted to posexplode's 0-based), quantized and iterated with
    * the same sign-safe non-negative `//` ≡ `div` rescale; HUGEINT
    * intermediates cast back to BIGINT at every round boundary (the
    * q147/q154/q155 pandas-float64 lesson).
    */
  val q159Sql: String =
    """WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |                  (generate_subscripts(embedding, 1) - 1) AS pos FROM embeddings),
      |gu AS (SELECT a.pos AS p, b.pos AS q, SUM(CAST(a.v * b.v AS DECIMAL(28,10))) AS g
      |       FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.pos <= b.pos GROUP BY 1, 2),
      |gi AS (SELECT p, q, CAST(ROUND(g * 1000000) AS BIGINT) AS gw FROM gu),
      |gf AS (SELECT p, q, gw FROM gi UNION ALL SELECT q AS p, p AS q, gw FROM gi WHERE p <> q),
      |v0 AS (SELECT DISTINCT p AS q, CAST(1000000 AS BIGINT) AS v FROM gf),
      |w1 AS (SELECT gf.p, SUM(gf.gw * v0.v) AS w FROM gf JOIN v0 ON v0.q = gf.q GROUP BY 1),
      |m1 AS (SELECT MAX(abs(w)) AS mx FROM w1),
      |v1 AS (SELECT p AS q, CAST(CASE WHEN w < 0 THEN -((CAST(-w AS HUGEINT) * 1000000) // mx)
      |                           ELSE ((CAST(w AS HUGEINT) * 1000000) // mx) END AS BIGINT) AS v
      |       FROM w1, m1),
      |w2 AS (SELECT gf.p, SUM(gf.gw * v1.v) AS w FROM gf JOIN v1 ON v1.q = gf.q GROUP BY 1),
      |m2 AS (SELECT MAX(abs(w)) AS mx FROM w2),
      |v2 AS (SELECT p, CAST(CASE WHEN w < 0 THEN -((CAST(-w AS HUGEINT) * 1000000) // mx)
      |                           ELSE ((CAST(w AS HUGEINT) * 1000000) // mx) END AS BIGINT) AS dir
      |       FROM w2, m2)
      |SELECT p, dir FROM v2 ORDER BY p NULLS FIRST""".stripMargin

  /** q160 — z-order (Morton) layout audit ([[Relational.zOrderValue]],
    * 7 bits per dimension over (user mod 128, hour mod 128)): bucket
    * the event stream by 256-wide z-ranges and report each bucket's
    * 2-D bounding box. Every box comes back a ≤ 16×16 aligned
    * rectangle — the tight-both-dimensions min/max property that lets
    * a 100 TB scan skip files for 2-D predicates, which a
    * single-column sort gives only its own column. The executable
    * layout step is [[Relational.zOrderRepartition]] (spec-asserted:
    * range partitions inherit the same small boxes); this gate pins
    * the curve arithmetic itself, bit-for-bit.
    */
  val q160ZOrderLayout: Q = (s, d) => {
    val pts = Tables.events(s, d).select(
      (col("user_id") % 128).as("x"),
      expr("(ts_us div 3600000000) % 128").as("y"))
    pts
      .withColumn("zv", Relational.zOrderValue(col("x"), col("y"), bits = 7))
      .withColumn("bucket", expr("zv div 256"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .orderBy(col("bucket"))
  }

  /** Oracle: the identical 14-term interleave (every `>>`/`<<`/`&`
    * term fully parenthesized — Postgres-family grammars give
    * user-level operators equal left-associative precedence).
    */
  val q160Sql: String = {
    val terms = (0 until 7)
      .flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})"))
      .mkString(" + ")
    s"""WITH d AS (SELECT (user_id % 128) AS x,
       |                  ((epoch_us(ts) // 3600000000) % 128) AS y FROM events),
       |z AS (SELECT x, y, ($terms) AS zv FROM d)
       |SELECT (zv // 256) AS bucket, COUNT(*) AS n,
       |       MIN(x) AS x_min, MAX(x) AS x_max, MIN(y) AS y_min, MAX(y) AS y_max
       |FROM z GROUP BY 1 ORDER BY bucket NULLS FIRST""".stripMargin
  }

  /** q161 — denylist redaction audit: count and mask a broadcast-
    * literal term denylist (`\b`-bounded alternation — the Dolma/C4
    * cleaning stage shape: PII terms, boilerplate markers, banned
    * phrases) across the corpus and report per-(source, lang) blast
    * radius — documents touched, terms struck, characters the masked
    * text grows by. Pure per-row regex → one map-side-combined
    * aggregation: at 100 TB this is scan-speed, no shuffle beyond the
    * tiny (source, lang) rollup. All-integer outputs keep it
    * oracle-exact; `regexp_count`/`regexp_replace` and RE2's
    * `\b(...)\b` agree between engines on this word-per-space corpus.
    */
  val q161RedactionAudit: Q = (s, d) => {
    val pat = "\\b(customer|vector|spark)\\b"
    val scored = Tables.documents(s, d).select(
      col("source"),
      col("lang"),
      regexp_count(col("text"), lit(pat)).cast("long").as("hits"),
      (length(regexp_replace(col("text"), pat, "[REDACTED]")) - length(col("text")))
        .cast("long")
        .as("delta"))
    scored
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("hits") > 0, 1L).otherwise(0L)).as("docs_hit"),
        sum(col("hits")).as("terms_redacted"),
        sum(col("delta")).as("chars_added"))
      .orderBy(col("source"), col("lang"))
  }

  /** Oracle: identical RE2-compatible pattern; DuckDB needs the `'g'`
    * flag on `regexp_replace` (Spark replaces globally by default) and
    * counts via `len(regexp_extract_all)`. Integer SUMs cast back to
    * BIGINT (the q147/q154/q155 HUGEINT lesson).
    */
  val q161Sql: String =
    """WITH x AS (SELECT source, lang,
      |  len(regexp_extract_all(text, '\b(customer|vector|spark)\b')) AS hits,
      |  length(regexp_replace(text, '\b(customer|vector|spark)\b', '[REDACTED]', 'g'))
      |    - length(text) AS delta
      | FROM documents)
      |SELECT source, lang, COUNT(*) AS n_docs,
      |       CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
      |       CAST(SUM(hits) AS BIGINT) AS terms_redacted,
      |       CAST(SUM(delta) AS BIGINT) AS chars_added
      |FROM x GROUP BY 1, 2
      |ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin

  /** q162 — rendezvous (HRW) shard placement audit
    * ([[Relational.rendezvousShard]]): assign every document to its
    * 16-shard winner AND its 15-shard winner (shard 15 withdrawn) in
    * the same map-side pass, then roll up per shard. The
    * `n_docs_minus15` column pins the minimal-disruption property
    * numerically: for shards 0–14 it grows only by shard 15's
    * redistributed documents (every other document keeps its winner —
    * the withdrawn shard's hash entries simply drop out of the
    * `greatest` fold), while hash-mod re-sharding would re-home ~15/16
    * of the corpus. The spec asserts the per-document invariant;
    * this gate pins the hash arithmetic cross-engine.
    */
  val q162RendezvousShards: Q = (s, d) => {
    // ONE corpus pass: both winners computed in the same projection and
    // rolled up to the ≤ 16×15 (shard, shard15) pair grid map-side —
    // separate groupBys per winner would make Catalyst scan the parquet
    // twice. Both final rollups then read the tiny grid.
    val grid = Tables.documents(s, d)
      .select(
        Relational.rendezvousShard(col("doc_id"), 16).as("shard"),
        Relational.rendezvousShard(col("doc_id"), 15).as("shard15"))
      .groupBy(col("shard"), col("shard15"))
      .agg(count(lit(1)).as("n"))
      .persist()
    // Pin ONE evaluation before the two rollup branches fan out over
    // the cache — racing first-touch stages each recompute an uncached
    // upstream (the bfsDistances lesson), which here means re-scanning
    // the corpus.
    grid.count()
    val n16 = grid.groupBy(col("shard")).agg(sum(col("n")).as("n_docs"))
    val n15 = grid.groupBy(col("shard15").as("shard")).agg(sum(col("n")).as("n15"))
    n16
      .join(n15, Seq("shard"), "left")
      .select(col("shard"), col("n_docs"), coalesce(col("n15"), lit(0L)).as("n_docs_minus15"))
      .orderBy(col("shard"))
  }

  /** Oracle: explode-and-argmax formulation of the same winner —
    * `arg_max(shard, hash)` over a `range(16)` lateral, with the
    * 15-shard winner via an aggregate FILTER. Different plan shape,
    * same arithmetic: both engines compare lowercase-hex md5 of
    * identical `key:shard` strings.
    */
  val q162Sql: String =
    """WITH h AS (SELECT doc_id, r.shard,
      |    md5(CAST(doc_id AS VARCHAR) || ':' || CAST(r.shard AS VARCHAR)) AS hv
      |  FROM documents, range(16) r(shard)),
      |w AS (SELECT doc_id,
      |    arg_max(shard, hv) AS shard,
      |    arg_max(shard, hv) FILTER (WHERE shard <= 14) AS shard15
      |  FROM h GROUP BY doc_id),
      |a AS (SELECT shard, COUNT(*) AS n_docs FROM w GROUP BY 1),
      |b AS (SELECT shard15 AS shard, COUNT(*) AS n15 FROM w GROUP BY 1)
      |SELECT a.shard, a.n_docs, CAST(COALESCE(b.n15, 0) AS BIGINT) AS n_docs_minus15
      |FROM a LEFT JOIN b USING (shard)
      |ORDER BY shard NULLS FIRST""".stripMargin

  /** q163 — Gopher-style repetition filter signals
    * ([[TextAnalysis.repetitionMetrics]]): per-document duplicate-word,
    * top-word, and duplicate-trigram fractions as exact integer ppm —
    * the Rae et al. 2021 quality heuristics that gate self-repeating
    * boilerplate out of training corpora. Pure per-row array algebra
    * (no explode, no shuffle); the multiplicity fold outputs a COUNT,
    * not a winning word, so no tie-break can diverge cross-engine.
    */
  val q163RepetitionSignals: Q = (s, d) => {
    val m = graft.operators.TextAnalysis
      .repetitionMetrics(
        // NULL text filtered on BOTH sides: the engine would keep the row
        // with null metrics while the oracle's inner JOIN on the
        // multiplicity CTE would drop it — latent parity divergence.
        Tables.documents(s, d).select(col("doc_id"), col("text")).filter(col("text").isNotNull),
        "text")
    m.select(
      col("doc_id"),
      col("n_words"),
      expr("((n_words - n_distinct_words) * 1000000) div n_words").as("dup_word_ppm"),
      expr("(top_word_mult * 1000000) div n_words").as("top_word_ppm"),
      when(col("n_trigrams") >= 1L,
        expr("((n_trigrams - n_distinct_trigrams) * 1000000) div n_trigrams"))
        .otherwise(lit(0L))
        .as("dup_trigram_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: relational formulation of the same counts — unnest +
    * group-by multiplicities and a `generate_subscripts` self-join for
    * the trigrams (the engine's slice+zip_with, re-derived
    * independently); `string_split` matches Spark's `split` on
    * empty-token semantics. All-BIGINT ppm arithmetic.
    */
  val q163Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
      |       FROM documents WHERE text IS NOT NULL),
      |base AS (SELECT doc_id, len(ws) AS n_words,
      |                len(list_distinct(ws)) AS n_distinct FROM w),
      |u AS (SELECT doc_id, unnest(ws) AS word,
      |             generate_subscripts(ws, 1) AS o FROM w),
      |mult AS (SELECT doc_id, MAX(c) AS top_mult
      |         FROM (SELECT doc_id, word, COUNT(*) AS c FROM u GROUP BY 1, 2)
      |         GROUP BY 1),
      |tri AS (SELECT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS g
      |        FROM u a
      |        JOIN u b ON b.doc_id = a.doc_id AND b.o = a.o + 1
      |        JOIN u c ON c.doc_id = a.doc_id AND c.o = a.o + 2),
      |tstat AS (SELECT doc_id, COUNT(*) AS n3, COUNT(DISTINCT g) AS n3d
      |          FROM tri GROUP BY 1)
      |SELECT b.doc_id, CAST(b.n_words AS BIGINT) AS n_words,
      |  CAST(((b.n_words - b.n_distinct) * 1000000) // b.n_words AS BIGINT) AS dup_word_ppm,
      |  CAST((m.top_mult * 1000000) // b.n_words AS BIGINT) AS top_word_ppm,
      |  CAST(CASE WHEN t.n3 >= 1 THEN ((t.n3 - t.n3d) * 1000000) // t.n3
      |            ELSE 0 END AS BIGINT) AS dup_trigram_ppm
      |FROM base b
      |JOIN mult m USING (doc_id)
      |LEFT JOIN tstat t USING (doc_id)
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q164 — weighted systematic sampling (Madow's method, offset 0)
    * over the document corpus, weight = `n_chars`: lay every document
    * on the cumulative-weight axis via [[Relational.prefixSum]] — the
    * windowless distributed prefix sum; `SUM(w) OVER (ORDER BY k)`
    * would funnel 100 TB through one reducer — then keep the documents
    * whose half-open interval `[cumw, cumw + w)` contains a multiple
    * of `stride = W div 50`. `n_hits = (cumw+w) div stride − cumw div
    * stride` (all terms non-negative, so Spark's truncating `div` and
    * DuckDB's flooring `//` agree) gives inclusion proportional to
    * weight with ~50 draws, exactly — no floating point, no RNG, so
    * the sample is reproducible across engines, partitionings, and
    * reruns. The only driver traffic beyond prefixSum's P partition
    * totals is the 1-row total-weight max.
    */
  val q164WeightedSample: Q = (s, d) => {
    // measurable rows only: a NULL weight throws in prefixSum by design
    val docs = Tables.documents(s, d)
      .filter(col("n_chars").isNotNull)
      .select(col("doc_id"), col("n_chars").as("w"))
    val c = Relational.prefixSum(docs, "doc_id", "w", numPartitions = 8)
    val totRow = c.agg(max(col("cumw") + col("w"))).first()
    // A null max means an empty corpus — fail with the contract message,
    // not an opaque NPE from getLong.
    val tot = if (totRow.isNullAt(0)) 0L else totRow.getLong(0)
    val stride = tot / 50L
    require(stride >= 1L, s"q164: total weight $tot too small for 50 strata")
    c.select(
      col("doc_id"),
      col("w"),
      col("cumw"),
      expr(s"(cumw + w) div $stride - cumw div $stride").as("n_hits"))
      .filter(col("n_hits") >= 1L)
      .orderBy(col("doc_id"))
  }

  /** Oracle: the single-reducer window formulation of the same
    * cumulative axis (fine at oracle scale, the exact shape the engine
    * avoids); HUGEINT window/total SUMs cast back to BIGINT.
    */
  val q164Sql: String =
    """WITH w AS (SELECT doc_id, n_chars AS w FROM documents WHERE n_chars IS NOT NULL),
      |c AS (SELECT doc_id, w,
      |        CAST(COALESCE(SUM(w) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumw
      |      FROM w),
      |t AS (SELECT CAST(CAST(SUM(w) AS BIGINT) // 50 AS BIGINT) AS stride FROM w)
      |SELECT c.doc_id, c.w, c.cumw,
      |       CAST((c.cumw + c.w) // t.stride - c.cumw // t.stride AS BIGINT) AS n_hits
      |FROM c, t
      |WHERE (c.cumw + c.w) // t.stride > c.cumw // t.stride
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q165 — EXACT set-similarity self-join
    * ([[Dedup.prefixFilterSimilarityJoin]], AllPairs/PPJoin prefix
    * filtering, Jaccard ≥ 19/20): every document pair whose distinct
    * token sets agree to 95%, with NO false negatives — the exact
    * counterpart the approximate families (MinHash q20, SimHash q21)
    * can't promise. Candidates come from an equi-join on rarest-first
    * token prefixes; the verified output is provably independent of
    * the global token order, so the oracle's window-formulated
    * candidates converge to the identical pair set.
    *
    * Gated on the first ≤1000 documents: the synthetic corpus draws
    * every document from a ~30-word vocabulary, so NO global order has
    * rare tokens and prefix filtering degenerates to near-all-pairs
    * (measured 12.5 M candidates / 191 k qualifying pairs at sf0.1
    * unsliced — a property of this fixture's vocabulary, not of the
    * operator; `Round9OpsSpec` proves exactness against brute force on
    * realistic random sets). The operator's AllPairs size filter is
    * the prune still standing here (sliced gate 3.8 → 2.4 s when it
    * landed). The slice keeps the gate a fixed-size arithmetic pin at
    * every sf.
    */
  val q165ExactSimilarityJoin: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") < 1000L)
      .select(
        col("doc_id"),
        array_distinct(split(col("text"), " ")).as("toks"))
    Dedup
      .prefixFilterSimilarityJoin(docs, "doc_id", "toks", tNum = 19, tDen = 20)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Oracle: same prefix lemma through the window formulation
    * (`ROW_NUMBER` per doc over the global (df, token) order — fine at
    * oracle scale, the single-reducer shape the engine's
    * globalRowNumber avoids); integer-exact threshold
    * `20·inter ≥ 19·union`. COUNTs cast to BIGINT.
    */
  val q165Sql: String =
    """WITH toks AS (SELECT doc_id,
      |         unnest(list_distinct(string_split(text, ' '))) AS token
      |       FROM documents WHERE doc_id < 1000),
      |dfreq AS (SELECT token, COUNT(*) AS df FROM toks GROUP BY 1),
      |nn AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY 1),
      |tr AS (SELECT t.doc_id, t.token,
      |         ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY r.df, r.token) AS pos
      |       FROM toks t JOIN dfreq r USING (token)),
      |pre AS (SELECT tr.doc_id, tr.token FROM tr JOIN nn USING (doc_id)
      |        WHERE tr.pos <= nn.n - ((19 * nn.n + 19) // 20) + 1),
      |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |         FROM pre a JOIN pre b ON a.token = b.token AND a.doc_id < b.doc_id),
      |inter AS (SELECT c.id_a, c.id_b, COUNT(*) AS i
      |          FROM cand c
      |          JOIN toks ta ON ta.doc_id = c.id_a
      |          JOIN toks tb ON tb.doc_id = c.id_b AND tb.token = ta.token
      |          GROUP BY 1, 2)
      |SELECT i.id_a, i.id_b, CAST(i.i AS BIGINT) AS inter,
      |       CAST(na.n + nb.n - i.i AS BIGINT) AS union_n
      |FROM inter i
      |JOIN nn na ON na.doc_id = i.id_a
      |JOIN nn nb ON nb.doc_id = i.id_b
      |WHERE 20 * i.i >= 19 * (na.n + nb.n - i.i)
      |ORDER BY id_a NULLS FIRST, id_b NULLS FIRST""".stripMargin

  /** q166 — order-independent table checksums
    * ([[Relational.tableChecksum]]): one BIGINT per table that any
    * faithful copy reproduces regardless of row order, partitioning,
    * file layout, or engine — the migration-validation primitive
    * (compare a 100 TB estate to its re-encoded/re-sharded copy with
    * one scan per side and a scalar diff). Commutative modular sum of
    * per-row h60 hashes; columns restricted to engine-exact string
    * renderings (integers, strings, dates — no doubles).
    */
  val q166TableChecksums: Q = (s, d) => {
    val o = Relational
      .tableChecksum(
        Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"))
      .select(lit("orders").as("tbl"), col("n_rows"), col("checksum"))
    val doc = Relational
      .tableChecksum(
        Tables.documents(s, d),
        Seq("doc_id", "lang", "source", "n_chars"))
      .select(lit("documents").as("tbl"), col("n_rows"), col("checksum"))
    o.unionByName(doc).orderBy(col("tbl"))
  }

  /** Oracle: the h60 DuckDB twin (`'0x' || substr(md5(...), 1, 15)`)
    * over the identical `|`-separated, chr(0)-null-sentinel rendering;
    * HUGEINT sum reduced mod the same Mersenne prime and cast BIGINT.
    */
  val q166Sql: String = {
    def render(cols: Seq[String]): String =
      cols
        .map(c => s"COALESCE(CAST($c AS VARCHAR), chr(0))")
        .mkString(" || '|' || ")
    def one(tbl: String, cols: Seq[String]): String =
      s"""SELECT '$tbl' AS tbl, COUNT(*) AS n_rows,
         |  CAST(SUM(CAST('0x' || substr(md5(${render(cols)}), 1, 15) AS BIGINT))
         |       % 2305843009213693951 AS BIGINT) AS checksum
         |FROM $tbl""".stripMargin
    one("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")) +
      "\nUNION ALL\n" +
      one("documents", Seq("doc_id", "lang", "source", "n_chars")) +
      "\nORDER BY tbl NULLS FIRST"
  }

  val queries: Seq[Query] = Seq(
    Query("q158_fuzzy_entity_pairs", q158FuzzyEntities, q158Sql),
    Query("q159_power_iteration", q159PowerIteration, q159Sql),
    Query("q160_zorder_layout", q160ZOrderLayout, q160Sql),
    Query("q161_redaction_audit", q161RedactionAudit, q161Sql),
    Query("q162_rendezvous_shards", q162RendezvousShards, q162Sql),
    Query("q163_repetition_signals", q163RepetitionSignals, q163Sql),
    Query("q164_weighted_sample", q164WeightedSample, q164Sql),
    Query("q165_exact_simjoin", q165ExactSimilarityJoin, q165Sql),
    Query("q166_table_checksums", q166TableChecksums, q166Sql))
}
