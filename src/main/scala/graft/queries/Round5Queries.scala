package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Relational, Similarity, TextAnalysis}
import graft.queries.CoreQueries.Q

/** Round-5 surface (q88–q101): block-level boilerplate removal,
  * distributed global row numbering, deterministic weighted sampling,
  * content-defined (rolling-hash) segmentation, a composite C4-style
  * quality filter, the explicit Bloom runtime-filter join, equi-depth
  * histograms over sort-based exact quantiles, OOV-rate auditing,
  * Z-order clustering keys, the end-to-end near-dup removal pipeline,
  * int8-quantized integer-dot ANN, incremental (batch-vs-corpus)
  * dedup, the bigram-novelty perplexity proxy, and integer-exact
  * mixture rebalancing.
  *
  * Same determinism contract as the other catalogs: integer/decimal
  * outputs only, md5-derived hashes shared with the DuckDB oracle, no
  * engine-private RNG, ties always broken by a unique key.
  */
object Round5Queries {

  /** q88 — BLOCK-level boilerplate stats (the passage-granular twin of
    * document dedup — CCNet/Gopher drop repeated paragraphs, not whole
    * documents): split each document into non-overlapping 3-token
    * blocks, count each block's corpus document-frequency, and report
    * per document how many of its blocks are rare (df ≤ 2) — the
    * blocks a boilerplate-removal pass would KEEP. Candidate shape is
    * the equi-join on block text (LSH shape; the df filter bounds
    * every join bucket), df counting is one shuffle on the block hash.
    */
  val q88BlockBoilerplate: Q = (s, d) => {
    val b = 3
    // __toks referenced ≥2× (block builder + block count) so the
    // per-row split stays a materialized column, not a lambda inline
    // (HOF bodies re-evaluate per element — Dedup.charGramsAll note).
    val blocks = Relational
      .spreadFewSplits(Tables.documents(s, d), "doc_id")
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("__nb", expr(s"(size(__toks) + ${b - 1}) div $b"))
      .select(
        col("doc_id"),
        explode(
          transform(
            sequence(lit(0L), col("__nb").cast("long") - 1),
            i => array_join(slice(col("__toks"), (i * b + 1).cast("int"), lit(b)), " ")))
          .as("block"))
    val dfreq = blocks
      .groupBy(col("block"))
      .agg(countDistinct(col("doc_id")).as("dfreq"))
    blocks
      .join(dfreq, "block")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        count(when(col("dfreq") <= 2, 1)).as("n_kept"))
      .orderBy(col("doc_id"))
  }

  val q88Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |b AS (SELECT doc_id,
      |  unnest([array_to_string(ws[3*i+1 : 3*i+3], ' ')
      |          for i in range(0, CAST((len(ws)+2)//3 AS BIGINT))]) AS block
      | FROM w),
      |f AS (SELECT block, COUNT(DISTINCT doc_id) AS dfreq FROM b GROUP BY 1)
      |SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
      |  CAST(COUNT(*) FILTER (WHERE f.dfreq <= 2) AS BIGINT) AS n_kept
      |FROM b JOIN f USING (block)
      |GROUP BY 1 ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q89 — distributed global row numbering
    * ([[Relational.globalRowNumber]]): the same total order as
    * `row_number() OVER (ORDER BY doc_id)` but computed with
    * range-partition + per-partition offsets instead of the
    * single-reducer window — only the P partition counts touch the
    * driver. The PlanAudit asserts no single-partition Window appears.
    */
  val q89GlobalRn: Q = (s, d) =>
    Relational
      .globalRowNumber(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id",
        numPartitions = 8)
      .orderBy(col("rn"))

  val q89Sql: String =
    """SELECT doc_id, lang,
      |  CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS rn
      |FROM documents ORDER BY rn NULLS FIRST""".stripMargin

  /** q90 — DETERMINISTIC weighted Bernoulli sampling: select each
    * document with probability ∝ its token count, with the coin being
    * the document's own md5 — `h60("wsamp:"+id) < n_tok · C` is pure
    * integer arithmetic, so the sample is bit-identical across
    * engines, partitionings, and reruns (rejection-free, no RNG state;
    * the property `rand()`-based sampling cannot give a resumable
    * 100 TB pipeline). C = ⌊2^60 / 400⌋ targets rate ≈ n_tok/400.
    * n_tok is clamped to 400 before the multiply: rates above 1
    * saturate to keep-everything anyway, and the unclamped product
    * overflows Long for n_tok ≥ 3200 (throws under ANSI, silently
    * drops the highest-weight docs with ANSI off).
    */
  val q90WeightedSample: Q = (s, d) => {
    val C = 2882303761517117L // floor(2^60 / 400)
    // Raw scan: one split-count + one md5 per doc — the corpus
    // spread's exchange is overhead, not parallelism, here.
    Tables
      .table(s, d, "documents")
      .select(
        col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("n_tok"),
        graft.functions.Hashing.h60(concat(lit("wsamp:"), col("doc_id"))).as("__h"))
      .filter(col("__h") < least(col("n_tok"), lit(400L)) * lit(C))
      .select(col("doc_id"), col("n_tok"))
      .orderBy(col("doc_id"))
  }

  val q90Sql: String =
    """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |FROM documents
      |WHERE CAST('0x'||substr(md5('wsamp:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT)
      |      < LEAST(CAST(len(string_split(text, ' ')) AS BIGINT), 400) * 2882303761517117
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q91 — content-defined segmentation
    * ([[TextAnalysis.cdcSegmentStats]]): rolling-hash boundaries
    * (h32 of the char-8-gram ≡ 0 mod 64) give segments that survive
    * upstream edits — per-document n_seg and longest-segment length.
    */
  val q91CdcSegments: Q = (s, d) =>
    TextAnalysis
      .cdcSegmentStats(Tables.documents(s, d), "text", k = 8, mod = 64)
      .select(col("doc_id"), col("n_seg"), col("max_seg"))
      .orderBy(col("doc_id"))

  val q91Sql: String =
    s"""WITH g AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS L,
      |  [substr(${CoreQueries.foldSql("text")}, i, 8) for i in range(1, CAST(length(text)-6 AS BIGINT))] AS gs
      | FROM documents),
      |h AS (SELECT doc_id, L,
      |  list_transform(gs, t -> CAST('0x'||substr(md5(t),1,8) AS BIGINT)) AS hs FROM g),
      |b AS (SELECT doc_id, L,
      |  [CAST(i AS BIGINT) for i in range(1, len(hs)+1) if hs[i] % 64 = 0] AS bnd FROM h),
      |a AS (SELECT doc_id,
      |  list_concat(list_concat([CAST(0 AS BIGINT)], bnd), [L]) AS ab FROM b),
      |sg AS (SELECT doc_id, [ab[j+1] - ab[j] for j in range(1, len(ab))] AS lens FROM a)
      |SELECT doc_id, CAST(len(lens) AS BIGINT) AS n_seg, list_max(lens) AS max_seg
      |FROM sg ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q92 — composite C4-style QUALITY FILTER: the conjunctive
    * keep/drop verdict every pretraining pipeline applies before
    * tokenization — minimum length, maximum length, stopword evidence
    * ('the' as the English-function-word proxy), and a max-word-length
    * sanity rule — with the per-rule flags exposed so drops are
    * attributable (the filter-debugging contract: never a bare
    * boolean). Pure per-row expressions; at scale this is a
    * shuffle-free map over the corpus.
    */
  val q92QualityFilter: Q = (s, d) => {
    val toks = col("__toks")
    Relational
      .spreadFewSplits(Tables.documents(s, d), "doc_id")
      .withColumn("__toks", split(col("text"), " "))
      .withColumn("wc", size(toks).cast("long"))
      .withColumn("f_min_len", col("wc") >= 30)
      .withColumn("f_max_len", length(col("text")) <= 500)
      .withColumn("f_stopword", array_contains(toks, "the"))
      .withColumn("f_word_len", aggregate(toks, lit(0), (m, t) => greatest(m, length(t))) <= 12)
      .withColumn("keep", col("f_min_len") && col("f_max_len") && col("f_stopword") && col("f_word_len"))
      .select(col("doc_id"), col("wc"), col("f_min_len"), col("f_max_len"), col("f_stopword"), col("f_word_len"), col("keep"))
      .orderBy(col("doc_id"))
  }

  val q92Sql: String =
    """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
      |f AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS wc,
      |  len(ws) >= 30 AS f_min_len,
      |  length(text) <= 500 AS f_max_len,
      |  list_contains(ws, 'the') AS f_stopword,
      |  list_max(list_transform(ws, t -> length(t))) <= 12 AS f_word_len
      | FROM w)
      |SELECT doc_id, wc, f_min_len, f_max_len, f_stopword, f_word_len,
      |  (f_min_len AND f_max_len AND f_stopword AND f_word_len) AS keep
      |FROM f ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q93 — BLOOM-PRUNED join ([[Relational.bloomPrefilter]]): the
    * explicit runtime-filter: a 4096-bit md5-derived Bloom bitmap over
    * the filtered customer keys prunes orders BEFORE the join shuffle.
    * The oracle is the PLAIN join — Bloom false positives can only add
    * rows to the exact join's input, never change its output, which is
    * the whole safety argument for runtime filters.
    */
  val q93BloomJoin: Q = (s, d) => {
    val cust = Tables.customer(s, d).filter(col("c_nationkey") === 5)
    val pruned = Relational.bloomPrefilter(
      Tables.orders(s, d), "o_custkey", cust.select(col("c_custkey")), "c_custkey")
    pruned
      .join(cust, pruned("o_custkey") === cust("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), graft.functions.Scalars.sumDec(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  val q93Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_nationkey = 5
      |GROUP BY 1 ORDER BY o_orderpriority NULLS FIRST""".stripMargin

  /** q94 — EQUI-DEPTH histogram: exact quartile boundaries (one tiny
    * aggregate, broadcast back as a 1-row frame) bucket the full
    * column; counts per bucket. The shape of every optimizer's
    * equi-height statistics build. Exact `percentile` matches DuckDB's
    * `quantile_cont` bit-for-bit (pinned by q52).
    */
  val q94EquiDepth: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("v"))
    // Exact quartiles via distributed sort + order statistics
    // (Relational.exactQuantiles) — Spark's `percentile` aggregate
    // funnels every value into one merged map (measured 4.8 s here,
    // OOM at real scale); the sort-based exact method parallelizes.
    val bounds = Relational
      .exactQuantiles(li, "v", Seq(0.25, 0.50, 0.75))
      .select(col("q0").as("b1"), col("q1").as("b2"), col("q2").as("b3"))
    li.crossJoin(broadcast(bounds))
      .select(
        when(col("v") <= col("b1"), 0L)
          .when(col("v") <= col("b2"), 1L)
          .when(col("v") <= col("b3"), 2L)
          .otherwise(3L)
          .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  val q94Sql: String =
    """WITH b AS (SELECT quantile_cont(l_extendedprice, 0.25) AS b1,
      |                  quantile_cont(l_extendedprice, 0.50) AS b2,
      |                  quantile_cont(l_extendedprice, 0.75) AS b3 FROM lineitem)
      |SELECT CASE WHEN l_extendedprice <= b1 THEN 0
      |            WHEN l_extendedprice <= b2 THEN 1
      |            WHEN l_extendedprice <= b3 THEN 2 ELSE 3 END AS bucket,
      |  COUNT(*) AS n
      |FROM lineitem, b
      |GROUP BY 1 ORDER BY bucket NULLS FIRST""".stripMargin

  /** q95 — OOV (out-of-vocabulary) rate against a corpus-derived
    * vocabulary: top-20 tokens by frequency (ties by token — the
    * deterministic heavy-hitters draw), broadcast back, per-document
    * in/out token counts. The tokenizer-coverage audit run before
    * committing to a vocab; at scale the vocab is the tiny broadcast
    * side and the token stream never re-shuffles.
    */
  val q95OovRate: Q = (s, d) => {
    // Raw scan: whitespace tokenize + counts, no heavy per-row pass —
    // the corpus spread's exchange is overhead, not parallelism, here.
    val toks = Tables
      .table(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val vocab = toks
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(20)
      .select(col("tok"), lit(1).as("__in"))
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tok"),
        count(when(col("__in").isNull, 1)).as("n_oov"))
      .orderBy(col("doc_id"))
  }

  val q95Sql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |v AS (SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY 1
      |                       ORDER BY cnt DESC, tok LIMIT 20)),
      |m AS (SELECT t.doc_id, t.tok, v.tok IS NOT NULL AS hit
      |      FROM t LEFT JOIN v ON t.tok = v.tok)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
      |  CAST(COUNT(*) FILTER (WHERE NOT hit) AS BIGINT) AS n_oov
      |FROM m GROUP BY 1 ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q96 — Z-ORDER clustering audit ([[graft.functions.ZOrder]]):
    * z-value over (o_custkey mod 1024, o_orderkey mod 1024), bucketed
    * into 64 z-tiles; per tile the row count and the min/max of BOTH
    * source dimensions. The min/max spans are what a file-skipping
    * reader consults: z-tiles keep both spans narrow (≈ 128 of 1024
    * here), where a single-column sort leaves the other dimension's
    * span at full width — the measurable reason to ZORDER a 100 TB
    * table queried on two axes.
    */
  val q96ZOrder: Q = (s, d) => {
    import graft.functions.ZOrder
    Tables
      .orders(s, d)
      .select(
        (col("o_custkey") % 1024).as("a"),
        (col("o_orderkey") % 1024).as("b"))
      .withColumn("tile", (ZOrder.zValue(col("a"), col("b"), 10) / lit(16384)).cast("long"))
      .groupBy(col("tile"))
      .agg(
        count(lit(1)).as("n"),
        min(col("a")).as("min_a"),
        max(col("a")).as("max_a"),
        min(col("b")).as("min_b"),
        max(col("b")).as("max_b"))
      .orderBy(col("tile"))
  }

  val q96Sql: String = {
    val z = graft.functions.ZOrder.zValueSql("o_custkey % 1024", "o_orderkey % 1024", 10)
    s"""WITH zt AS (SELECT o_custkey % 1024 AS a, o_orderkey % 1024 AS b, ($z) AS z FROM orders)
       |SELECT z // 16384 AS tile, CAST(COUNT(*) AS BIGINT) AS n,
       |  MIN(a) AS min_a, MAX(a) AS max_a, MIN(b) AS min_b, MAX(b) AS max_b
       |FROM zt GROUP BY 1 ORDER BY tile NULLS FIRST""".stripMargin
  }

  /** q97 — the END-TO-END near-dup removal pipeline as ONE lazy plan:
    * shingle → MinHash(12) → LSH(3 bands) candidates → exact-Jaccard
    * verify (≥ 0.6) → connected components → drop non-canonical
    * members → surviving-corpus counts per language. Every stage is
    * the scale-shaped variant proven individually (q20/q22/q51/q58);
    * this query pins their COMPOSITION — the actual dedup job a
    * 100 TB corpus runs nightly, where only the candidate fraction
    * ever pays a pairwise cost and the pair space never materializes.
    */
  val q97DedupPipeline: Q = (s, d) => {
    val docs = Tables
      .documents(s, d)
      .filter(col("doc_id") < 1000)
      .select(col("doc_id"), col("lang"), col("text"))
    // The shingle frame feeds THREE consumers (signature build + both
    // verify sides): spread the few-splits input and persist ONE
    // h32-hashed long array (released by the harness sweep /
    // releaseAllCaches). Set Jaccard is invariant under the hash and
    // the verify join — both sides of every candidate pair — ships
    // int64s instead of raw 5-char strings (same rationale as q99;
    // the oracle applies the identical hash).
    val shingled = Relational
      .spreadFewSplits(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), Dedup.shingleHashes(col("text"), 5).as("hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = Dedup
      .minHashSignatureFromHashes(shingled, "doc_id", "hs", 12)
      .drop("hs")
    val cands = Dedup.lshCandidates(sig, "doc_id", 12, 3)
    val verified = cands
      .join(shingled.select(col("doc_id").as("id_a"), col("hs").as("sh_a")), "id_a")
      .join(shingled.select(col("doc_id").as("id_b"), col("hs").as("sh_b")), "id_b")
      .filter(Dedup.jaccard(col("sh_a"), col("sh_b")) >= 0.6)
      .select(col("id_a"), col("id_b"))
    val dupes = Dedup
      .connectedComponents(verified)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    docs
      .join(dupes, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("lang"))
  }

  val q97Sql: String = {
    val K = 12
    val bands = 3
    val rpb = K / bands
    val mhDefs = (0 until K)
      .map(j =>
        s" list_min(list_transform(hs, h -> (h * ${2L * j + 3} + ${5L * j + 7}) % ${graft.functions.Hashing.AffineP})) AS mh$j")
      .mkString(",\n")
    val bandCase = "CASE band " + (0 until bands)
      .map { b =>
        val cat = (b * rpb until (b + 1) * rpb).map(j => s"mh$j").mkString("||'_'||")
        if (b == bands - 1) s"ELSE md5($cat) END" else s"WHEN $b THEN md5($cat) "
      }
      .mkString
    s"""WITH RECURSIVE
       |d AS (SELECT doc_id, lang, list_distinct([substr(${CoreQueries.foldSql("text")}, i, 5) for i in range(1, len(text)-3)]) AS sh
       |      FROM documents WHERE doc_id < 1000),
       |dh AS (SELECT doc_id, list_distinct(list_transform(sh, t -> CAST('0x'||substr(md5(t),1,8) AS BIGINT))) AS hs FROM d),
       |s AS (SELECT doc_id, hs,
       |$mhDefs
       | FROM dh),
       |b AS (SELECT doc_id, band, $bandCase AS bv
       |      FROM s CROSS JOIN (SELECT unnest(range($bands)) AS band)),
       |p AS (SELECT DISTINCT a.doc_id AS da, c.doc_id AS db
       |      FROM b a JOIN b c ON a.band = c.band AND a.bv = c.bv AND a.doc_id < c.doc_id),
       |v AS (SELECT da, db FROM p JOIN s x ON p.da = x.doc_id JOIN s y ON p.db = y.doc_id
       |      WHERE 1.0*len(list_intersect(x.hs, y.hs))/len(list_distinct(x.hs||y.hs)) >= 0.6),
       |edges AS (SELECT da AS src, db AS dst FROM v UNION SELECT db, da FROM v),
       |walk(node, comp) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e2.dst, w.comp FROM walk w JOIN edges e2 ON e2.src = w.node),
       |lbl AS (SELECT node, MIN(comp) AS component FROM walk GROUP BY node),
       |dup AS (SELECT node AS doc_id FROM lbl WHERE node <> component)
       |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
       |FROM d LEFT JOIN dup USING (doc_id)
       |WHERE dup.doc_id IS NULL
       |GROUP BY 1 ORDER BY lang NULLS FIRST""".stripMargin
  }

  /** q98 — INT8-quantized ANN ([[Similarity.quantizeInt8]]): per-vector
    * max-abs quantization to [−127,127], then top-3 neighbors by exact
    * INTEGER dot product — the memory-bound scale path (4× smaller
    * vectors, integer SIMD) that real vector stores run, here with a
    * bit-exact oracle because every ranking input is a long.
    */
  val q98QuantAnn: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val q8 = Similarity
      .quantizeInt8(
        Relational.spreadFewSplits(Tables.embeddings(s, d), "vec_id"),
        "embedding",
        "q8")
      .select(col("vec_id"), col("q8"))
    val queries = q8.filter(col("vec_id") < 10).select(col("vec_id").as("query_id"), col("q8").as("qa"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("idot").desc, col("neighbor_id"))
    broadcast(queries)
      .join(
        q8.select(col("vec_id").as("neighbor_id"), col("q8").as("qb")),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), Similarity.dotInt(col("qa"), col("qb")).as("idot"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("query_id", "neighbor_id", "rank", "idot")
      .orderBy(col("query_id"), col("rank"))
  }

  val q98Sql: String =
    """WITH m AS (SELECT vec_id, embedding,
      |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx FROM embeddings),
      |q AS (SELECT vec_id,
      |  CASE WHEN mx = 0 THEN list_transform(embedding, x -> 0)
      |       ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx) + 0.5) AS INT)) END AS q8
      | FROM m),
      |x AS (SELECT vec_id, unnest(q8) AS v, generate_subscripts(q8,1) AS pos FROM q),
      |dp AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |        CAST(SUM(CAST(a.v AS BIGINT) * b.v) AS BIGINT) AS idot
      |       FROM x a JOIN x b ON a.pos = b.pos AND a.vec_id < 10 AND a.vec_id <> b.vec_id
      |       GROUP BY 1, 2),
      |r AS (SELECT query_id, neighbor_id, idot,
      |       CAST(row_number() OVER (PARTITION BY query_id ORDER BY idot DESC, neighbor_id) AS BIGINT) AS rank
      |      FROM dp)
      |SELECT query_id, neighbor_id, rank, idot FROM r WHERE rank <= 3
      |ORDER BY query_id NULLS FIRST, rank NULLS FIRST""".stripMargin

  /** q99 — INCREMENTAL dedup ([[Dedup.incrementalCandidates]]): a new
    * batch (doc_id ≥ 400) deduped AGAINST the existing corpus
    * (doc_id < 400) — the daily-ingest shape, where the candidate join
    * touches only the LSH buckets the batch lands in and the corpus is
    * never self-joined. Verified candidates (exact Jaccard ≥ 0.6)
    * mark the new doc a duplicate of its smallest matching corpus doc;
    * the rest of the batch is admitted. One row per batch doc.
    * The split is fixture-relative: sf0.01's documents table holds
    * doc_ids 0–499, so ≥ 400 yields a real ~100-doc batch (round 5's
    * ≥ 800 split selected zero rows and made the gate vacuous);
    * Verify additionally asserts q99 returns rows with at least one
    * is_dup = true so a fixture change can never silently re-vacuate
    * the gate.
    */
  val q99IncrementalDedup: Q = (s, d) => {
    val docs = Relational.spreadFewSplits(
      Tables.documents(s, d).filter(col("doc_id") < 1000).select(col("doc_id"), col("text")),
      "doc_id")
    // Shingles are hashed to their 32-bit md5 prefix ONCE and only the
    // long array is carried: the MinHash signature folds it directly
    // (minHashSignatureFromHashes) and the exact-Jaccard verify joins
    // it to both sides of every candidate pair. Set Jaccard is
    // preserved under the (injective-on-this-corpus) hash, the DuckDB
    // oracle applies the identical hash, and the verify shuffle ships
    // int64s instead of raw 5-char strings — round 6 measured the
    // raw-shingle form as the suite's heaviest shuffle and the source
    // of q99's rep-over-rep writeback-debt growth.
    val shingled = docs
      .select(col("doc_id"), Dedup.shingleHashes(col("text"), 5).as("hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = Dedup.minHashSignatureFromHashes(shingled, "doc_id", "hs", 12).drop("hs")
    val corpusSig = sig.filter(col("doc_id") < 400)
    val batchSig = sig.filter(col("doc_id") >= 400)
    val cands = Dedup.incrementalCandidates(batchSig, corpusSig, "doc_id", 12, 3)
    val verified = cands
      .join(shingled.select(col("doc_id").as("new_id"), col("hs").as("sh_n")), "new_id")
      .join(shingled.select(col("doc_id").as("old_id"), col("hs").as("sh_o")), "old_id")
      .filter(Dedup.jaccard(col("sh_n"), col("sh_o")) >= 0.6)
      .groupBy(col("new_id"))
      .agg(min(col("old_id")).as("dup_of"))
    docs
      .filter(col("doc_id") >= 400)
      .select(col("doc_id"))
      .join(verified.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
      .orderBy(col("doc_id"))
  }

  val q99Sql: String = {
    val K = 12
    val bands = 3
    val rpb = K / bands
    val mhDefs = (0 until K)
      .map(j =>
        s" list_min(list_transform(hs, h -> (h * ${2L * j + 3} + ${5L * j + 7}) % ${graft.functions.Hashing.AffineP})) AS mh$j")
      .mkString(",\n")
    val bandCase = "CASE band " + (0 until bands)
      .map { b =>
        val cat = (b * rpb until (b + 1) * rpb).map(j => s"mh$j").mkString("||'_'||")
        if (b == bands - 1) s"ELSE md5($cat) END" else s"WHEN $b THEN md5($cat) "
      }
      .mkString
    s"""WITH d AS (SELECT doc_id, list_distinct([substr(${CoreQueries.foldSql("text")}, i, 5) for i in range(1, len(text)-3)]) AS sh
       |           FROM documents WHERE doc_id < 1000),
       |dh AS (SELECT doc_id, list_distinct(list_transform(sh, t -> CAST('0x'||substr(md5(t),1,8) AS BIGINT))) AS hs FROM d),
       |s AS (SELECT doc_id, hs,
       |$mhDefs
       | FROM dh),
       |b AS (SELECT doc_id, band, $bandCase AS bv
       |      FROM s CROSS JOIN (SELECT unnest(range($bands)) AS band)),
       |p AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS old_id
       |      FROM b n JOIN b c ON n.band = c.band AND n.bv = c.bv
       |      WHERE n.doc_id >= 400 AND c.doc_id < 400),
       |v AS (SELECT new_id, MIN(old_id) AS dup_of
       |      FROM p JOIN s x ON p.new_id = x.doc_id JOIN s y ON p.old_id = y.doc_id
       |      WHERE 1.0*len(list_intersect(x.hs, y.hs))/len(list_distinct(x.hs||y.hs)) >= 0.6
       |      GROUP BY 1)
       |SELECT d.doc_id, v.dup_of IS NOT NULL AS is_dup, v.dup_of
       |FROM d LEFT JOIN v ON d.doc_id = v.new_id
       |WHERE d.doc_id >= 400
       |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  /** q100 — BIGRAM NOVELTY score: the integer-exact perplexity proxy.
    * A reference model is the train split's bigram table (hash split,
    * as q84/q87); each held-out document is scored by how many of its
    * word bigrams the train corpus has seen ≥ 3 times. Low coverage =
    * novel/noisy text — the cheap LM-free filter signal a pretraining
    * pipeline computes before paying for model-based scoring. All
    * counts are integers, so the gate is bit-exact where a log-prob
    * perplexity would be at the mercy of libm.
    */
  val q100BigramNovelty: Q = (s, d) => {
    val bucket = graft.functions.Hashing.h60(concat(lit("split:"), col("doc_id"))) % 100
    val grams = Relational
      .spreadFewSplits(Tables.documents(s, d), "doc_id")
      .select(col("doc_id"), bucket.as("bk"), explode(Dedup.wordNGramsAll(col("text"), 2)).as("bg"))
    val trainCounts = grams
      .filter(col("bk") < 90)
      .groupBy(col("bg"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 3)
      .select(col("bg"), lit(1).as("__known"))
    grams
      .filter(col("bk") >= 95)
      .join(trainCounts, Seq("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        count(when(col("__known").isNotNull, 1)).as("n_known"))
      .orderBy(col("doc_id"))
  }

  val q100Sql: String =
    """WITH b AS (SELECT doc_id, text,
      |  CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 100 AS bk
      | FROM documents),
      |w AS (SELECT doc_id, bk, string_split(text, ' ') AS ws FROM b),
      |g AS (SELECT doc_id, bk,
      |  unnest([ws[i]||' '||ws[i+1] for i in range(1, CAST(len(ws) AS BIGINT))]) AS bg
      | FROM w),
      |tc AS (SELECT bg FROM g WHERE bk < 90 GROUP BY bg HAVING COUNT(*) >= 3),
      |te AS (SELECT doc_id, g.bg, tc.bg IS NOT NULL AS known
      |       FROM g LEFT JOIN tc ON g.bg = tc.bg WHERE bk >= 95)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(COUNT(*) FILTER (WHERE known) AS BIGINT) AS n_known
      |FROM te GROUP BY 1 ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q101 — MIXTURE REBALANCING: resample each source toward a target
    * mixture (share ∝ source index + 1 here — the "upweight the good
    * sources" move every pretraining data recipe makes). Per-source
    * rate = target_share · N / n_s, applied as a deterministic
    * per-document coin: keep iff `h60 · 210 · n_s < (k+1) · N · 2^60`
    * — ALL INTEGER arithmetic (DECIMAL(38,0) / HUGEINT), so the
    * sampled set is bit-identical across engines and reruns, and rates
    * above 1 saturate to keep-everything naturally. One tiny counts
    * aggregate broadcast back; the corpus never reshuffles.
    */
  val q101MixtureRebalance: Q = (s, d) => {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val twoPow60 = lit("1152921504606846976").cast("decimal(38,0)")
    // Raw scan: metadata columns + one md5 coin per doc — the corpus
    // spread's exchange is overhead, not parallelism, here.
    val base = Tables
      .table(s, d, "documents")
      .select(
        col("doc_id"),
        col("source"),
        expr("CAST(substr(source, 4) AS BIGINT)").as("k"),
        graft.functions.Hashing.h60(concat(lit("mix:"), col("doc_id"))).as("__h"))
    val counts = base.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val total = base.agg(count(lit(1)).as("n_total"))
    base
      .join(broadcast(counts), "source")
      .crossJoin(broadcast(total))
      .withColumn(
        "keep",
        dec(col("__h")) * dec(col("n_s") * 210) <
          dec((col("k") + 1) * col("n_total")) * twoPow60)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_before"), count(when(col("keep"), 1)).as("n_after"))
      .orderBy(col("source"))
  }

  val q101Sql: String =
    """WITH d AS (SELECT doc_id, source, CAST(substr(source, 4) AS BIGINT) AS k,
      |  CAST('0x'||substr(md5('mix:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) AS h
      | FROM documents),
      |c AS (SELECT source, COUNT(*) AS n_s FROM d GROUP BY 1),
      |t AS (SELECT COUNT(*) AS n_total FROM d)
      |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_before,
      |  CAST(COUNT(*) FILTER (WHERE CAST(h AS HUGEINT) * (n_s * 210)
      |       < CAST((k+1) * n_total AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT)) AS BIGINT) AS n_after
      |FROM d JOIN c USING (source), t
      |GROUP BY 1 ORDER BY source NULLS FIRST""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q88_block_boilerplate", q88BlockBoilerplate, q88Sql),
    Query("q89_global_rn", q89GlobalRn, q89Sql),
    Query("q90_weighted_sample", q90WeightedSample, q90Sql),
    Query("q91_cdc_segments", q91CdcSegments, q91Sql),
    Query("q92_quality_filter", q92QualityFilter, q92Sql),
    Query("q93_bloom_join", q93BloomJoin, q93Sql),
    Query("q94_equidepth_hist", q94EquiDepth, q94Sql),
    Query("q95_oov_rate", q95OovRate, q95Sql),
    Query("q96_zorder", q96ZOrder, q96Sql),
    Query("q97_dedup_pipeline", q97DedupPipeline, q97Sql),
    Query("q98_quant_ann", q98QuantAnn, q98Sql),
    Query("q99_incremental_dedup", q99IncrementalDedup, q99Sql),
    Query("q100_bigram_novelty", q100BigramNovelty, q100Sql),
    Query("q101_mixture_rebalance", q101MixtureRebalance, q101Sql))
}
